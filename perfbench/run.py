#!/usr/bin/env python3
"""Workload benchmark for the graft document store and LLM-data pipeline.

    python3 perfbench/run.py --workload serve|pipeline --seed N \\
        --seconds S --trace 0|1

Run from the repository root.  The first run builds the engine and the
benchmark's JVM program from source (sbt, offline) into ``perfbench/target``;
later runs reuse the build while the sources are unchanged.  Each run
generates its inputs from the seed into a private directory under
``.perfbench/runs``, drives one JVM (``local[<cores>]``, one client thread),
checks every answer, deletes the directory, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (``--trace 0``) or its
per-layer metrics (``--trace 1``).  The line before it is a detail record:
per-kind latencies, the per-workload metrics by name and unit, failing
checks, box load, and (traced) the self-time summary per layer.  The full
span trace of a traced run is kept in ``.perfbench/last-trace.jsonl``.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_LIMIT_S = 150
BUILD_LIMIT_S = 840

sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def _source_files():
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def build():
    """Compile engine + benchmark unless the sources are unchanged since the
    last build; return the runtime classpath."""
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    bdir = os.path.join(WORK, "build")
    cp_file = os.path.join(bdir, "classpath")
    stamp_file = os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    # never resolve anything over the network: the build uses what the
    # local dependency cache already holds
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(bdir, "tmp")  # sbt's sockets and scratch stay in the checkout
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = f"{env.get('SBT_OPTS', '')} -Dsbt.offline=true -Djava.io.tmpdir={tmp}".strip()
    log = os.path.join(bdir, "sbt.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=out, text=True,
                           timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
        out.write(p.stdout)
    lines = [line for line in p.stdout.splitlines() if ".jar" in line and not line.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ------------------------------------------------------------------ jvm

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, workload, run, seconds, trace):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp)
    # ParallelGC on a fixed heap: G1's concurrent marking took most of a
    # core through the timed passes, by how much varying from run to run
    cmd = [java, *[a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
           "-cp", cp, "graft.perfbench.Main", workload, run, str(seconds), str(trace), str(cores())]
    launched = time.time()
    with open(os.path.join(run, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    res_file = os.path.join(run, "result.json")
    if code != 0 or not os.path.exists(res_file):
        with open(os.path.join(run, "jvm.log")) as f:
            tail = f.read()[-3000:]
        die(f"{workload} JVM ended with {code}:\n{tail}")
    with open(res_file) as f:
        return launched, json.load(f)


# -------------------------------------------------------------- metrics

def pct(xs, q):
    """Linear-interpolated percentile (q in 0..100)."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def _box():
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": load, "cpu": cpu}


def _steal(a, b):
    d = [y - x for x, y in zip(a["cpu"], b["cpu"])]
    return round(d[7] / sum(d), 4) if len(d) > 7 and sum(d) > 0 else 0.0


def metrics(workload, model, res, launched, data_bytes):
    timed = set(res["timed_ops"])
    ops = [o for o in res["ops"] if o["id"] in timed]
    lat = [o["ms"] for o in ops]
    # work_s: one round (a block of requests, a pass of queries) from each
    # kind's median over the run's rounds
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o["ms"])
    work_s = sum(statistics.median(v) for v in by_kind.values()) / 1000.0
    if workload == "serve":
        stored = res["stored_bytes"] / model["input_doc_bytes"]
        reads = [o["ms"] for o in ops if o["kind"] not in ("patch", "put", "delete")]
        writes = [o["ms"] for o in ops if o["kind"] in ("patch", "put", "delete")]
        phases = res["setup_phases_epoch_ms"]
        named = {"read_p50_ms": (pct(reads, 50), "ms"), "read_p90_ms": (pct(reads, 90), "ms"),
                 "write_p50_ms": (pct(writes, 50), "ms"), "write_p90_ms": (pct(writes, 90), "ms"),
                 "reads": (len(reads), "count"), "writes": (len(writes), "count"),
                 "block_s": (work_s, "s"),
                 # the write path, from documents to a servable store, runs
                 # in set-up: its index and bulk-load phases
                 "ingest_s": ((phases["bulk_load"] - res["session_ready_epoch_ms"]) / 1000.0, "s")}
    else:
        stored = res["stored_bytes"] / data_bytes
        named = {"pipeline_s": (work_s, "s"), "queries": (len(ops), "count")}
    e2e = {
        "setup_s": (res["setup_done_epoch_ms"] / 1000.0 - launched, "s"),
        "work_s": (work_s, "s"),
        "live_heap_mb": (res["live_heap_mb"], "MB"),
        "stored_bytes_per_input_byte": (stored, "ratio"),
    }
    named["stored_bytes_per_input_byte"] = e2e["stored_bytes_per_input_byte"]
    named["live_heap_mb"] = e2e["live_heap_mb"]
    named["live_heap_setup_mb"] = (res["live_heap_setup_mb"], "MB")
    named["live_heap_end_mb"] = (res["live_heap_end_mb"], "MB")
    named["setup_s"] = e2e["setup_s"]
    named["timed_wall_s"] = (res["timed_wall_ms"] / 1000.0, "s")
    named["timed_cpu_s"] = (res["timed_cpu_ms"] / 1000.0, "s")
    named["op_p50_ms"] = (pct(lat, 50), "ms")
    named["op_p90_ms"] = (pct(lat, 90), "ms")
    all_kinds = {}
    for o in ops:
        all_kinds.setdefault(o["kind"], []).append(o["ms"])
    kinds = {k: {"n": len(v), "p50_ms": round(pct(v, 50), 3), "p90_ms": round(pct(v, 90), 3),
                 "ms": [round(x, 1) for x in v]}
             for k, v in sorted(all_kinds.items())}
    layers = dict(res.get("layers", {}))
    layers.update(res["store"])
    n = max(len(ops), 1)
    layers.update({
        "streaming.state_files": float(res.get("state_files", 0)),
        "streaming.state_bytes": float(res.get("state_bytes", 0)),
        "memo.cache_bytes": float(res["cache_bytes"]),
        "memo.artifact_degrades": float(res["artifact_degrades"]),
        "sources.lake_degrades": float(res["lake_degrades"]),
        "jvm.gc_ms": res["gc_ms_timed"] / n,
    })
    return e2e, layers, named, kinds, len(ops)


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")) or not os.path.exists(spec_file):
        die(f"no engine sources under {ENGINE_SRC}; run from a checkout of the repository")
    with open(spec_file) as f:
        spec = json.load(f)

    box0 = _box()
    clock = {"start": time.time()}
    cp = build()
    clock["build"] = time.time()

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    try:
        model = gen.generate(args.workload, args.seed, run)
        clock["generate"] = time.time()
        data_bytes = sum(os.path.getsize(os.path.join(run, "data", f))
                         for f in os.listdir(os.path.join(run, "data")))
        launched, res = run_jvm(cp, args.workload, run, args.seconds, args.trace)
        clock["jvm"] = time.time()
        e2e, layers, named, kinds, n_timed = metrics(args.workload, model, res, launched, data_bytes)
        checks = check.run_checks(args.workload, run, model, res)
        clock["check"] = time.time()
        if args.trace and os.path.exists(os.path.join(run, "trace.jsonl")):
            shutil.copy(os.path.join(run, "trace.jsonl"), os.path.join(WORK, "last-trace.jsonl"))
    finally:
        shutil.rmtree(run, ignore_errors=True)
    box1 = _box()

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    have = layers if args.trace else {k: v for k, (v, _) in e2e.items()}
    names = [m["name"] for m in wanted]
    if sorted(names) != sorted(have):
        die(f"metric names differ from BENCHMARK.json: "
            f"missing {sorted(set(names) - set(have))}, unlisted {sorted(set(have) - set(names))}")
    out = {m["name"]: {"value": float(have[m["name"]]), "unit": m["unit"]} for m in wanted}

    attempted = checks.attempted
    failed = len(checks.failures)
    named["failed_frac"] = (failed / attempted if attempted else 1.0, "ratio")
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "cores": cores(),
        "client": "closed loop, 1 client", "sizes": model["sizes"], "timed_ops": n_timed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        # measured in both modes: a traced run's copy gives the overhead
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "kinds": kinds, "failures": checks.failures[:20],
        "setup_phases_s": {k: round(v / 1000.0 - launched, 3) for k, v in
                           [("session", res["session_ready_epoch_ms"])] +
                           list(res["setup_phases_epoch_ms"].items())},
        "run_phases_s": {k: round(v - clock["start"], 2) for k, v in clock.items() if k != "start"},
        "box": {"loadavg_start": box0["loadavg"], "loadavg_end": box1["loadavg"],
                "steal_frac": _steal(box0, box1)},
    }
    if args.trace:
        detail["self_ms"] = {k: round(v, 3) for k, v in sorted(res.get("self_ms", {}).items())}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
