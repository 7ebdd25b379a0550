"""Correctness checks for one run, made after the timed region.

Each check compares what the program answered with an independent source:
the generator's own model of the store (document state, GET answers) or a
DuckDB query over the same generated parquet tables (searches, pipeline
queries).  Every failed check is kept, named, and counted.
"""
import glob
import json
import math

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _duck(data):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


class Checks:
    def __init__(self):
        self.attempted = 0
        self.failures = []

    def check(self, what, ok, why=""):
        """A check of its own, counted as one attempted operation."""
        self.attempted += 1
        self.verify(what, ok, why)

    def verify(self, what, ok, why=""):
        """The answer of an operation already counted by `op`."""
        if not ok:
            self.failures.append({"check": what, "why": str(why)[:300]})

    def op(self, op, what):
        """Count an operation; one that raised has failed, whatever it did."""
        self.attempted += 1
        self.verify(what, op["ok"], op["error"])
        return op["ok"]


def _same_doc(a, b):
    if a is None or b is None:
        return a is None and b is None
    return json.loads(a) == json.loads(b)


def _search_expect(con, r):
    day = r["date"].replace("T", " ")
    if r["kind"] in ("conj", "child_range"):
        where = f"o.o_orderdate = TIMESTAMP '{day}'"
        if r["kind"] == "conj":
            where += f" AND o.o_orderstatus = '{r['status']}'"
        else:
            cmp = "<" if r["lt"] else ">"
            where += (" AND EXISTS (SELECT 1 FROM lineitem x WHERE x.l_orderkey = o.o_orderkey "
                      f"AND x.l_quantity {cmp} {r['threshold']})")
        rows = con.sql(
            "SELECT o.o_orderkey, count(l.l_orderkey), coalesce(sum(l.l_quantity), 0) "
            "FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
            f"WHERE {where} GROUP BY 1").fetchall()
        return ",".join(sorted(f"{ok}:{n}:{float(q)}" for ok, n, q in rows))
    if r["kind"] == "has_parent":
        rows = con.sql(
            "SELECT l.l_orderkey, l.l_linenumber FROM lineitem l JOIN orders o "
            f"ON o.o_orderkey = l.l_orderkey WHERE o.o_orderdate = TIMESTAMP '{day}' "
            f"AND o.o_orderstatus = '{r['status']}'").fetchall()
        return ",".join(sorted(f"lineitem_li{ok}_{ln}" for ok, ln in rows))
    raise ValueError(r["kind"])


def _routing_expect(con, key):
    ok = int(key.split("_", 1)[1])
    rows = con.sql(f"SELECT l_linenumber, l_partkey FROM lineitem WHERE l_orderkey = {ok}").fetchall()
    keys = [key] + [f"lineitem_li{ok}_{ln}" for ln, _ in rows] + [f"part_{pk}" for _, pk in rows]
    return ",".join(sorted(keys))


def _final_state(path, expected, checks):
    got = {}
    with open(path) as f:
        for line in f:
            row = json.loads(line)
            got[row["key"]] = row["doc"]
    missing = sorted(set(expected) - set(got))
    extra = sorted(set(got) - set(expected))
    wrong = sorted(k for k in set(got) & set(expected)
                   if json.loads(got[k]) != json.loads(expected[k]))
    checks.check("final_state", not (missing or extra or wrong),
                 f"missing={missing[:5]} extra={extra[:5]} wrong={wrong[:5]}")


def serve(run, model, res, checks):
    con = _duck(f"{run}/data")
    reqs = model["requests"]
    state = {k: json.dumps(d, separators=(",", ":")) for k, d in model["docs"].items()}
    etags = {}
    for j, op in enumerate(res["ops"]):
        r = reqs[j]
        what = f"{op['kind']}#{r['i']}"
        if op["kind"] != r["kind"]:
            checks.check(what, False, f"ran {op['kind']} for request {r['kind']}")
            continue
        if checks.op(op, what):
            kind, got = r["kind"], op["result"]
            if kind == "get":
                checks.verify(what, _same_doc(got, r["expect"]), f"got {str(got)[:80]}")
            elif kind in ("conj", "child_range", "has_parent", "routing"):
                want = (_routing_expect(con, r["key"]) if kind == "routing"
                        else _search_expect(con, r))
                checks.verify(what, got == want, f"got {got[:80]} want {want[:80]}")
            elif kind == "cond_read":
                status, etag, sent = got.split(":")
                good = (status == "304") if sent == "true" else (status == "200" and len(etag) == 32)
                good = good and etags.setdefault(r["key"], etag) == etag
                checks.verify(what, good, got)
        if "after" in r:
            if r["after"] is None:
                state.pop(r["key"], None)
            else:
                state[r["key"]] = json.dumps(r["after"], separators=(",", ":"))
    _final_state(f"{run}/final_state.jsonl", state, checks)


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def _canon(rel):
    cols, types, rows = rel.columns, [str(t) for t in rel.types], rel.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order], [types[i] for i in order],
            sorted(tuple(_norm(r[i]) for i in order) for r in rows))


def pipeline(run, model, res, checks):
    con = _duck(f"{run}/data")
    last = {}
    for op in res["ops"]:
        if checks.op(op, f"{op['kind']}#p{op['pass']}"):
            last.setdefault(op["kind"], []).append(op["result"])
    for q, digests in last.items():
        # every pass, the set-up pass included, must give the same answer
        checks.check(f"{q}#repeat", len(set(digests)) == 1, f"{len(set(digests))} distinct answers")
    for q, sql in sorted(res.get("oracle_sql", {}).items()):
        try:
            if not glob.glob(f"{run}/answers/{q}/*.parquet"):
                raise ValueError("no answer written")
            got = _canon(con.sql(f"SELECT * FROM '{run}/answers/{q}/*.parquet'"))
            want = _canon(con.sql(sql))
            why = ("" if got == want else
                   "columns" if got[0] != want[0] else "types" if got[1] != want[1] else
                   f"rows {len(got[2])} vs {len(want[2])}" if len(got[2]) != len(want[2]) else
                   f"first diff {next(a for a, b in zip(got[2], want[2]) if a != b)}")
            checks.check(f"{q}#oracle", got == want, why)
        except Exception as e:  # an oracle that cannot run is a failed check
            checks.check(f"{q}#oracle", False, e)


def run_checks(workload, run, model, res):
    checks = Checks()
    {"serve": serve, "pipeline": pipeline}[workload](run, model, res, checks)
    return checks
