"""Seeded input generator for the benchmark.

Everything a run feeds the program comes from here: the star-schema parquet
tables the engine reads (same schemas as the engine's fixture tables), the
documents' JSON changelog and the request stream of the ``serve`` workload.
The same ``(workload, seed)`` always yields the same
bytes.  The generator also keeps its own model of what the store must hold,
which ``check.py`` compares the program's answers against.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes per workload.  Kept small on purpose: the engine's per-job
# overhead, not data volume, dominates at these sizes, and every run has to
# stay within a few tens of seconds, so ten-run steadiness checks stay
# affordable (see README.md).
SIZES = {
    "serve": dict(orders=2000, customers=200, parts=200, suppliers=20,
                  documents=100, embeddings=100, events=1000),
    "pipeline": dict(orders=1500, customers=150, parts=200, suppliers=10,
                     documents=500, embeddings=500, events=2000),
}

STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO"]
COLORS = ["red", "blue", "green", "small", "large", "steel", "brass"]
NOUNS = ["widget", "bolt", "ring", "gear", "valve", "spring", "panel"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "stream filter group big vector dup index shard route node tree").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
# The pipeline pass: graft.ext operators behind the engine's oracled queries.
# x_pagerank, not x_sssp, for the iteration loop: its fixed horizon runs
# the same jobs for every seed, where SSSP's round count follows each
# seed's graph and moved a run's pass time by half.
PIPELINE_QUERIES = ["x_pagerank", "x_knn_ivfpq", "x_quality_gopher_full"]
EPOCH_US = 694224000 * 10**6  # 1992-01-01T00:00:00 in microseconds


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def tables(rng, sz, out):
    """The ten engine tables as single-row-group parquet files."""
    os.makedirs(out, exist_ok=True)
    n_o, n_c, n_p, n_s = sz["orders"], sz["customers"], sz["parts"], sz["suppliers"]
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(range(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_c), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_c)]})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(range(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_s), 2)})
    p_names = [f"{COLORS[a]} {NOUNS[b]}" for a, b in
               zip(rng.integers(0, len(COLORS), n_p), rng.integers(0, len(NOUNS), n_p))]
    p_brand = [f"Brand#{i}" for i in rng.integers(1, 26, n_p)]
    p_type = [TYPES[i] for i in rng.integers(0, len(TYPES), n_p)]
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(range(n_p), pa.int64()),
        "p_name": p_names, "p_brand": p_brand, "p_type": p_type,
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_p) / 10.0, 2)})
    o_date = EPOCH_US + rng.integers(0, 2500, n_o) * 86400 * 10**6
    orders = {
        "o_orderkey": np.arange(n_o, dtype="int64"),
        "o_custkey": rng.integers(0, n_c, n_o).astype("int64"),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, n_o)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_o), 2),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_o)],
        "o_orderdate": o_date}
    _write(f"{out}/orders.parquet", {
        "o_orderkey": orders["o_orderkey"], "o_custkey": orders["o_custkey"],
        "o_orderstatus": orders["o_orderstatus"], "o_totalprice": orders["o_totalprice"],
        "o_orderdate": _ts(o_date), "o_orderpriority": orders["o_orderpriority"]})
    n_li = rng.integers(1, 8, n_o)
    l_ok = np.repeat(np.arange(n_o, dtype="int64"), n_li)
    l_ln = np.concatenate([np.arange(1, k + 1) for k in n_li]).astype("int32")
    n_l = len(l_ok)
    li = {
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(0, n_p, n_l).astype("int64"),
        "l_suppkey": rng.integers(0, n_s, n_l).astype("int64"),
        "l_linenumber": l_ln,
        "l_quantity": rng.integers(1, 51, n_l).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_l)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_l)]}
    _write(f"{out}/lineitem.parquet", dict(
        li, l_shipdate=_ts(np.repeat(o_date, n_li) + rng.integers(1, 120, n_l) * 86400 * 10**6)))
    n_e = sz["events"]
    ev_ts = 1704067200 * 10**6 + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_e))
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(n_e, dtype="int64"), "ts": _ts(ev_ts),
        "user_id": rng.integers(0, 100, n_e).astype("int64"),
        "event_type": [("view", "click", "buy", "error")[i] for i in rng.integers(0, 4, n_e)],
        "value": np.round(rng.uniform(0, 20, n_e), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_e)]})
    n_d = sz["documents"]
    texts = []
    for i in range(n_d):
        if i >= 10 and rng.random() < 0.1:  # near-duplicates of an earlier doc
            base = texts[int(rng.integers(0, i))].split(" ")
            base[int(rng.integers(0, len(base)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(20, 90)))))
    _write(f"{out}/documents.parquet", {
        "doc_id": np.arange(n_d, dtype="int64"), "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_d)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_d)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    n_v = sz["embeddings"]
    labels = rng.integers(0, 10, n_v)
    centers = rng.normal(0, 1, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.5, (n_v, 64))).astype("float32")
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(n_v, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return orders, li, dict(zip(range(n_p), zip(p_names, p_brand, p_type)))


def documents(orders, li, parts):
    """One nested JSON document per order, keyed ``order_<orderkey>``: the
    order's fields, its lineitems as a keyed child array, each with its part
    as a nested object (the reference's plan → service → cost-share shape)."""
    docs = {}
    start = 0
    keys = li["l_orderkey"]
    n = len(keys)
    for ok in orders["o_orderkey"]:
        end = start
        while end < n and keys[end] == ok:
            end += 1
        items = []
        for j in range(start, end):
            pk = int(li["l_partkey"][j])
            name, brand, ptype = parts[pk]
            items.append({
                "objectId": f"li{ok}_{j - start + 1}", "objectType": "lineitem",
                "l_quantity": float(li["l_quantity"][j]),
                "l_extendedprice": float(li["l_extendedprice"][j]),
                "l_returnflag": li["l_returnflag"][j],
                "part": {"objectId": str(pk), "objectType": "part",
                         "p_name": name, "p_brand": brand, "p_type": ptype}})
        start = end
        i = int(ok)
        docs[f"order_{ok}"] = {
            "objectId": str(ok), "objectType": "order",
            "o_orderstatus": orders["o_orderstatus"][i],
            "o_totalprice": float(orders["o_totalprice"][i]),
            "o_orderpriority": orders["o_orderpriority"][i],
            "lineitems": items}
    return docs


def merge_patch(doc, patch, root=True):
    """The program's merge-PATCH semantics, restated independently: objects
    merge recursively, arrays of objectId-bearing objects upsert by
    objectId (stored order kept, new elements appended), anything else is
    replaced; the root objectId never changes."""
    out = json.loads(json.dumps(doc))
    for k, v in patch.items():
        if root and k == "objectId":
            continue
        old = out.get(k)
        if isinstance(v, dict) and isinstance(old, dict):
            out[k] = merge_patch(old, v, root=False)
        elif (isinstance(v, list) and isinstance(old, list) and
              all(isinstance(e, dict) for e in old + v) and
              any(e.get("objectId") is not None for e in old + v)):
            merged = []
            for e in old:
                rep = next((p for p in v if p.get("objectId") is not None
                            and p.get("objectId") == e.get("objectId")), e)
                merged.append(rep)
            ids = {e.get("objectId") for e in old if e.get("objectId") is not None}
            merged += [p for p in v if p.get("objectId") is None or p.get("objectId") not in ids]
            out[k] = merged
        else:
            out[k] = v
    return out


def _dumps(doc):
    return json.dumps(doc, separators=(",", ":"))


def _zipf_keys(rng, keys, n, s=1.1):
    """``n`` keys drawn Zipf(s) over a seeded permutation of ``keys``."""
    order = rng.permutation(len(keys))
    w = 1.0 / np.arange(1, len(keys) + 1) ** s
    picks = rng.choice(len(keys), size=n, p=w / w.sum())
    return [keys[order[i]] for i in picks]


# The serve stream is an assumption, not a measured or published mix: no
# trace of the reference's REST handlers exists to size one.  It is the
# simplest stream that exercises every request kind: blocks of one request
# of each kind, each block in its own seeded order.  Keys of keyed requests
# are Zipf-skewed; the seed picks every order, key and parameter.
SERVE_KINDS = ["get", "conj", "child_range", "has_parent", "routing", "cond_read",
               "patch", "put", "delete"]
SERVE_BLOCKS = 40  # generated after the warm-up block; a run uses a few


def serve_requests(rng, docs, orders, blocks):
    """The serve request stream (closed loop, one client) and the model
    answers its checker needs: one untimed warm-up block, then ``blocks``
    more.  PATCH/DELETE only target live keys, so no request is refused."""
    keys = sorted(docs)
    live = dict((k, docs[k]) for k in keys)
    picks = iter(_zipf_keys(rng, keys, 8 * len(SERVE_KINDS) * (blocks + 1)))
    kinds = [k for _ in range(blocks + 1) for k in rng.permutation(SERVE_KINDS)]
    reqs = []
    for i, kind in enumerate(kinds):
        kind = str(kind)
        r = {"i": i, "kind": kind}
        if kind == "get":
            k = next(picks)
            r.update(key=k, expect=_dumps(live[k]) if k in live else None)
        elif kind in ("conj", "child_range", "has_parent"):
            # parameters of a real order, so every search has a hit
            o = int(rng.integers(0, len(orders["o_orderkey"])))
            day = np.datetime64(int(orders["o_orderdate"][o]), "us").astype("datetime64[s]")
            r.update(date=str(day), status=orders["o_orderstatus"][o],
                     threshold=float(rng.integers(5, 46)) + 0.5,
                     lt=bool(rng.random() < 0.5))
        elif kind in ("routing", "cond_read"):
            r.update(key=next(picks), revalidate=bool(rng.random() < 0.5))
        else:
            k = next(picks)
            while kind in ("patch", "delete") and k not in live:
                k = next(picks)
            if kind == "patch":
                cur = live[k]
                patch = {"o_orderpriority": PRIORITIES[int(rng.integers(0, 5))]}
                if cur["lineitems"] and rng.random() < 0.5:
                    li = cur["lineitems"][int(rng.integers(0, len(cur["lineitems"])))]
                    patch["lineitems"] = [dict(li, l_quantity=float(rng.integers(1, 51)))]
                elif rng.random() < 0.5:
                    patch["lineitems"] = [{
                        "objectId": f"li{cur['objectId']}_x{i}", "objectType": "lineitem",
                        "l_quantity": float(rng.integers(1, 51)), "l_extendedprice": 100.0,
                        "l_returnflag": "N", "part": {"objectId": "0", "objectType": "part",
                                                     "p_name": "red bolt", "p_brand": "Brand#1",
                                                     "p_type": "SMALL"}}]
                live[k] = merge_patch(cur, patch)
                r.update(key=k, patch=_dumps(patch), after=live[k])
            elif kind == "put":
                # replace the document (or recreate a deleted one)
                new = dict(live.get(k) or docs[k],
                           o_orderstatus=STATUSES[int(rng.integers(0, 3))],
                           o_totalprice=float(np.round(rng.uniform(1000, 500000), 2)))
                live[k] = new
                r.update(key=k, doc=_dumps(new), after=new)
            else:
                del live[k]
                r.update(key=k, after=None)
        reqs.append(r)
    return reqs


def changelog_lines(docs):
    return [json.dumps({"seq": 1 + i, "op": "insert", "key": k, "doc": _dumps(d)})
            for i, (k, d) in enumerate(sorted(docs.items()))]


def generate(workload, seed, out):
    """Write every input of ``workload`` under ``out``; return the model."""
    rng = np.random.default_rng([seed, ("serve", "pipeline").index(workload)])
    sz = SIZES[workload]
    orders, li, parts = tables(rng, sz, f"{out}/data")
    model = {"sizes": sz, "lineitems": len(li["l_orderkey"])}
    if workload == "pipeline":
        with open(f"{out}/queries.txt", "w") as f:
            f.write("\n".join(PIPELINE_QUERIES) + "\n")
        return model
    docs = documents(orders, li, parts)
    model["input_doc_bytes"] = sum(len(_dumps(d)) for d in docs.values())
    with open(f"{out}/bulk.jsonl", "w") as f:
        f.write("\n".join(changelog_lines(docs)) + "\n")
    # the untimed warm-up block first, then more blocks than a run reaches
    reqs = serve_requests(rng, docs, orders, SERVE_BLOCKS)
    with open(f"{out}/requests.jsonl", "w") as f:
        for r in reqs:
            wire = {k: v for k, v in r.items() if k not in ("expect", "after")}
            if r["i"] < len(SERVE_KINDS):
                wire["warmup"] = True
            f.write(json.dumps(wire) + "\n")
    model.update(requests=reqs, docs=docs)
    return model
