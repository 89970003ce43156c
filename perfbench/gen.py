"""Seeded input generator for the graft benchmark.

Writes the parquet tables one workload reads into a directory, with the
same column names and types as the TPC-H-ish tables, `events`,
`documents` and `embeddings` that graft's projections and pipelines
expect. The same (workload, seed) always gives byte-identical values.

    python3 perfbench/gen.py --workload temporal_mix --seed 7 --out DIR
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload. The TPC-H tables are about a hundredth of
# sf0.1: graph requests cost Spark rounds, not rows, and the benchmark has
# to fit many runs into a fixed budget.
SIZES = {
    "temporal_mix": {"events": 25_000, "users": 1_000},
    "analytics": {"customers": 600, "suppliers": 60, "parts": 800,
                  "orders": 6_000, "max_lines": 7,
                  "documents": 3_000, "near_dup_share": 0.06,
                  "embeddings": 1_500, "dims": 32, "clusters": 10},
}

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["view", "click", "purchase", "error", "signup"]
EVENT_P = [0.45, 0.3, 0.1, 0.1, 0.05]

US_PER_DAY = 86_400 * 1_000_000
EPOCH_1992 = 694_224_000 * 1_000_000   # 1992-01-01 in µs
EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01 in µs


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))


def tpch(rng, out, n):
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    c, s, p, o = n["customers"], n["suppliers"], n["parts"], n["orders"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, c), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], c)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, s), 2)})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": rng.choice(["large ring", "small box", "steel pin",
                              "brass cap", "tin can"], p),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 50, p)],
        "p_type": rng.choice(["LARGE", "SMALL", "MEDIUM", "ECONOMY"], p),
        "p_size": pa.array(rng.integers(1, 50, p), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, p), 2)})
    odate = EPOCH_1992 + rng.integers(0, 6 * 365, o) * US_PER_DAY
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], o),
        "o_totalprice": np.round(rng.uniform(1000, 400000, o), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], o)})
    lines = rng.integers(1, n["max_lines"] + 1, o)
    okey = np.repeat(np.arange(o), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    m = len(okey)
    qty = rng.integers(1, 51, m).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, m), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, m), 2),
        "l_discount": np.round(rng.integers(0, 11, m) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, m) / 100.0, 2),
        "l_returnflag": rng.choice(["N", "R", "A"], m),
        "l_linestatus": rng.choice(["O", "F"], m),
        "l_shipdate": _ts(np.repeat(odate, lines) +
                          rng.integers(1, 121, m) * US_PER_DAY)})
    return {"customers": c, "suppliers": s, "parts": p, "orders": o,
            "lineitems": int(m)}


def events(rng, out, n):
    e = n["events"]
    # strictly increasing instants, so event order is commit order
    ts = EPOCH_2024 + np.cumsum(rng.integers(1, 20_000_000, e))
    _write(out, "events", {
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n["users"], e), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, e, p=EVENT_P),
        "value": np.round(rng.uniform(0, 100, e), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)]})
    return {"events": e, "users": n["users"],
            "ts_min_us": int(ts[0]), "ts_max_us": int(ts[-1])}


def documents(rng, out, n):
    d = n["documents"]
    texts = []
    for i in range(d):
        if i > 20 and rng.random() < n["near_dup_share"]:
            # near duplicate of an earlier document: one appended token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 101))
            texts.append(" ".join(rng.choice(WORDS, k)))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    m, dims = n["embeddings"], n["dims"]
    centers = rng.normal(size=(n["clusters"], dims))
    label = rng.integers(0, n["clusters"], m)
    v = centers[label] + 0.35 * rng.normal(size=(m, dims))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return {"documents": d, "embeddings": m, "dims": dims}


def generate(workload, seed, out):
    """Writes the workload's tables into `out`; returns their sizes."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    n = SIZES[workload]
    if workload == "temporal_mix":
        return events(rng, out, n)  # its graph is built through the public API
    return {**tpch(rng, out, n), **documents(rng, out, n)}


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out)))
