#!/usr/bin/env python3
"""Seeded generator of the analytics tables.

Writes the ten tables the operator queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as parquet, with the column names and types of the
project's standard test tables. The same seed and scale give
byte-identical files.

  python3 perfbench/gen_tables.py OUT_DIR [--seed N] [--scale F]
  python3 perfbench/gen_tables.py --self-test
"""
import argparse
import datetime as dt
import filecmp
import os
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows at scale 1.0; the benchmark uses scale 0.01
BASE_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000, "orders": 1_500_000,
    "lineitem": 6_000_000, "events": 1_000_000, "documents": 50_000, "embeddings": 50_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data dup fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMB_DIM = 64
EMB_LABELS = 10


def micros(y, m, d):
    return int(dt.datetime(y, m, d).replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)


def ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, scale):
    rng = np.random.Generator(np.random.PCG64(seed))
    n = {k: max(10, int(v * scale)) for k, v in BASE_ROWS.items()}
    n["embeddings"] = min(n["embeddings"], max(50, n["documents"]))
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)],
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 2),
    })
    o = n["orders"]
    d0, d1 = micros(1995, 1, 1), micros(2001, 8, 1)
    day = 86_400_000_000
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, o)],
        "o_totalprice": money(rng, 1000, 500_000, o),
        "o_orderdate": ts(d0 + rng.integers(0, (d1 - d0) // day, o) * day),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)],
    })
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105_000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, li)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, li)],
        "l_shipdate": ts(micros(1995, 1, 2) + rng.integers(0, 2498, li) * day),
    })
    e = n["events"]
    e0 = micros(2024, 1, 1)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": ts(e0 + np.sort(rng.integers(0, 30 * day, e))),
        "user_id": pa.array(rng.integers(0, max(20, e // 66), e), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.round(np.minimum(rng.exponential(50, e), 490.0) + 0.01, 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, e)],
    })
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.1:  # near-duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = "dup"
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    ne = n["embeddings"]
    centroids = rng.normal(0, 0.12, (EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, ne)
    vecs = (centroids[labels] + rng.normal(0, 0.06, (ne, EMB_DIM))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(ne), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write(out_dir, seed, scale):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def self_test(seed=7, scale=0.001, tmp_root=None):
    """Same seed -> byte-identical files; another seed -> different ones."""
    with tempfile.TemporaryDirectory(dir=tmp_root) as tmp:
        a, b, c = (os.path.join(tmp, x) for x in "abc")
        write(a, seed, scale)
        write(b, seed, scale)
        write(c, seed + 1, scale)
        names = sorted(os.listdir(a))
        same = filecmp.cmpfiles(a, b, names, shallow=False)[0]
        differ = filecmp.cmpfiles(a, c, names, shallow=False)[1]
        errors = []
        if same != names:
            errors.append(f"seed {seed} did not reproduce: {sorted(set(names) - set(same))}")
        if not differ:
            errors.append(f"seeds {seed} and {seed + 1} gave identical tables")
        return errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out", nargs="?")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--scale", type=float, default=0.01)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        errors = self_test()
        print("\n".join(errors) or "self-test passed")
        sys.exit(1 if errors else 0)
    write(a.out, a.seed, a.scale)


if __name__ == "__main__":
    main()
