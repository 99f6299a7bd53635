"""Seeded generator of the analytics tables the registered queries read.

It writes the ten parquet tables of ``jly_flink_spark.io.TABLES`` with
the schemas the queries expect (a TPC-H-shaped star schema, an event
stream, a text corpus with near-duplicates and a clustered embedding
set). Row counts follow the sf0.01 shape, the scale of the oracle
correctness gate (``lineitem`` 60,000 rows; documents and embeddings
500 each). At this size a query's wall is still set mostly by how many
Spark jobs it runs and their fixed cost: on 4 CPUs the tasks of the
few-job queries keep the CPUs 5-20% busy, and the relational ones stay
at 10-20% at ten times the rows.

Run ``python3 perfbench/gen_tables.py --seed 7 --out DIR`` to write a
set by hand.
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
USERS = 150
EMBED_DIM = 64
EMBED_CLUSTERS = 10
DUP_SHARE = 0.05

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n)).astype("datetime64[D]").astype(
        "datetime64[us]"
    )


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keys(n: int) -> np.ndarray:
    return np.arange(n, dtype=np.int64)


def build_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": _keys(c),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
            "c_acctbal": _money(rng, c, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, c),
        }
    )
    s = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": _keys(s),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
            "s_acctbal": _money(rng, s, -999.99, 9999.99),
        }
    )
    p = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": _keys(p),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
            "p_type": rng.choice(PART_TYPES, p),
            "p_size": rng.integers(1, 51, p).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
        }
    )
    o = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": _keys(o),
            "o_custkey": rng.integers(0, c, o).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], o),
            "o_totalprice": _money(rng, o, 1000.0, 500000.0),
            "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, o, li).astype(np.int64),
            "l_partkey": rng.integers(0, p, li).astype(np.int64),
            "l_suppkey": rng.integers(0, s, li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(19.0, 2100.0, li), 2),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], li),
            "l_linestatus": rng.choice(["F", "O"], li),
            "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04"),
        }
    )
    e = n["events"]
    base = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    step = (30 * 86400 * 1_000_000) // e
    ts = base + np.arange(e, dtype=np.int64) * step + rng.integers(0, step, e)
    t["events"] = pa.table(
        {
            "event_id": _keys(e),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, USERS, e).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, e),
            "value": np.round(np.maximum(rng.exponential(50.0, e), 0.01), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i > 10 and rng.random() < DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split()
            cut = max(3, int(len(words) * rng.uniform(0.6, 0.95)))
            texts.append(" ".join(words[:cut] + ["dup"]))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    t["documents"] = pa.table(
        {
            "doc_id": _keys(d),
            "text": texts,
            "lang": rng.choice(LANGS, d, p=LANG_P),
            "source": [f"src{k}" for k in rng.integers(0, 20, d)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    m = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (EMBED_CLUSTERS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, EMBED_CLUSTERS, m)
    vec = 0.15 * centers[label] + rng.normal(0.0, 0.125, (m, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": _keys(m),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )
    return t


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns the row
    count per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args(argv)
    print(write_tables(a.out, a.seed))
    return 0


if __name__ == "__main__":
    sys.exit(main())
