"""Seeded generator for the benchmark's input tables.

Writes the ten Parquet tables the query library reads (the TPC-H-style
star, the `events` stream table, the `documents` corpus and the
`embeddings` vectors) with the same schemas, value domains and scale
rules as the fixed test data the repository's tests read. The same
(seed, sf) always gives byte-identical tables, so a benchmark run is
reproducible from its seed alone.

Row counts scale with `sf` as the test data does: lineitem 6e6*sf,
orders 1.5e6*sf, customer 1.5e5*sf, part 2e5*sf, supplier 1e4*sf,
events 1e6*sf, documents max(500, 5e4*sf), embeddings max(500, 2e4*sf).

Usage: python3 perfbench/datagen.py OUT_DIR --seed N [--sf 0.1]
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.4, 0.15, 0.15, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _days(rng: np.random.Generator, start: np.datetime64, lo: int, hi: int, n: int):
    return start + rng.integers(lo, hi + 1, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), values).cast(
        pa.string()
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random token strings over a 30-word vocabulary. One doc in 20 is
    an earlier doc with ' dup' appended (a near-duplicate) and a few are
    exact copies, so the dedup family has pairs to find."""
    texts: list[str] = []
    lengths = rng.integers(10, 101, n)
    near = rng.random(n) < 0.05
    exact = rng.random(n) < 0.002
    for i in range(n):
        if i > 0 and exact[i]:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and near[i]:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            toks = rng.integers(0, len(VOCAB), lengths[i])
            texts.append(" ".join(VOCAB[t] for t in toks))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def generate(out_dir: str, seed: int, sf: float) -> None:
    """Write every table under out_dir as <table>.parquet."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    part_key = np.arange(n_part, dtype=np.int64)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": part_key,
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in zip(
                            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                        )
                    ],
                    pa.string(),
                ),
                "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (part_key % 1000) / 10.0, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days(rng, EPOCH_1995, 0, 2404, n_ord),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _pick(rng, ["F", "O"], n_line),
                "l_shipdate": _days(rng, EPOCH_1995, 1, 2498, n_line),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": EPOCH_2024
                + np.sort(rng.integers(0, 30 * DAY_US, n_ev)).astype(
                    "timedelta64[us]"
                ),
                "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
                "event_type": _pick(rng, EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()
                ),
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(tables[name], tmp, compression="snappy")
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.1)
    args = ap.parse_args()
    generate(args.out_dir, args.seed, args.sf)


if __name__ == "__main__":
    main()
