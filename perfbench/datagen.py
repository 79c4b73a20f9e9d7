"""Seeded generator for the star-schema tables the benchmark runs on.

Writes one single-row-group parquet file per table, with the schema and
the value distributions of the reference fixture that ``FIXTURES.md``
describes: TPC-H-like dimension and fact tables, an ``events`` stream,
``documents`` of 10–99 words over a 30-word vocabulary where 5% are a
near-duplicate (another document plus a trailing ``dup`` token) and
0.16% an exact copy, and unit-norm 64-dimensional ``embeddings`` whose
labels carry no geometric structure. Row counts scale with ``sf`` the
way the fixture does (``lineitem`` = 6,000,000 × sf, ``documents`` =
50,000 × sf); ``embeddings`` never goes below 500 rows.
``perfbench/README.md`` compares generated tables with the fixture.

The same ``(seed, sf)`` always writes the same bytes. To write a set of
tables to a directory:

    python3 perfbench/datagen.py OUT_DIR --seed 1 --sf 0.01
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64
N_LABELS = 10

_US_PER_DAY = 86_400_000_000


def _days(start: dt.date, end: dt.date, n: int, rng: np.random.Generator) -> pa.Array:
    """``n`` midnight timestamps drawn uniformly from [start, end]."""
    base = (start - dt.date(1970, 1, 1)).days
    span = (end - start).days
    days = base + rng.integers(0, span + 1, n)
    return pa.array(days.astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def _money(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    """Uniform amounts with exactly two decimals."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(values: list[str], n: int, rng: np.random.Generator, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(n: int, rng: np.random.Generator) -> pa.Table:
    """Random word strings of 10–99 words. 5% of them are then replaced,
    one after another, by a document (a different one each time) plus a
    trailing ``dup`` token, so a copy of a copy ends in ``dup dup``; and
    0.16% by an exact copy of an unchanged document."""
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
        for _ in range(n)
    ]
    n_near, n_exact = n // 20, int(n * 0.0016)
    targets = rng.choice(n, n_near + 2 * n_exact, replace=False)
    sources = rng.choice(n, n_near, replace=False)
    for k in np.flatnonzero(sources == targets[:n_near]):  # no document copies itself
        sources[[k, k - 1]] = sources[[k - 1, k]]
    for i, j in zip(targets[:n_near], sources):
        texts[i] = texts[j] + " dup"
    exact = targets[n_near:]
    for i, j in zip(exact[:n_exact], exact[n_exact:]):
        texts[i] = texts[j]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(LANGS, n, rng, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    x = rng.standard_normal((n, EMB_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32)), flat
            ),
            "label": pa.array(labels),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every table for one ``(seed, sf)``, keyed by table name."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 1000)
    n_users = max(n_ev * 3 // 200, 10)
    n_docs = max(int(50_000 * sf), 100)
    n_emb = max(int(20_000 * sf), 500)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(-999.99, 9999.99, n_cust, rng)),
            "c_mktsegment": _pick(SEGMENTS, n_cust, rng),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(-999.99, 9999.99, n_supp, rng)),
        }
    )
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, len(PART_ADJ), n_part),
                        rng.integers(0, len(PART_NOUN), n_part),
                    )
                ]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(PART_TYPES, n_part, rng),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(900.0 + (keys % 1000) / 10.0),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(["F", "O", "P"], n_ord, rng),
            "o_totalprice": pa.array(_money(1000.0, 500000.0, n_ord, rng)),
            "o_orderdate": _days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord, rng),
            "o_orderpriority": _pick(PRIORITIES, n_ord, rng),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(900.0, 105000.0, n_line, rng)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(["A", "N", "R"], n_line, rng),
            "l_linestatus": _pick(["F", "O"], n_line, rng),
            "l_shipdate": _days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line, rng),
        }
    )
    ev_start = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * _US_PER_DAY
    ts = np.sort(ev_start + rng.integers(0, 30 * _US_PER_DAY, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev)),
            "event_type": _pick(EVENT_TYPES, n_ev, rng),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    out["documents"] = _documents(n_docs, rng)
    out["embeddings"] = _embeddings(n_emb, rng)
    return out


def write(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
        counts[name] = table.num_rows
    return counts


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description="Write the benchmark's input tables.")
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--sf", type=float, default=0.01)
    args = ap.parse_args()
    print(write(args.out_dir, args.seed, args.sf))
