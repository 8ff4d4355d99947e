"""Seeded synthetic tables for the catalog workload.

Writes the ten tables the catalog reads (``catalog.TABLES``), one Parquet
file each, with the column names and Arrow types of the engine's own test
data: a TPC-H-like star (region, nation, customer, supplier, part,
orders, lineitem), an ``events`` stream, a ``documents`` corpus over a
small vocabulary with injected exact and near duplicates, and unit-norm
``embeddings`` clustered by label.  Row counts scale with ``sf`` the way
the test data does; ``numpy.random.default_rng(seed)`` drives every value.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old"]
PART_NOUN = ["ring", "plate", "widget", "rod", "bolt", "gizmo", "gear"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int):
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    d = np.datetime64(start) + rng.integers(0, span + 1, n).astype(
        "timedelta64[D]"
    )
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.02:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and roll < 0.05:  # near duplicate: one word replaced
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = VOCAB[
                int(rng.integers(0, len(VOCAB)))
            ]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(
                " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k))
            )
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array(
                [f"src{j}" for j in rng.integers(0, 20, n)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64):
    labels = rng.integers(0, 10, n)
    centers = rng.standard_normal((10, dim))
    vecs = rng.standard_normal((n, dim)) + 0.15 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; return row counts by table."""
    rng = np.random.default_rng(seed)
    n_cust = round(150_000 * sf)
    n_supp = round(10_000 * sf)
    n_part = round(200_000 * sf)
    n_ord = round(1_500_000 * sf)
    n_li = round(6_000_000 * sf)
    n_ev = round(1_000_000 * sf)
    n_doc = round(50_000 * sf)
    n_emb = max(500, round(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    adj = rng.choice(PART_ADJ, n_part)
    noun = rng.choice(PART_NOUN, n_part)
    ev_ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us")
        + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
    )
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{k}" for k in range(25)],
                "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), i64),
                "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), i64),
                "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), i64),
                "p_name": pa.array(
                    [f"{a} {b}" for a, b in zip(adj, noun)], s
                ),
                "p_brand": pa.array(
                    [f"Brand#{k}" for k in rng.integers(1, 26, n_part)], s
                ),
                "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": pa.array(_cents(rng, 900.0, 999.9, n_part)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), i64),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
                "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, n_ord)),
                "o_orderdate": _days(
                    rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord
                ),
                "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
                "l_quantity": pa.array(
                    rng.integers(1, 51, n_li).astype(np.float64), f64
                ),
                "l_extendedprice": pa.array(
                    _cents(rng, 900.0, 105000.0, n_li)
                ),
                "l_discount": pa.array(_cents(rng, 0.0, 0.1, n_li)),
                "l_tax": pa.array(_cents(rng, 0.0, 0.08, n_li)),
                "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
                "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
                "l_shipdate": _days(
                    rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li
                ),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), i64),
                "ts": pa.array(ev_ts, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, 150, n_ev), i64),
                "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), s),
                "value": pa.array(_cents(rng, 0.01, 490.0, n_ev)),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s
                ),
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
