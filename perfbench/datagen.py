"""Deterministic generator for the benchmark's input tables.

Writes the ten parquet tables the package's queries read (``region nation
customer supplier part orders lineitem events documents embeddings``), with
the column names, parquet types and value distributions of the package's
TPC-H-style test data. Table sizes follow the scale factor the same way.

The tables come from a fixed data seed, so every run of the benchmark
reads byte-identical inputs. The ``--seed`` of a run only picks what the
workloads do with them: lake key batches and op order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMBED_DIM = 64
# per-coordinate noise around each cluster centre; the noise vector's norm
# is about EMBED_CLUSTER_SPREAD * 8, so clusters overlap in direction
EMBED_CLUSTER_SPREAD = 0.15


def _day(s: str) -> int:
    return int(np.datetime64(s, "D").astype(np.int64))


def _us_dates(rng, lo: str, hi: str, n: int) -> np.ndarray:
    days = rng.integers(_day(lo), _day(hi) + 1, n)
    return (days * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as dedup ops expect
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_pick(rng, WORDS, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    # one cluster per label, as real embeddings of labelled items have,
    # so nearest neighbours mostly share a label and ANN indexes have
    # structure to find
    labels = rng.integers(0, 10, n)
    centers = rng.standard_normal((10, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    noise = rng.standard_normal((n, EMBED_DIM)) * EMBED_CLUSTER_SPREAD
    v = (centers[labels] + noise).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    offsets = np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)
    emb = pa.ListArray.from_arrays(offsets, pa.array(v.ravel(), pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(labels.astype(np.int32)),
    })


def build_tables(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor `sf`, from the fixed data seed."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32 = np.int32

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=i32)),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=i32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), pa.string()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(_pick(rng, names, n_part), pa.string()),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
        ),
        "p_type": pa.array(_pick(rng, PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_ord),
                                  pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(
            _us_dates(rng, "1995-01-01", "2001-08-01", n_ord)
        ),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord),
                                    pa.string()),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(i32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_line),
                                 pa.string()),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], n_line), pa.string()),
        "l_shipdate": pa.array(
            _us_dates(rng, "1995-01-02", "2001-11-04", n_line)
        ),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400_000_000
    ts = np.sort(t0 + rng.integers(0, span_us, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev)),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n_ev), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]
        ),
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_tables(out_dir: str, sf: float) -> dict[str, pa.Table]:
    """Write every table to `out_dir/<name>.parquet`; returns the tables."""
    os.makedirs(out_dir, exist_ok=True)
    tables = build_tables(sf)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables
