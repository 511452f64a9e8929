"""Deterministic synthetic source tables for the benchmark.

The tables follow the schema the engine's curated catalog expects
(``dbcut_spark.catalog.TPCH_CATALOG``): a TPC-H-shaped star plus the
``events``, ``documents`` and ``embeddings`` tables the analytics
registry reads. Sizes scale with ``sf`` (sf=0.1 gives 600k lineitem
rows). One parquet file with one row group per table.

Lineitem rows are generated per order with line numbers 1..k, so the
declared primary key (l_orderkey, l_linenumber) is unique and every
foreign key resolves: insert-ignore and the closure oracle then agree
on one row per key.

The data is fixed (its own seed), not drawn from the workload seed:
the workload seed varies the requests, the source stays the same.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
FORMAT = 1  # bump when the generated content changes

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "new", "old", "red", "small", "steel"]
PART_NOUN = ["anvil", "bolt", "gear", "nut", "plate", "ring", "rod", "screw"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64
EMBED_CLUSTERS = 10

ORDER_DAY0 = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENT_T0 = np.datetime64("2024-01-01", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000

def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def generate_tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """All source tables at scale ``sf`` as Arrow tables."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_vec = int(20_000 * sf)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    ts = pa.timestamp("us")
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
    })
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0, f64),
    })

    odate = ORDER_DAY0 + rng.integers(0, ORDER_DAYS, n_ord).astype(
        "timedelta64[D]"
    )
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), f64),
        "o_orderdate": pa.array(odate, ts),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    lines = rng.integers(1, 8, n_ord)  # 1..7 per order, mean 4
    n_line = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_num = np.arange(n_line) - starts + 1
    ship = odate[l_order] + rng.integers(1, 122, n_line).astype(
        "timedelta64[D]"
    )
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(l_num, i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(ship, ts),
    })

    offs = np.sort(rng.integers(0, EVENT_SPAN_US, n_evt))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(EVENT_T0 + offs.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, max(n_cust // 10, 1), n_evt), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })

    # 5% of the documents repeat an earlier text plus a marker word:
    # exact and near duplicates for the dedup family
    texts: list[str] = []
    lengths = rng.integers(10, 101, n_doc)
    dup = rng.random(n_doc) < 0.05
    for i in range(n_doc):
        if dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(WORDS)[rng.integers(0, len(WORDS), lengths[i])]
            texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    centers = rng.normal(0.0, 1.0, (EMBED_CLUSTERS, EMBED_DIM))
    label = rng.integers(0, EMBED_CLUSTERS, n_vec)
    vec = centers[label] + rng.normal(0.0, 0.6, (n_vec, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, i32),
    })
    return out


def ensure_source(root: str, sf: float) -> str:
    """Directory holding the tables at ``sf`` under ``root``; generated
    on first use (atomically, tmp dir + rename) and reused after."""
    final = os.path.join(root, f"sf{sf}-v{FORMAT}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in generate_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=table.num_rows or 1)
    try:
        os.rename(tmp, final)
    except OSError:  # a concurrent run won the rename
        shutil.rmtree(tmp, ignore_errors=True)
    return final
