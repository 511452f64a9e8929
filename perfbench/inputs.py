"""Seeded workload inputs: the cut pool, the request streams and the
analytics-query sample. Pure Python; the program only ever sees the
dicts and names these functions return.

The seed fills in every constant (segments, nations, dates, limits,
offsets, caps, predicates, which query of a cell). The *structure* of a
run is fixed: the same shapes in the same order and the same repeat
pattern, so runs on different seeds do comparable work and their
figures can be compared.
"""

from __future__ import annotations

import random

from perfbench.datagen import PRIORITIES, REGIONS, SEGMENTS

# one cut per shape of dbcut_spark.queries.FIXTURES, in pool order
SHAPES = (
    "closure_main",
    "orders_page",
    "backref_cap",
    "closure_m2m",
    "backref_global",
    "include_path",
    "include_multi",
)

# cut_load: pool index per request. Skewed (the first shapes repeat
# most), every shape appears, the first seven requests include all
# first contacts of the hot shapes and the rest are mostly repeats.
LOAD_PATTERN = (
    0, 1, 2, 0, 3, 1, 0, 4, 2, 1, 0, 5, 3, 0, 1, 6, 2, 0, 1, 4,
    0, 3, 1, 0, 2, 5, 0, 1, 3, 0, 6, 2, 1, 0, 4, 0, 1, 2, 3, 0,
)

# export order over the pool: the unbounded include cuts come early, so
# a short run renders both small and large frontiers
EXPORT_ORDER = (5, 0, 3, 6, 2, 1, 4)

# query_mix: the queries per module whose frozen warm time (query_pool.json)
# is nearest the target; the seed orders them
QUERY_TARGET_S = 0.6
QUERIES_PER_MODULE = 2
QUERY_MODULES = (
    "dbcut_spark.queries",
    "dbcut_spark.queries_relational",
    "dbcut_spark.queries_tpcds",
    "dbcut_spark.queries_pipeline",
)


def cut_pool(seed: int) -> list[dict]:
    """Seven cuts, one per FIXTURES shape, constants drawn from
    ``seed``. The two include cuts are unbounded (``limit: no``)."""
    r = random.Random(seed)
    year = r.randint(1995, 2000)
    regions = sorted(r.sample(REGIONS, 3))
    return [
        {  # deep traversal + where + order-by + offset + limit
            "from": "customer",
            "where": {"c_mktsegment": r.choice(SEGMENTS)},
            "order-by": "-c_custkey",
            "offset": r.randint(0, 5),
            "limit": r.randint(15, 25),
            "backref_limit": "no",
            "join_depth": 3,
            "backref_depth": 2,
            "exclude": ["events", "part", "supplier"],
        },
        {  # no traversal, range predicate, multi-key order, paging
            "from": "orders",
            "where": {
                "o_orderdate": {
                    "$gte": f"{year}-01-01 00:00:00",
                    "$lt": f"{year + 1}-01-01 00:00:00",
                },
                "o_orderstatus": r.choice(["F", "O", "P"]),
            },
            "order-by": ["-o_totalprice", "o_orderkey"],
            "offset": r.randint(0, 10),
            "limit": r.randint(20, 30),
            "join_depth": 0,
            "backref_depth": 0,
        },
        {  # per-parent backref cap
            "from": "customer",
            "where": {"c_nationkey": {"$lte": r.randint(3, 8)}},
            "limit": r.randint(25, 35),
            "backref_limit": r.randint(2, 4),
            "join_depth": 0,
            "backref_depth": 1,
            "exclude": ["events"],
        },
        {  # many-to-many hop orders <-> lineitem <-> part
            "from": "orders",
            "where": {
                "o_orderpriority": r.choice(PRIORITIES),
                "o_orderdate": {"$lt": f"{year}-07-01 00:00:00"},
            },
            "order-by": "-o_orderkey",
            "limit": r.randint(20, 30),
            "backref_limit": "no",
            "join_depth": 1,
            "backref_depth": 1,
            "exclude": ["customer", "supplier", "events"],
        },
        {  # global backref cap
            "from": "customer",
            "where": {"c_nationkey": {"$lte": r.randint(2, 6)}},
            "limit": r.randint(10, 20),
            "backref_limit": r.randint(30, 50),
            "backref_limit_mode": "global",
            "join_depth": 0,
            "backref_depth": 1,
            "exclude": ["events"],
        },
        {  # include pruning + cross-table $or/$in/$like, unbounded
            "from": "region",
            "include": ["customer"],
            "where": {
                "$or": {
                    "nation.n_name": {"$like": f"%_{r.randint(1, 2)}%"},
                    "$in": {"customer.c_mktsegment": sorted(r.sample(SEGMENTS, 2))},
                }
            },
            "limit": "no",
            "backref_limit": "no",
            "exclude": ["events", "supplier"],
        },
        {  # multi-target include, branching frontier, unbounded
            "from": "region",
            "include": ["customer", "supplier"],
            "where": {"r_name": {"$in": regions}},
            "limit": "no",
            "backref_limit": "no",
            "exclude": ["events"],
        },
    ]


def load_stream(seed: int, n: int = len(LOAD_PATTERN)) -> list[tuple[int, dict]]:
    """``n`` cut_load requests as (pool index, cut)."""
    pool = cut_pool(seed)
    idx = [LOAD_PATTERN[i % len(LOAD_PATTERN)] for i in range(n)]
    return [(i, pool[i]) for i in idx]


def export_stream(seed: int, n: int = 2 * len(SHAPES)) -> list[tuple[int, str, dict]]:
    """``n`` export requests as (pool index, format, cut): the pool in
    ``EXPORT_ORDER``, each cut first as JSON then as SQL."""
    pool = cut_pool(seed)
    out = []
    for i in range(n):
        k = EXPORT_ORDER[(i // 2) % len(EXPORT_ORDER)]
        out.append((k, "json" if i % 2 == 0 else "sql", pool[k]))
    return out


def cut_stream(seed: int) -> list[tuple[str, int, dict]]:
    """One cycle of cut_mix requests as (kind, pool index, cut), kind
    in load/json/sql: loads (``load_stream``) at even positions, exports
    (``export_stream``) at odd ones."""
    loads = load_stream(seed)
    exports = export_stream(seed)
    out = []
    for i, (k, cut) in enumerate(loads):
        out.append(("load", k, cut))
        k, fmt, cut = exports[i % len(exports)]
        out.append((fmt, k, cut))
    return out


def query_sample(seed: int, pool: dict[str, dict]) -> list[str]:
    """The ``QUERIES_PER_MODULE`` queries of each module whose measured
    warm noop time (``pool``: name -> {"module", "warm_s", ...}) is
    nearest ``QUERY_TARGET_S``, in an order drawn with ``seed``: modules
    interleave, the module order and each module's order seeded.

    The set is the same for every seed. Seed-drawn sets (two of a
    module's four nearest) differed in cost enough that ops/s and the
    median latency spread past their bounds across seeds."""
    r = random.Random(seed)
    per_module = []
    for module in r.sample(QUERY_MODULES, len(QUERY_MODULES)):
        names = sorted(
            (n for n in pool if pool[n]["module"] == module),
            key=lambda n: (abs(pool[n]["warm_s"] - QUERY_TARGET_S), n),
        )
        per_module.append(r.sample(names[:QUERIES_PER_MODULE], QUERIES_PER_MODULE))
    return [n for group in zip(*per_module) for n in group]
