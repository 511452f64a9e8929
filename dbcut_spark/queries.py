"""Query registry: every implemented operator exposed as a
``(spark, sf_dir) -> DataFrame`` callable plus (where SQL-expressible) a
DuckDB oracle SQL string over the same parquet tables.

This module backs ``__spark_entry__.py`` (driver contract). Column names
are aliased identically on both sides; float aggregations go through
DECIMAL so sums are exact and order-insensitive (hash-stable under
Spark's nondeterministic partition ordering).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbcut_spark.catalog import TPCH_CATALOG
from dbcut_spark.api import Engine
from dbcut_spark.plans.extraction import build_plan
from dbcut_spark.plans.oracle import plan_oracle_sql

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from dbcut_spark.sources.parquet import read_table

    return read_table(spark, sf_dir, name)


def dsum(col, alias: str, scale: int = 6):
    """Exact, order-insensitive sum of a double column: cast to DECIMAL,
    sum, cast back to DOUBLE (identical arithmetic in DuckDB oracle)."""
    return (
        F.sum(F.col(col).cast(f"decimal(25,{scale})")).cast("double").alias(alias)
    )


def dsum_sql(expr: str, alias: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(25,{scale}))) AS DOUBLE) AS {alias}"


# ---------------------------------------------------------------------------
# TPC-H-style analytics (adapted to the harness schema)
# ---------------------------------------------------------------------------


@register(
    "tpch_q1",
    sql=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity', 'sum_qty')},
           {dsum_sql('l_extendedprice', 'sum_base_price')},
           CAST(round(SUM(CAST(CAST(l_extendedprice * (1 - l_discount) AS DOUBLE)
                         AS DECIMAL(25,8))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(round(SUM(CAST(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DOUBLE)
                         AS DECIMAL(25,8))), 2) AS DOUBLE) AS sum_charge,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report (TPC-H Q1 shape). Single scan + partial agg;
    the filter and 7-column projection push down to parquet."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("double")
    charge = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    ).cast("double")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.round(F.sum(disc_price.cast("decimal(25,8)")), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge.cast("decimal(25,8)")), 2).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "tpch_q3",
    sql="""
    SELECT l.l_orderkey,
           CAST(round(SUM(CAST(CAST(l.l_extendedprice * (1 - l.l_discount) AS DOUBLE)
                         AS DECIMAL(25,8))), 2) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority (TPC-H Q3 shape): the filtered customer dim is
    genuinely small → forced broadcast; the orders⋈customer result is
    FACT-scale (half the orders table) and is deliberately NOT forced —
    a hard F.broadcast there dies at the 8 GB broadcast cap on a real
    scale factor (round-10 review), while AQE still broadcasts it
    automatically whenever it measures small; top-10 is
    TakeOrderedAndProject."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("double")
    return (
        li.join(
            o.join(F.broadcast(c.select("c_custkey")), F.col("o_custkey") == F.col("c_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue.cast("decimal(25,8)")), 2).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5_region_revenue",
    sql="""
    SELECT n.n_name,
           CAST(round(SUM(CAST(CAST(l.l_extendedprice * (1 - l.l_discount) AS DOUBLE)
                         AS DECIMAL(25,8))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """,
)
def tpch_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier revenue per nation (TPC-H Q5 shape). The TINY
    dims (region, nation) broadcast by force; the region-filtered
    customer set (~20% of a fact-scale table) and the full supplier
    table are left to AQE — forcing them would hit the 8 GB broadcast
    cap / driver OOM at a real scale factor (round-10 review), and AQE
    still broadcasts both automatically whenever the measured size
    allows (it does at every gate SF)."""
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = t(spark, sf_dir, "nation").join(
        F.broadcast(r.select("r_regionkey")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    c = t(spark, sf_dir, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_nationkey", "n_name")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("double")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue.cast("decimal(25,8)")), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@register(
    "topk_orders",
    sql="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC
    LIMIT 15
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k without a full sort: orderBy().limit() compiles to
    TakeOrderedAndProject (per-partition heaps + driver merge)."""
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(15)
    )


@register(
    "window_rank_orders",
    sql="""
    SELECT o_orderkey, o_custkey, o_totalprice, rnk FROM (
      SELECT o_orderkey, o_custkey, o_totalprice,
             rank() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC NULLS LAST, o_orderkey) AS rnk
      FROM orders)
    WHERE rnk <= 3
    ORDER BY o_custkey, rnk, o_orderkey
    """,
)
def window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-3 orders via window rank — one shuffle on the
    partition key, no join."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderkey", "o_custkey", "o_totalprice", F.rank().over(w).alias("rnk")
        )
        .filter(F.col("rnk") <= 3)
        .orderBy("o_custkey", "rnk", "o_orderkey")
    )


@register(
    "rollup_orders",
    sql="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregate (beyond-reference; Catalyst expands grouping sets
    in a single shuffle)."""
    return (
        t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Extraction-closure fixtures (the reference's core operator, J5)
# ---------------------------------------------------------------------------

FIXTURES: dict[str, dict] = {
    # deep traversal + full filter stack (mirrors FIXTURES.md corpus:
    # customer root, where + order-by + offset + limit)
    "closure_main": {
        "from": "customer",
        "where": {"c_mktsegment": "BUILDING"},
        "order-by": "-c_custkey",
        "offset": 2,
        "limit": 20,
        "backref_limit": "no",  # explicit: None would mean default-50
        "join_depth": 3,
        "backref_depth": 2,
        "exclude": ["events", "part", "supplier"],
    },
    # no-traversal root with range predicate + multi-key order + paging
    "orders_page": {
        "from": "orders",
        "where": {
            "o_orderdate": {"$gte": "1995-01-01 00:00:00", "$lt": "1996-01-01 00:00:00"},
            "o_orderstatus": "O",
        },
        "order-by": ["-o_totalprice", "o_orderkey"],
        "offset": 5,
        "limit": 25,
        "join_depth": 0,
        "backref_depth": 0,
    },
    # per-parent backref_limit (deterministic variant of reference O5)
    "backref_cap": {
        "from": "customer",
        "where": {"c_nationkey": {"$lte": 5}},
        "limit": 30,
        "backref_limit": 3,
        "join_depth": 0,
        "backref_depth": 1,
        "exclude": ["events"],
    },
    # strict-parity GLOBAL backref cap (reference's per-batch LIMIT,
    # SURVEY.md §7.3.3) — one deterministic PK-desc LIMIT per child fetch
    "backref_global": {
        "from": "customer",
        "where": {"c_nationkey": {"$lte": 3}},
        "limit": 15,
        "backref_limit": 40,
        "backref_limit_mode": "global",
        "join_depth": 0,
        "backref_depth": 1,
        "exclude": ["events"],
    },
    # many-to-many through an association table (reference J3: m2m eager
    # loads traverse root → assoc backref → far-side m2o exactly like
    # playlist ⟷ playlist_track ⟷ track, /root/reference/dbcut/query.py:234-235,
    # CHANGES.rst v0.6.0). TPC-H's lineitem IS an association table:
    # orders ⟷ lineitem ⟷ part. The far side (part) must be restricted
    # to rows reachable through the extracted assoc rows only.
    "closure_m2m": {
        "from": "orders",
        "where": {
            "o_orderpriority": "1-URGENT",
            "o_orderdate": {"$lt": "1996-01-01 00:00:00"},
        },
        "order-by": "-o_orderkey",
        "limit": 25,
        "backref_limit": "no",
        "join_depth": 1,
        "backref_depth": 1,
        "exclude": ["customer", "supplier", "events"],
    },
    # MULTI-target include pruning (reference `include:` accepts a list,
    # /root/reference/dbcut/query.py:183-221 picks a minimal path PER
    # target and keeps their union): region → nation forks into customer
    # AND supplier, sharing the nation prefix — exercises path-union
    # dedup plus a branching frontier, which the linear include_path
    # fixture cannot
    "include_multi": {
        "from": "region",
        "include": ["customer", "supplier"],
        "where": {"r_name": {"$in": ["ASIA", "EUROPE", "AFRICA"]}},
        "limit": "no",
        "backref_limit": "no",
        "exclude": ["events"],
    },
    # include-pruning + cross-table $or/$in/$like predicate
    # (mirrors the reference corpus customer_playlist include query)
    "include_path": {
        "from": "region",
        "include": ["customer"],
        "where": {
            "$or": {
                "nation.n_name": {"$like": "%IA%"},
                "$in": {"customer.c_mktsegment": ["BUILDING", "MACHINERY"]},
            }
        },
        # "no", not None: a Python None means "unset -> default cap"
        # (reference YAML parity), which would silently cap this
        # uncapped-exploration fixture at limit 10 / backref 50
        "limit": "no",
        "backref_limit": "no",
        "exclude": ["events", "supplier"],
    },
}

FIXTURE_TABLES: dict[str, list[str]] = {
    "closure_main": ["customer", "nation", "region", "orders", "lineitem"],
    "orders_page": ["orders"],
    "backref_cap": ["customer", "orders"],
    "backref_global": ["customer", "orders"],
    "closure_m2m": ["orders", "lineitem", "part"],
    "include_path": ["region", "nation", "customer"],
    "include_multi": ["region", "nation", "customer", "supplier"],
}


def _closure_fn(fixture: str, table: str, salted: bool | None = None):
    """Registry query for one table of a closure fixture. ``salted=True``
    is the forced-salted twin: the two-phase skew-safe backref cap must
    hash-match the plain window's oracle — salted == plain proven
    through DuckDB, not just plan-shape tests."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        plan = build_plan(TPCH_CATALOG, FIXTURES[fixture])
        ex = Engine(sf_dir, spark=spark, catalog=TPCH_CATALOG).executor
        ex.salted_backref_cap = salted
        return ex.closure_table(plan, table)

    if salted:
        run.__name__ = f"{fixture}_salted__{table}"
        run.__doc__ = (
            f"Extraction closure of {table!r} for fixture {fixture!r} "
            "with the skew-safe salted per-parent backref cap FORCED "
            "(operators/skew.py:salted_top_per_key) — same oracle as "
            "the plain-window twin, so the hash match is the salted == "
            "plain theorem under the DuckDB recomputation."
        )
    else:
        run.__name__ = f"{fixture}__{table}"
        run.__doc__ = (
            f"Extraction closure of {table!r} for fixture {fixture!r} "
            "(frontier semi-joins; see dbcut_spark.operators.closure)."
        )
    return run


for _fixture, _tables in FIXTURE_TABLES.items():
    _plan = build_plan(TPCH_CATALOG, FIXTURES[_fixture])
    for _table in _tables:
        _name = f"{_fixture}__{_table}"
        QUERIES[_name] = _closure_fn(_fixture, _table)
        ORACLES[_name] = plan_oracle_sql(_plan, _table)


QUERIES["backref_cap_salted__orders"] = _closure_fn(
    "backref_cap", "orders", salted=True
)
ORACLES["backref_cap_salted__orders"] = plan_oracle_sql(
    build_plan(TPCH_CATALOG, FIXTURES["backref_cap"]), "orders"
)


# ---------------------------------------------------------------------------
# Semi/anti joins and set operations — the closure operator (J5) and the
# insert-ignore sink (K1) are built on these (SURVEY.md §2.4/§2.7: "both
# must be first-class in the Spark engine"); exposed here as standalone
# oracle-checked queries.
# ---------------------------------------------------------------------------


@register(
    "semi_join_orders",
    sql="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def semi_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS semi-join (TPC-H Q4 shape): orders with at least one
    high-quantity line. left_semi never duplicates or widens rows, and
    only the join key of the probe side is read from lineitem."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey")
    )
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@register(
    "anti_join_customers",
    sql="""
    SELECT c_nationkey, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS total_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS anti-join (TPC-H Q22 shape): customers with no urgent
    order. Identical shape to the insert-ignore sink's "new rows only"
    pre-filter (sinks/insert_ignore.py)."""
    c = t(spark, sf_dir, "customer")
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "total_acctbal"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "union_dedup_orders",
    sql="""
    SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
    WHERE o_totalprice > 400000
    UNION
    SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
    WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 350000
    ORDER BY o_orderkey
    """,
)
def union_dedup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-with-dedup-by-PK — the semantics of running multiple
    extraction queries into one target with INSERT..IGNORE
    (SURVEY.md §2.7): unionByName + dropDuplicates on the key."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    a = o.filter(F.col("o_totalprice") > 400000)
    b = o.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 350000)
    )
    return a.unionByName(b).dropDuplicates(["o_orderkey"]).orderBy("o_orderkey")


@register(
    "distinct_agg_parts",
    sql="""
    SELECT p.p_brand,
           COUNT(DISTINCT l.l_suppkey) AS n_suppliers,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS total_qty
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
)
def distinct_agg_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate (TPC-H Q16 shape): distinct suppliers per
    brand. The part dim broadcasts; count(distinct) expands then
    re-aggregates in two shuffle-free-after-AQE passes."""
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_quantity", "total_qty"),
        )
        .orderBy("p_brand")
    )


@register(
    "scalar_export_orders",
    sql="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS orderdate_iso,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS totalprice_str,
           upper(o_orderstatus) AS status_upper,
           substr(o_orderpriority, 1, 1) AS priority_code
    FROM orders
    WHERE o_orderpriority LIKE '%URGENT'
    ORDER BY o_orderkey
    LIMIT 50
    """,
)
def scalar_export_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface of the JSON serializer (SURVEY.md §2.8):
    ISO-8601 'Z' datetimes, fixed-scale decimal rendering, string funcs,
    and a $like predicate — all JVM-side Column expressions."""
    return (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").like("%URGENT"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias(
                "orderdate_iso"
            ),
            F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias(
                "totalprice_str"
            ),
            F.upper("o_orderstatus").alias("status_upper"),
            F.substring("o_orderpriority", 1, 1).alias("priority_code"),
        )
        .orderBy("o_orderkey")
        .limit(50)
    )


@register(
    "outer_join_custdist",
    sql="""
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey)
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def outer_join_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13 shape): left outer
    join preserving order-less customers, two-level aggregation. The
    second agg's input is one row per customer — tiny, AQE coalesces."""
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch_q1(spark, sf_dir)


# pipeline + extended relational operators register themselves into
# QUERIES/ORACLES
import dbcut_spark.queries_pipeline  # noqa: E402,F401  isort:skip
import dbcut_spark.queries_relational  # noqa: E402,F401  isort:skip
import dbcut_spark.queries_tpcds  # noqa: E402,F401  isort:skip

# ---------------------------------------------------------------------------
# Gate-window ordering
# ---------------------------------------------------------------------------
# The driver's correctness gate samples the FIRST 50 entries of
# ``queries()`` in registration order, so registration order decides which
# queries get a driver-verified row each round. Policy: the 25 SURVEY §2
# core operators always stay inside the window; the remaining 25 slots
# rotate deterministically (keyed on the round number inferred from the
# CORRECTNESS_r*.json artifacts committed at the repo root) through every
# other registered query, so over successive rounds every query earns a
# driver-green row without ever evicting the §2 surface.

_CORE_GATE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5_region_revenue",
    "topk_orders",
    "window_rank_orders",
    "rollup_orders",
    "closure_main__customer",
    "closure_main__nation",
    "closure_main__region",
    "closure_main__orders",
    "closure_main__lineitem",
    "orders_page__orders",
    "backref_cap__customer",
    "backref_cap__orders",
    "backref_global__customer",
    "backref_global__orders",
    "include_path__region",
    "include_path__nation",
    "include_path__customer",
    "semi_join_orders",
    "anti_join_customers",
    "union_dedup_orders",
    "distinct_agg_parts",
    "scalar_export_orders",
    "outer_join_custdist",
    # J3: far side of the orders ⟷ lineitem ⟷ part m2m restricted
    # through the association rows — §2 surface, pinned every round
    "closure_m2m__part",
]

# Rotation pool, stable order, reordered for round 5 per the round-4
# verdict: (a) `embedding_quantize_int8` leads — its round-4 driver row
# errored in the driver's canonicalizer (fixed: the gate query now
# string-renders the int8 vector) and needs a green re-run; (b) then
# every query with no driver row in CORRECTNESS_r01-r04 (41 of them,
# incl. the whole round-2 TPC-H suite); (c) then the already-green
# round-1-3 extras. New queries are inserted at the FRONT of the pool
# (right after any pending re-runs) so they debut inside their own
# round's gate window. The offset anchor below is re-keyed to round 5
# to match this order.
_GATE_ROTATION = [
    "embedding_quantize_int8",
    # -- new round-5 queries debut here --
    "closure_m2m__orders",
    "closure_m2m__lineitem",
    # -- never driver-sampled through round 4 --
    "docs_token_heavy_hitters",
    "embedding_pq_topk",
    "embedding_binary_topk",
    "docs_length_batches",
    "tpch_q2_best_supplier",
    "tpch_q4_late_orders",
    "tpch_q6_revenue_forecast",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q10_returned_items",
    "tpch_q11_important_stock",
    "tpch_q12_ship_priority",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_cnt",
    "tpch_q17_small_qty_orders",
    "tpch_q18_large_orders",
    "tpch_q19_disjunctive_pred",
    "tpch_q20_excess_shippers",
    "tpch_q21_late_sole_supplier",
    "tpch_q22_idle_customers",
    "orders_zorder_stats",
    "multimodal_audio_windows",
    "docs_chunk_overlap",
    "docs_bm25_top_terms",
    "docs_gopher_rules",
    "docs_domain_mix_temperature",
    "docs_ngram_novelty",
    "events_funnel",
    "events_retention",
    "docs_length_quantiles",
    "events_hourly_gapfill",
    "orders_daily_ma7",
    "docs_strip_repeated_spans",
    "docs_clean_text",
    "docs_leakage_safe_split",
    "corpus_drift_psi",
    "events_hourly_drift_psi",
    "events_value_winsorized",
    "docs_tokenize_ids",
    # -- round-5 late additions: behind the never-sampled block so the
    # round-5 window (already computed above) keeps its 24 debut rows;
    # these land in round 6's spare slots --
    "docs_cdc_chunks",
    "embedding_centroid_drift",
    "docs_pmi_bigrams",
    # -- round-6 additions: behind the never-sampled block (pool slots
    # 24..46 = the 23 remaining never-sampled queries, all still inside
    # gate_window_for_round(6)). tpch_rf_refresh takes the window's
    # last slot (47) from dedup_incremental — which already has a green
    # r4 driver row, so no coverage is lost and the new query debuts in
    # round 6; later additions land in round 7's rotation. --
    "tpch_rf_refresh",
    "ann_recall_eval",
    # -- driver-green in rounds 1-4 --
    "dedup_incremental",
    "pii_scan",
    "docs_pack_sequences",
    "docs_weighted_sample",
    "corpus_curate",
    "corpus_stats",
    "vocab_build",
    "tfidf_top_terms",
    "substring_dup_frac",
    "ivf_cluster_profile",
    "events_enriched",
    "events_json_extract",
    "docs_truncate_tokens",
    "docs_source_quota",
    "embedding_jl_distortion",
    "multimodal_frame_sample",
    "embedding_semdedup",
    "shingle_distinct_kmv",
    "events_hourly_anomaly",
    "docs_bigram_logprob",
    "corpus_diff",
    "events_top_users_salted",
    "events_asof_next_purchase",
    "orders_overlap_windows",
    "text_token_stats",
    "text_quality",
    "lang_id",
    "doc_fingerprint",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    "embedding_neardup_lsh",
    "ann_lsh_topk",
    "docs_train_holdout",
    "docs_stratified_sample",
    "events_asof_attribution",
    "events_purchase_window_clicks",
    "events_hourly",
    "events_daily_rollup",
    "events_sessionize",
    "multimodal_features",
    "ann_ivf_topk",
    "text_repetition",
    "decontaminate_ngrams",
    # -- round-7 additions (TPC-DS-shaped pack): appended at the END of
    # the rotation pool on purpose — round 7's offset is 48 and its
    # slice covers pool indices 48..71, so entries landing at index 97+
    # leave the already-published round-7 window byte-identical; they
    # debut in a later round's slice (judge parity covers them now) --
    "tpcds_rollup_priority",
    "tpcds_cube_lineitem",
    "tpcds_yoy_nation",
    "tpcds_moving_avg",
    "tpcds_intersect_buyers",
    "tpcds_except_browsers",
    "tpcds_top_spenders",
    "tpcds_above_avg_orders",
    "tpcds_channel_rollup",
    "docs_mixture_weights",
    "tpcds_grouping_sets",
    "tpcds_pivot_status",
    "tpch_rf_refresh_partitioned",
    "docs_quantile_sketch",
    # -- round-8 additions: appended at the END (append-only rule); the
    # round-8+ never-sampled-first rule in gate_window_for_round makes
    # them debut in their own round's window anyway --
    "events_approx_distinct_users",
    "docs_approx_length_quantiles",
    "include_multi__region",
    "include_multi__nation",
    "include_multi__customer",
    "include_multi__supplier",
    "docs_hybrid_rrf",
    "events_scd2_state",
    "events_scd2_incremental",
    # -- round-9 additions: appended at the END (append-only rule);
    # never-sampled-first debuts them in round 9's window --
    "dedup_incremental_indexed",
    "docs_bpe_vocab",
    "docs_bpe_tokenize",
    "events_scd2_asof",
    "docs_bpe_compression",
    "docs_quality_logistic",
    # -- round-10 additions: appended at the END (append-only rule);
    # never-sampled-first debuts them in round 10's window --
    "docs_bpe_encode_unseen",
    "orders_manifest_snapshot",
    "docs_bpe_vocab50",
    "backref_cap_salted__orders",
    "dedup_ingest_sequential",
    "docs_bpe_token_ids",
    "docs_bpe_tokenize50",
    # -- round-11 additions: appended at the END (append-only rule);
    # never-sampled-first debuts them in round 11's window --
    "dedup_probe_prebuilt",
    "orders_manifest_skipping",
    "orders_manifest_time_travel",
    "orders_rollup_incremental",
    "events_stream_manifest_rollup",
    "events_rollup_approx_users",
    "orders_bucket_lookup",
    "orders_sync_incremental",
    "orders_manifest_changes",
    "part_fuzzy_match",
    "part_entity_clusters",
    "orders_manifest_mor_delete",
    "orders_manifest_merge",
    "orders_profile",
    "part_cooccur_triangles",
    "nation_trade_pagerank",
    "orders_expectations",
    "orders_price_histogram",
    "orders_corr_matrix",
    "orders_manifest_cdf",
    "orders_stream_cdc_merge",
]

GATE_WINDOW = 50


def _detect_round() -> int:
    """Round number = 1 + max CORRECTNESS_r{N}.json committed at the repo
    root (the driver writes one per completed round); 4 if none found
    (the rotation policy started in round 4)."""
    import glob
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    return (max(rounds) + 1) if rounds else 4


def _driver_sampled_before(round_no: int) -> set[str]:
    """Union of query names holding a PASSING driver CORRECTNESS row in
    any round BEFORE ``round_no`` — read from the CORRECTNESS_r*.json
    artifacts committed at the repo root. A row with an ``err`` or any
    ``*_match: false`` does not count: a query that failed its only
    sample re-enters the window until it passes once. Deterministic per
    round: the artifacts for rounds < N are frozen by the time round
    N's window is computed."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sampled: set[str] = set()
    for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if not m or int(m.group(1)) >= round_no:
            continue
        try:
            with open(p) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        sampled.update(
            name
            for name, row in rows.items()
            if not row.get("err")
            and not any(
                k.endswith("_match") and v is False for k, v in row.items()
            )
        )
    return sampled


def gate_window_for_round(
    round_no: int, sampled: set[str] | None = None
) -> list[str]:
    """The first-GATE_WINDOW queries the driver's gate will sample in
    ``round_no``: the core §2 surface plus this round's rotation slice.
    Shared by :func:`_reorder_for_gate` and the coverage guard test so
    the rotation arithmetic exists in exactly one place.

    Rounds <= 7 use the pure rotation (pinned by the published-window
    tests). Rounds >= 8 add a never-sampled-first rule (round-7 verdict
    item 1): pool queries with no driver row in ANY earlier round's
    CORRECTNESS artifact take the rotation slots before the rotation
    slice continues — so a query appended at the pool tail debuts in
    the NEXT round's window instead of waiting a full rotation lap.
    ``sampled`` overrides the artifact-derived sampled set (used by the
    coverage guard test to simulate future rounds)."""
    core = [q for q in _CORE_GATE if q in QUERIES]
    pool = [q for q in _GATE_ROTATION if q in QUERIES and q not in core]
    slots = max(GATE_WINDOW - len(core), 0)
    if not pool or slots == 0:
        return core
    off = ((round_no - 5) * slots) % len(pool)
    rotation = [
        pool[(off + i) % len(pool)] for i in range(min(slots, len(pool)))
    ]
    if round_no < 8:
        return core + rotation
    if sampled is None:
        sampled = _driver_sampled_before(round_no)
    pending = [q for q in pool if q not in sampled]
    fill = [q for q in rotation if q not in pending]
    return core + (pending + fill)[:slots]


def _reorder_for_gate() -> None:
    window = gate_window_for_round(_detect_round())
    placed = set(window)
    ordered = window + [q for q in QUERIES if q not in placed]
    snap_q, snap_o = dict(QUERIES), dict(ORACLES)
    QUERIES.clear()
    ORACLES.clear()
    for name in ordered:
        QUERIES[name] = snap_q[name]
        if name in snap_o:
            ORACLES[name] = snap_o[name]


_reorder_for_gate()
