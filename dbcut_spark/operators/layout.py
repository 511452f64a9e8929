"""Data-layout operators: Z-order (Morton) interleaving for
multi-dimensional file skipping (beyond-reference; the layout lever
behind Delta/Iceberg OPTIMIZE ZORDER BY).

Sorting 100 TB by one column gives perfect min/max pruning on that
column and none on any other. Interleaving the bits of two (or more)
dimension keys into one Morton code and range-partitioning by it gives
every dimension locality ~sqrt(files) pruning — the right layout when
scans filter sometimes by customer, sometimes by date.

Everything is integer bit arithmetic (shifts/AND), bit-identical in
any engine, so the layout math itself sits on the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def zvalue_sql(a: str, b: str, bits: int = 16) -> str:
    """Morton code of two non-negative ints (low ``bits`` of each) as
    one SQL expression, the same text for Spark (``F.expr``, one parse
    in place of a py4j call per term) and the DuckDB oracle: bit i of
    ``a`` lands at position 2i, bit i of ``b`` at 2i+1. The interleave
    is a sum of disjoint powers of two in BIGINT arithmetic: on an
    INT32 column, bit 15's term ((x & 32768) * 65536 = 2^31) overflows
    DuckDB's INT32 multiplication at runtime. ``a`` and ``b`` are SQL
    operands, quoted by the caller."""
    terms = []
    for i in range(bits):
        terms.append(f"((CAST({a} AS BIGINT) & {1 << i}) * {1 << i})")
        terms.append(f"((CAST({b} AS BIGINT) & {1 << i}) * {1 << (i + 1)})")
    return " + ".join(terms)


def zorder_bucket_stats(
    df: DataFrame,
    a: str,
    b: str,
    stat_cols: list[str] | None = None,
    n_buckets: int = 64,
    bits: int = 16,
) -> DataFrame:
    """Profile what a Z-ordered layout buys: range-partition rows by
    the Morton code of ``a``/``b`` (already scaled to the ``bits``-bit
    domain) into ``n_buckets`` equal z-ranges ("files") and report
    each bucket's min/max of every ``stat_cols`` column (default: the
    z-input columns themselves) — the min/max footer stats a scan
    would prune on. Tight per-bucket ranges on both dimensions = both
    predicates skip files; a single-column sort shows tight ranges on
    one column only."""
    stat_cols = stat_cols or [a, b]
    z = F.expr(zvalue_sql(f"`{a}`", f"`{b}`", bits))
    span = F.lit((1 << (2 * bits)) - 1)
    bucket = F.floor(z * n_buckets / (span + 1)).cast("int")
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in stat_cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return (
        df.select(*stat_cols, bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(*aggs)
        .orderBy("bucket")
    )
