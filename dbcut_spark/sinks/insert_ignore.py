"""Idempotent writes (reference K1): INSERT-IGNORE semantics as a
left-anti join against existing target PKs.

The reference compiles INSERT with per-dialect IGNORE clauses
(reference ``dbcut/compiler.py:66-78``: PG ``ON CONFLICT DO NOTHING``,
MySQL ``INSERT IGNORE``, SQLite ``INSERT OR IGNORE``). Spark's
JDBC/parquet writers have no conflict clause, so new rows are filtered
first: ``new ⟕̸ existing`` on the PK (LEFT ANTI), then appended.

Every insert-ignore is ONE write job: the anti-joined frame is appended
directly and the written row count rides that job as an ``observe``
metric (:func:`_observed_write`) — no cache, no count pre-pass. Loads
reach the parquet and JDBC writers through one router,
:func:`insert_ignore`.

An existing parquet target is read with the schema its footer stores
(:func:`_read_target`, a driver-side pyarrow footer read), not by
Spark's schema inference, which is one Spark job per read: the schema
guard and the anti-join's target side cost no job, and the footer is
read again on every call, so the guard always checks the table as it
stands.

Scale note: the anti-join shuffles on the PK unless the *existing-keys*
side is small enough to broadcast. For append-mostly pipelines the
existing-key set per write batch is the whole target — at 100 TB prefer
bucketed targets on the PK (`bucketBy`) so the anti-join is shuffle-free,
or partition-pruned targets where only overlapping partitions are read.
Not atomic under concurrent writers (documented divergence,
SURVEY.md §7.3.5).
"""

from __future__ import annotations

import json
import os
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def anti_new_rows(new: DataFrame, existing: DataFrame, pk: list[str]) -> DataFrame:
    """Rows of ``new`` whose PK is absent from ``existing``. A LEFT ANTI
    join's result does not depend on duplicate keys on its right side,
    so ``existing`` is not deduplicated: that aggregate would cost a
    shuffle stage for nothing."""
    return new.join(existing.select(*pk), on=pk, how="left_anti")


_SCHEME_RE = None


def _require_local_path(path: str, op: str) -> None:
    """The parquet sinks in this module implement idempotency and the
    staging swaps with LOCAL-filesystem primitives (os.path / os.rename
    / shutil). For an HDFS/S3 URI, os.path.exists is simply False — the
    insert-ignore anti-join would be silently SKIPPED (duplicate PK
    rows, no error: the exact property the sink exists for) and every
    swap would misroute. Reject scheme URIs loudly; object-store /
    HDFS tables go through sinks/manifest (single-object commit, no
    renames) instead."""
    global _SCHEME_RE
    if _SCHEME_RE is None:
        import re

        _SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*://")
    if _SCHEME_RE.match(path):
        raise ValueError(
            f"{op} uses local-filesystem staging swaps and cannot "
            f"target {path!r}; use sinks/manifest.publish_snapshot / "
            "upsert_snapshot for object-store or HDFS tables"
        )


_STAGING_SUFFIX = ".__staging__"
_PRUNED_SUFFIX = ".__pruned__"
_TOUCHED_MARKER = "_DBCUT_TOUCHED"


def _staging_complete(staged: str) -> bool:
    """A staged table is complete when its writer committed
    (``_SUCCESS``) AND it holds at least one data file: a zero-row
    partitioned write commits a directory holding only ``_SUCCESS``,
    from which no reader can infer a schema."""
    if not os.path.exists(os.path.join(staged, "_SUCCESS")):
        return False
    return any(
        not name.startswith(("_", "."))
        for _base, _dirs, files in os.walk(staged)
        for name in files
    )


def _recover_staging(spark: SparkSession, path: str) -> None:
    """Crash-recovery preamble for the staging-swap writers (insert,
    upsert, delete, compaction). Without it, a writer that died between
    ``shutil.rmtree(path)`` and ``os.rename(staged, path)`` leaves the
    table missing, and the RETRY would take the first-contact branch
    and silently rebuild the table from the delta alone.

    Every full-table rewrite stages the COMPLETE table under one
    suffix, ``.__staging__`` (:func:`_replace_table`), and removes the
    target only once the staging is complete: ``_SUCCESS`` plus at
    least one data file (:func:`_staging_complete`). So:

    - staging complete: the crash was after the staged write, possibly
      MID-rmtree of the target (rmtree is not atomic). The staging is
      the one provably complete copy of the intended state, so the swap
      is COMPLETED, never discarded (round-10 second-pass review);
      under the single-writer contract its state equals or succeeds
      the target's.
    - staging incomplete, target present: a crash mid-staged-write;
      the target was never touched — discard the staging.
    - staging incomplete, target missing: unreachable from that step
      order, so outside interference — raise rather than guess.

    Partition-PRUNED swaps stage only the touched partitions under
    ``.__pruned__`` and must never take the full-table swap, which
    would delete every untouched partition (round-10 ADVICE, high):
    :func:`_recover_pruned` re-applies them from their fsync'd
    ``_DBCUT_TOUCHED`` intent marker. It runs second: a pruned delete
    that emptied every partition ends with a full rewrite to a schema
    stub, and a crash inside that rewrite may have removed the table."""
    import shutil

    staged = path + _STAGING_SUFFIX
    if os.path.exists(staged):
        if _staging_complete(staged):
            if os.path.exists(path):
                shutil.rmtree(path)
            os.rename(staged, path)
        elif os.path.exists(path):
            shutil.rmtree(staged)
        else:
            raise RuntimeError(
                f"torn swap at {path!r}: the table directory is gone "
                f"and the leftover {staged!r} is incomplete (no "
                "_SUCCESS marker or no data file) — refusing to guess; "
                "restore one of them manually"
            )
        spark.catalog.refreshByPath(path)
    _recover_pruned(spark, path)


def _observed_write(df: DataFrame, write) -> int:
    """Run ``write(df)`` and return the number of rows it wrote. The
    count rides the write job itself as an ``observe`` metric: no
    cache, no separate count job, and the frame's lineage runs once.
    Observe only the frame being written: an observation on a join
    INPUT whose side AQE finds empty at runtime fails
    ``Observation.get``."""
    from pyspark.sql import Observation

    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return obs.get["n"]


def per_table(frames: dict[str, DataFrame], action) -> Iterator:
    """Run ``action(table, df)`` for every frame at once from driver
    threads and yield the results in input order: N tables, each one
    serial Spark round trip (a collect, a write), wait about one round
    trip instead of N.

    Workers: min(tables, ``defaultParallelism``). Each action is wrapped
    in ``inheritable_thread_target`` as it is submitted, so its jobs
    carry the caller's job group and local properties; one wrap per
    action, because a wrap is one copy of those properties and actions
    sharing a copy see each other's settings (a SQL execution id, a job
    description). A result is dropped here once the caller takes it,
    and an action's error is raised in its turn. Closing the generator,
    or an error, cancels the actions not yet started and waits for the
    running ones, so no worker outlives it."""
    from collections import deque
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    if not frames:
        return
    spark = next(iter(frames.values())).sparkSession
    workers = min(len(frames), spark.sparkContext.defaultParallelism)
    pool = ThreadPoolExecutor(workers, thread_name_prefix="dbcut-per-table")
    try:
        futures = deque(
            pool.submit(inheritable_thread_target(spark)(action), table, df)
            for table, df in frames.items()
        )
        while futures:
            yield futures.popleft().result()
    finally:
        pool.shutdown(wait=True, cancel_futures=True)


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _read_target(spark: SparkSession, path: str) -> DataFrame:
    """The parquet table at ``path``, read with the schema a schema-less
    ``spark.read.parquet`` infers, without that read's inference job.

    Spark infers a parquet schema (``mergeSchema`` off) from one data
    file's footer, taking the Spark schema the writer stored under
    ``org.apache.spark.sql.parquet.row.metadata``. Here the driver reads
    the first data file's footer with pyarrow, found by the walk every
    source read uses (``sources.parquet.data_files``), and hands that
    schema to ``spark.read.schema``, which runs no job; hive partition
    columns are not in any footer and are still discovered from the
    paths. The footer is read on every call, not memoized: the writers'
    schema guards compare against the table as it stands, and another
    writer may have replaced it. A table without such a footer (written
    by a non-Spark writer, or holding no data file) takes Spark's own
    inference."""
    import pyarrow.parquet as pq

    from dbcut_spark.sources.parquet import data_files

    first = next(data_files(path), None)
    if first is not None:
        meta = pq.read_metadata(first).metadata
        if meta and _SPARK_SCHEMA_KEY in meta:
            schema = StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
            return spark.read.schema(schema).parquet(path)
    return spark.read.parquet(path)


def _overwrite(
    out: DataFrame, dest: str, part_cols=(), options: dict | None = None
) -> None:
    writer = out.write.mode("overwrite").options(**(options or {}))
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(dest)


def _replace_table(
    spark: SparkSession,
    path: str,
    out: DataFrame,
    part_cols=(),
    options: dict | None = None,
) -> int:
    """Replace the table at ``path`` with ``out`` — the one full-table
    rewrite every writer uses. Returns the rows written.

    ``out`` is written (hive-partitioned by ``part_cols``, writer
    ``options`` passed through) to ``path + ".__staging__"`` with its
    row count riding that job (:func:`_observed_write`); only then is
    the target removed and the staging renamed in, and the session's
    file listing refreshed. A partitioned write of zero rows commits a
    directory holding only ``_SUCCESS``, so the staging is first
    rewritten as a flat zero-row schema stub: the swapped-in table is
    always readable. A crash at any step is recovered by
    :func:`_recover_staging`."""
    import shutil

    staged = path + _STAGING_SUFFIX
    n = _observed_write(
        out, lambda o: _overwrite(o, staged, part_cols, options)
    )
    if n == 0 and part_cols:
        _overwrite(out.limit(0), staged)
    shutil.rmtree(path)
    os.rename(staged, path)
    spark.catalog.refreshByPath(path)
    return n


def insert_ignore_parquet(
    spark: SparkSession, df: DataFrame, path: str, pk: list[str]
) -> int:
    """Append ``df`` rows to the parquet table at ``path``, skipping rows
    whose PK already exists. Returns the number of rows written.

    One write job: the anti-joined frame is appended directly and its
    row count rides that job as an ``observe`` metric. A zero-row
    append still creates a schema-only part-file. On first contact that
    stub is kept — it is the table's schema, so an empty first batch
    leaves a readable zero-row table. On an existing table (an
    all-duplicate batch, e.g. a foreachBatch replay) the stub this
    write added is removed, so a long-lived all-duplicate stream does
    not accrue one file per batch.

    A hive-partitioned target keeps its layout: appending flat
    part-files next to ``col=value/`` dirs would put leaf files at two
    directory depths and brick partition discovery for every later
    reader — so the append re-uses the detected partition columns (a
    zero-row partitioned append writes no file at all)."""
    _require_local_path(path, "insert_ignore_parquet")
    _recover_staging(spark, path)
    df = df.dropDuplicates(pk)
    part_cols: list[str] = []
    before: set[str] | None = None
    if os.path.exists(path):
        part_cols = detect_partition_cols(path)
        existing = _read_target(spark, path)
        # schema guard (same data-loss shape upsert_parquet blocks):
        # appending files whose column set/types differ from the
        # standing footers leaves a table where spark.read picks ONE
        # footer's schema and silently drops the other files' columns.
        # Partition columns compare by NAME only: their read-back type
        # is INFERRED from the path strings (a string partition column
        # holding numeric-looking values reads back as int), so a type
        # comparison would spuriously reject a legitimate append
        # (round-10 ADVICE) — and the append re-renders them into
        # paths anyway, so no footer ever carries their type.
        part_set = set(part_cols)

        def _sig(f):
            return (
                f.name,
                None if f.name in part_set else f.dataType.simpleString(),
            )

        diff = {_sig(f) for f in df.schema.fields} ^ {
            _sig(f) for f in existing.schema.fields
        }
        if diff:
            raise ValueError(
                f"insert_ignore_parquet schema mismatch vs {path!r}: "
                f"differing columns {sorted(diff)}; widen the target "
                "with upsert_parquet(schema_evolution='add') or align "
                "the frame upstream"
            )
        df = anti_new_rows(df, existing, pk)
        before = set(os.listdir(path))

    def _append(out: DataFrame) -> None:
        writer = out.write.mode("append")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(path)

    n = _observed_write(df, _append)
    if n == 0 and before is not None:
        # only this write's own stub (and its .crc) goes: files listed
        # before the write are never opened or deleted
        for name in set(os.listdir(path)) - before:
            if name.endswith((".parquet", ".parquet.crc")):
                os.remove(os.path.join(path, name))
    return n


def insert_ignore_jdbc(
    spark: SparkSession,
    df: DataFrame,
    url: str,
    table: str,
    pk: list[str],
    properties: dict[str, str] | None = None,
    batchsize: int = 5000,
    quote: str = '"',
) -> int:
    """JDBC variant: anti-join against the target's current PKs (pushed
    as a key-only JDBC read), then one batched append whose row count
    rides the write as an ``observe`` metric. Returns the rows written.
    ``batchsize`` mirrors the reference's PG executemany page size of
    5000 (reference ``dbcut/database.py:479-484``).

    Column identifiers in the key query are quoted (``quote``, pass a
    backtick for mysql): Spark's JDBC writer creates delimited —
    case-preserved — column names, and databases that uppercase unquoted
    identifiers (Derby, Oracle, DB2) would otherwise fail to resolve
    them. The table name is passed through verbatim, exactly as it was
    given to the writer's ``dbtable`` (which Spark also leaves
    unquoted)."""
    from dbcut_spark.sources.jdbc import write_append

    props = dict(properties or {})
    q = quote
    key_cols = ", ".join(f"{q}{c}{q}" for c in pk)
    existing = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("query", f"SELECT {key_cols} FROM {table}")
        .options(**props)
        .load()
    )
    # join strategy left to Spark/AQE: the existing-PK set is the WHOLE
    # target table's keys — forcing a broadcast would push millions of
    # rows through the driver (8 GB broadcast cap / driver OOM) on a
    # large target, the same reasoning as the parquet variant above
    out = df.dropDuplicates(pk).join(existing, on=pk, how="left_anti")
    return _observed_write(
        out,
        lambda o: write_append(
            o, url, table, batchsize=batchsize, properties=props
        ),
    )


def detect_partition_cols(path: str) -> list[str]:
    """Detect hive-style partition columns from the directory layout:
    each nesting level whose child directories are all ``col=value``
    with one shared column name contributes one partition column, root
    down. Returns [] for an unpartitioned target."""
    cols: list[str] = []
    cur = path
    while True:
        try:
            subdirs = [
                e for e in os.scandir(cur) if e.is_dir() and "=" in e.name
            ]
        except OSError:
            break
        if not subdirs:
            break
        col = subdirs[0].name.split("=", 1)[0]
        if not col or any(e.name.split("=", 1)[0] != col for e in subdirs):
            break
        cols.append(col)
        cur = subdirs[0].path
    return cols


def _escape_partition_value(value) -> str:
    """Hive/Spark partition-path encoding for one value (mirrors the
    behavior of Hive's ``FileUtils.escapePathName`` / Spark's
    ``ExternalCatalogUtils`` — both public code): NULL maps to the
    default-partition sentinel; unsafe path characters percent-encode
    as ``%XX``. Used only as the SECONDARY mechanism (locating a target
    dir that became empty); the primary swap walks the staged dirs
    Spark itself wrote, so an encoding mismatch on an exotic value can
    at worst leave an empty partition behind, never corrupt data."""
    if value is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(value, bool):
        # Spark renders booleans lowercase in partition paths; Python's
        # str() capitalizes — mismatch would miss (or on case-insensitive
        # filesystems, wrongly hit) the emptied-partition cleanup
        return "true" if value else "false"
    unsafe = set('"#%\'*/:=?\\{[]^')
    out = []
    for ch in str(value):
        if ch in unsafe or ord(ch) < 0x20 or ord(ch) == 0x7F:
            out.append(f"%{ord(ch):02X}")
        else:
            out.append(ch)
    return "".join(out)


# Partition-column types whose Python rendering in _escape_partition_value
# provably matches Spark's path encoding: strings (escaped), integrals,
# booleans (lowercased), dates (ISO yyyy-MM-dd), NULL (sentinel). Floats
# ('1e+20' vs '1.0E20'), timestamps (fractional-second formatting), and
# decimals (scale rendering) can drift — a drifted path would miss the
# emptied-partition cleanup and leave stale duplicate-PK rows, so those
# layouts take the full-rewrite path instead of the pruned swap.
_SWAP_SAFE_PARTITION_TYPES = {
    "string", "integer", "long", "short", "byte", "boolean", "date",
}


def _pruned_swap_safe(
    schema, part_cols: list[str], incoming_schema=None
) -> bool:
    """Type gate for the partition-pruned swap. ``schema`` is the
    READ-BACK (path-inferred) schema; when ``incoming_schema`` (the
    writer's declared types) is given, the two must AGREE per partition
    column — a disagreement means the path round-trip is lossy (a
    string column holding '01' reads back as integer 1, so the pruned
    swap would write c=1 next to the real c=01: doomed rows survive
    and survivors duplicate; round-11 review). Lossy layouts take the
    full rewrite."""
    types = {f.name: f.dataType.typeName() for f in schema.fields}
    if not all(
        types.get(c) in _SWAP_SAFE_PARTITION_TYPES for c in part_cols
    ):
        return False
    if incoming_schema is not None:
        # compare type CLASSES, not exact widths: inference reads a
        # long-written p=1 back as integer — same path rendering, so
        # widths within the integral family are path-lossless; only a
        # CLASS change (string '01' inferred as integral) is lossy
        def _cls(t):
            return (
                "integral"
                if t in ("byte", "short", "integer", "long")
                else t
            )

        inc = {f.name: f.dataType.typeName() for f in incoming_schema.fields}
        if any(
            _cls(inc.get(c)) != _cls(types.get(c)) for c in part_cols
        ):
            return False
    return True


def _delta_has_empty_partition_value(df: DataFrame, part_cols) -> bool:
    """True when a STRING partition column of the delta carries '' —
    Spark writes '' into __HIVE_DEFAULT_PARTITION__ (same dir as NULL)
    and reads it back as NULL, so the pruned swap's ``col == ''``
    scoping would miss the target's default-partition rows and the
    swap would replace that dir with the delta alone, silently
    deleting them (round-11 review). One LIMIT-1 job on the cached
    delta; hits take the full rewrite."""
    from pyspark.sql import functions as F

    str_cols = [
        f.name
        for f in df.schema.fields
        if f.name in part_cols and f.dataType.typeName() == "string"
    ]
    if not str_cols:
        return False
    cond = None
    for c in str_cols:
        e = F.col(c) == ""
        cond = e if cond is None else (cond | e)
    return df.filter(cond).limit(1).count() > 0


def _partition_reldir(part_cols: list[str], row) -> str:
    return "/".join(
        f"{c}={_escape_partition_value(row[c])}" for c in part_cols
    )


def _partition_filter(part_cols: list[str], rows):
    """Predicate over LITERALS on the partition columns — exactly the
    shape Catalyst's partition pruning folds into a pruned file listing
    (PartitionFilters in the scan). Single-column layouts compile to a
    flat ``IN`` list; multi-column to a BALANCED disjunction of
    conjunctions — a left-leaning 10k-term Or chain would be 10k
    expression-tree levels deep and overflow Catalyst's recursive
    processing, while the balanced tree stays at log2 depth."""
    rows = list(rows)
    if not rows:
        return F.lit(False)
    if len(part_cols) == 1:
        c = part_cols[0]
        vals = [r[c] for r in rows]
        non_null = [v for v in vals if v is not None]
        cond = F.col(c).isin(non_null) if non_null else F.lit(False)
        if len(non_null) != len(vals):
            cond = cond | F.col(c).isNull()
        return cond
    terms = []
    for r in rows:
        sub = None
        for c in part_cols:
            v = r[c]
            eq = F.col(c).isNull() if v is None else (F.col(c) == F.lit(v))
            sub = eq if sub is None else (sub & eq)
        terms.append(sub)
    while len(terms) > 1:
        terms = [
            terms[i] | terms[i + 1] if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def _staged_partition_dirs(staged: str, depth: int) -> list[str]:
    """Relative ``col=value[/col=value...]`` dirs of exactly ``depth``
    levels under the staged output root."""
    rels: list[str] = []

    def walk(base: str, rel: str, level: int) -> None:
        for e in os.scandir(base):
            if e.is_dir() and "=" in e.name:
                sub = os.path.join(rel, e.name) if rel else e.name
                if level + 1 == depth:
                    rels.append(sub)
                else:
                    walk(e.path, sub, level + 1)

    walk(staged, "", 0)
    return rels


def _write_touched_marker(
    staged: str,
    staged_rels: set[str],
    touched_rels: set[str],
    schema_json: str | None = None,
) -> None:
    """Persist the swap's intent INSIDE the staged dir before any
    target mutation: which partition dirs the staged output holds and
    which target partitions the operation touched (the difference =
    partitions that became empty and must be removed). fsync'd temp +
    rename so a torn marker can never be mistaken for a complete one
    — recovery treats staging without a marker as pre-swap and
    discards it (the target is untouched at that point)."""
    final = os.path.join(staged, _TOUCHED_MARKER)
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {
                "staged": sorted(staged_rels),
                "touched": sorted(touched_rels),
                # full table schema (partition cols as plain cols): lets
                # recovery leave a READABLE empty table when a delete
                # emptied every partition and crashed mid-swap — the
                # same schema-stub rewrite the non-crash flow does
                "schema": schema_json,
            },
            f,
        )
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, final)
    dfd = os.open(staged, os.O_RDONLY)
    try:
        os.fsync(dfd)  # make the rename itself durable
    finally:
        os.close(dfd)


def _apply_pruned_swap(
    staged: str, path: str, staged_rels, touched_rels,
    cleanup: bool = True,
) -> None:
    """Partition-wise swap, IDEMPOTENT so crash recovery can simply
    re-run it: a staged rel already moved by the crashed attempt is
    absent from the staging dir and skipped (never re-rmtree'd at the
    destination — that would delete the moved data); emptied-partition
    removal is naturally re-runnable.

    ``cleanup=False`` leaves the staging dir (and its intent marker) in
    place: a caller with POST-swap work that must survive a crash (the
    delete flow's empty-table normalization) removes it only after
    that work completes, so recovery can re-run the whole sequence —
    removing the marker first would strand the table unreadable with
    nothing left to recover from (round-11 review)."""
    import shutil

    staged_rels = set(staged_rels)
    for rel in staged_rels:
        src = os.path.join(staged, rel)
        if not os.path.exists(src):
            continue  # moved before the crash
        dst = os.path.join(path, rel)
        if os.path.exists(dst):
            shutil.rmtree(dst)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
    for rel in touched_rels:
        if rel not in staged_rels:
            dst = os.path.join(path, rel)
            if os.path.exists(dst):
                shutil.rmtree(dst)
            # prune now-empty ancestor value dirs (multi-level layouts):
            # a leftover empty k1=a/ would later make detect_partition_cols
            # misread the partition depth
            parent = os.path.dirname(dst)
            while (
                len(parent) > len(path)
                and os.path.isdir(parent)
                and not os.listdir(parent)
            ):
                os.rmdir(parent)
                parent = os.path.dirname(parent)
    if cleanup:
        # marker, leftover _SUCCESS + emptied value dirs
        shutil.rmtree(staged)


def _recover_pruned(spark: SparkSession, path: str) -> None:
    """Recovery for a leftover partition-pruned staging dir. The marker
    is written AFTER the staged write completes and BEFORE the first
    target mutation, so:

    - staging WITHOUT marker (or without _SUCCESS): the crash was
      mid-staged-write or pre-swap — the target is untouched; discard.
    - staging WITH _SUCCESS + marker, target present: the crash was
      mid-swap — re-apply the partition-wise swap from the marker
      (idempotent; see :func:`_apply_pruned_swap`).
    - target missing: unreachable from this module (a pruned swap
      never removes the table root) — outside interference; raise."""
    import shutil

    staged = path + _PRUNED_SUFFIX
    if not os.path.exists(staged):
        return
    marker = os.path.join(staged, _TOUCHED_MARKER)
    complete = os.path.exists(
        os.path.join(staged, "_SUCCESS")
    ) and os.path.exists(marker)
    if not complete:
        shutil.rmtree(staged)
        return
    if not os.path.exists(path):
        raise RuntimeError(
            f"pruned-swap leftover {staged!r} exists but the table "
            f"{path!r} is gone — a pruned swap never removes the table "
            "root, so this is outside interference; refusing to guess"
        )
    with open(marker) as f:
        intent = json.load(f)
    # cleanup deferred past the normalization below, mirroring the
    # non-crash delete flow: the marker is the recovery's only state
    _apply_pruned_swap(
        staged, path, intent["staged"], set(intent["touched"]),
        cleanup=False,
    )
    if intent.get("schema") and not any(
        e.is_dir() and "=" in e.name for e in os.scandir(path)
    ):
        # the recovered delete emptied every partition: a dir without
        # partition dirs (at most a stray _SUCCESS) is unreadable —
        # normalize to a readable empty table carrying the recorded
        # schema, exactly as the non-crash delete flow does
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(intent["schema"]))
        _replace_table(spark, path, spark.createDataFrame([], schema))
    shutil.rmtree(staged)
    spark.catalog.refreshByPath(path)


def _swap_touched_partitions(
    staged: str,
    path: str,
    part_cols: list[str],
    touched_rows,
    schema_json: str | None = None,
    cleanup: bool = True,
) -> None:
    """Replace in ``path`` exactly the partition dirs present in the
    staged output, and remove touched target partitions the staged
    output has no rows for (they became empty). Untouched partition
    dirs are never opened, moved, or rewritten. The swap's intent is
    persisted first (:func:`_write_touched_marker`) so a crash at any
    later point recovers by re-applying, never by the full-table swap
    (which would silently drop every untouched partition)."""
    staged_rels = set(_staged_partition_dirs(staged, len(part_cols)))
    touched_rels = {_partition_reldir(part_cols, r) for r in touched_rows}
    _write_touched_marker(staged, staged_rels, touched_rels, schema_json)
    _apply_pruned_swap(
        staged, path, staged_rels, touched_rels, cleanup=cleanup
    )


def upsert_parquet(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    pk: list[str],
    schema_evolution: str = "strict",
    counts: bool = True,
) -> tuple[int | None, int | None]:
    """MERGE semantics for a parquet target: incoming rows replace
    existing rows with the same PK (update) or append (insert).
    Implemented as existing-minus-incoming (left-anti on the PK) union
    incoming, written to a staging directory then swapped — the
    standard rewrite shape for formats without row-level updates.
    Returns (updated, inserted) counts.

    ``counts=False`` skips the updated/inserted split — whose only
    purpose is the return value and which costs one extra anti-join
    job over the existing table — and returns (None, None); for
    callers that discard the counts (the refresh-function gates,
    round-11 optimization, guide §1.2). The merge itself is
    unchanged.

    Scale: on a hive-partitioned target (layout auto-detected) the
    rewrite is restricted to TOUCHED partitions — the partitions the
    incoming rows land in, plus the partitions holding the old row of
    any matching PK (an update may move a row across partitions). The
    existing-side scan carries a literal partition predicate, so
    Catalyst prunes the file listing (PartitionFilters), and the swap
    replaces only those partition dirs — a 0.1% delta on a 100 TB
    target rewrites ~0.1%, not 100 TB. The touched-partition collect is
    bounded by the number of distinct touched partitions, not rows.
    Unpartitioned targets fall back to the full staging-swap rewrite.
    Not atomic under concurrent writers (same caveat as insert-ignore),
    and like any rewrite-based format, DataFrames built over the old
    files are invalid after the swap (the session's own listing cache
    is refreshed here).

    Schema drift (round-7 verdict item 3): an incoming column the
    target lacks previously vanished silently — a data-loss-shaped
    default for CDC sources that add columns. ``schema_evolution``:

    - ``"strict"`` (default): raise on extra incoming columns (a
      MISSING incoming column already fails loudly in the select);
    - ``"add"``: widen the target — existing rows get NULL backfill
      for the new columns (``unionByName(allowMissingColumns=True)``).
    """
    if schema_evolution not in ("strict", "add"):
        raise ValueError(
            f"schema_evolution must be 'strict' or 'add', got "
            f"{schema_evolution!r}"
        )
    _require_local_path(path, "upsert_parquet")
    _recover_staging(spark, path)
    df = df.dropDuplicates(pk)
    if not os.path.exists(path):
        n = _observed_write(df, lambda o: o.write.parquet(path))
        return (0, n) if counts else (None, None)
    part_cols = detect_partition_cols(path)
    existing = _read_target(spark, path)
    extra_cols = [c for c in df.columns if c not in existing.columns]
    if extra_cols and schema_evolution == "strict":
        raise ValueError(
            f"incoming frame has column(s) {extra_cols} the target "
            f"{path!r} lacks; pass schema_evolution='add' to widen the "
            "target (existing rows backfill NULL) or drop them upstream"
        )
    missing_cols = [c for c in existing.columns if c not in df.columns]
    if missing_cols:
        raise ValueError(
            f"incoming frame lacks target column(s) {missing_cols} "
            f"of {path!r} — upserts must carry the full row"
        )

    def _merged(keep: DataFrame) -> DataFrame:
        if extra_cols:  # schema_evolution == "add" (strict raised above)
            return keep.unionByName(df, allowMissingColumns=True)
        return keep.unionByName(df.select(*keep.columns))

    df = df.cache()
    try:
        incoming = df.count()
        if incoming == 0:
            # nothing to merge — don't rewrite the table (a delete-only
            # CDC micro-batch reaches here with an empty upsert side)
            return 0, 0
        if part_cols and not (
            extra_cols
            or not _pruned_swap_safe(existing.schema, part_cols, df.schema)
            or _delta_has_empty_partition_value(df, part_cols)
        ):
            # full rows guaranteed by the missing-col guard
            inc_parts = df.select(*part_cols).distinct()
            old_parts = (
                existing.join(df.select(*pk), on=pk, how="left_semi")
                .select(*part_cols)
                .distinct()
            )
            touched = inc_parts.unionByName(old_parts).distinct().collect()
            scoped = existing.filter(_partition_filter(part_cols, touched))
            keep = anti_new_rows(scoped, df, pk)
            updated = (
                incoming - anti_new_rows(df, scoped, pk).count()
                if counts else None
            )
            staged = path + _PRUNED_SUFFIX
            _overwrite(_merged(keep), staged, part_cols)
            _swap_touched_partitions(
                staged, path, part_cols, touched, keep.schema.json()
            )
            # the session caches file listings per path; the swap
            # invalidated them
            spark.catalog.refreshByPath(path)
        else:
            # full rewrite (partitioned layouts keep their layout), for
            # unpartitioned targets and two partitioned cases: (a)
            # widening is table-wide — a pruned rewrite would leave
            # untouched partition files without the new column, and an
            # unmerged read (Spark defaults to one footer's schema)
            # would drop or break on it; (b) float/timestamp/decimal
            # partition values, whose Python path rendering can drift
            # from Spark's encoding (the emptied-partition cleanup
            # would miss, leaving stale duplicate-PK rows)
            keep = anti_new_rows(existing, df, pk)
            updated = (
                incoming - anti_new_rows(df, existing, pk).count()
                if counts else None
            )
            _replace_table(spark, path, _merged(keep), part_cols)
        if not counts:
            return None, None
        return updated, incoming - updated
    finally:
        df.unpersist()


def delete_keys_parquet(
    spark: SparkSession, df_keys: DataFrame, path: str, pk: list[str],
    counts: bool = True,
) -> int | None:
    """Row-level delete for a parquet target: rewrite the table minus
    the rows whose PK appears in ``df_keys`` (left-anti join). Returns
    the number of rows deleted.

    ``counts=False`` returns None and skips the before-count job whose
    only purpose is that return value; the rows kept are counted on
    the rewrite job itself (an ``observe`` metric), never by reading
    the staged output back. The rewrite, the emptied-partition
    normalization, and the swap are unchanged (round-11 optimization,
    guide §1.2).

    Scale: on a hive-partitioned target, the partitions containing the
    doomed keys are found with a key-semi-join over a column-pruned
    (pk + partition cols only) scan, and ONLY those partitions are
    rewritten/swapped; a partition whose rows are all deleted is
    removed. Same staging-swap caveats as :func:`upsert_parquet`."""
    import shutil

    _require_local_path(path, "delete_keys_parquet")
    _recover_staging(spark, path)
    if not os.path.exists(path):
        return 0
    part_cols = detect_partition_cols(path)
    existing = _read_target(spark, path)
    keys = df_keys.select(*pk).dropDuplicates(pk)
    if part_cols and _pruned_swap_safe(existing.schema, part_cols):
        touched = (
            existing.join(keys, on=pk, how="left_semi")
            .select(*part_cols)
            .distinct()
            .collect()
        )
        if not touched:
            return 0
        # every touched value came FROM the target, so its TRUE dir
        # exists on disk — a rendered dir that does not is a lossy path
        # round-trip the type gate could not see (e.g. a string column
        # whose values all LOOK integral, '01' read back as 1): the
        # pruned swap would write c=1 beside the real c=01, leaving
        # doomed rows alive and duplicating the survivors (round-11
        # review). Those take the full rewrite below.
        if all(
            os.path.isdir(os.path.join(path, _partition_reldir(part_cols, r)))
            for r in touched
        ):
            scoped = existing.filter(_partition_filter(part_cols, touched))
            remaining = anti_new_rows(scoped, keys, pk)
            n_before = scoped.count() if counts else 0
            staged = path + _PRUNED_SUFFIX
            n_after = _observed_write(
                remaining, lambda o: _overwrite(o, staged, part_cols)
            )
            # cleanup deferred: the staging dir's marker must outlive
            # the empty-table normalization below — a crash between the
            # swap and the normalization used to strand an unreadable
            # table with nothing left for recovery to re-run (round-11
            # review)
            _swap_touched_partitions(
                staged, path, part_cols, touched, remaining.schema.json(),
                cleanup=False,
            )
            if not any(
                e.is_dir() and "=" in e.name for e in os.scandir(path)
            ):
                # every partition emptied — a dir holding only _SUCCESS
                # is unreadable ("unable to infer schema"); leave a
                # readable empty table carrying the full schema instead
                _replace_table(spark, path, remaining.limit(0))
            shutil.rmtree(staged)
            spark.catalog.refreshByPath(path)
            return n_before - n_after if counts else None
    # full rewrite (layout preserved): unpartitioned targets, partition
    # values whose Python path rendering can drift from Spark's
    # encoding (float/timestamp/decimal), and lossy round-trips (above)
    n_before = existing.count() if counts else 0
    n_after = _replace_table(
        spark, path, anti_new_rows(existing, keys, pk), part_cols
    )
    return n_before - n_after if counts else None


def _stage_name(table: str, kind: str) -> str:
    """Short collision-free staging-table name: dialect identifier caps
    (Oracle pre-12.2: 30 chars) bite when the target table name is long,
    so the table name is HASHED into a fixed-width IDENTIFIER instead of
    concatenated. Layout: dbcut_<kind>_<8-hex table hash>_<8-hex
    pid+uuid nonce> = 28 chars max (kind <= 3) — always under 30.
    pid+uuid nonce keeps concurrent runs against the same target on
    disjoint stages (round-8 fix), now length-capped (round-9 ADVICE).

    A schema-QUALIFIED target keeps its schema prefix ('sales.orders'
    stages as 'sales.dbcut_stg_...'): the stage must land next to the
    target — the connection's default schema may be read-only or
    CREATE-restricted, and only the identifier part is subject to the
    length cap anyway (round-9 review fix)."""
    import hashlib
    import uuid

    schema, dot, name = table.rpartition(".")
    thash = hashlib.sha1(name.encode()).hexdigest()[:8]
    nonce = hashlib.sha1(
        f"{os.getpid()}-{uuid.uuid4().hex}".encode()
    ).hexdigest()[:8]
    ident = f"dbcut_{kind}_{thash}_{nonce}"
    return f"{schema}.{ident}" if dot else ident


def upsert_sql(
    dialect: str,
    table: str,
    cols: list[str],
    pk: list[str],
    stage: str,
    quote: str = '"',
) -> list[str]:
    """Server-side upsert statement(s) moving every staging-table row
    into ``table`` with MERGE semantics, per dialect (each is the
    documented public syntax: PG ``ON CONFLICT DO UPDATE``, MySQL
    ``ON DUPLICATE KEY UPDATE``, SQLite upsert, ANSI ``MERGE`` for
    everything else — Derby/Oracle/DB2/SQL Server). Pure string
    builder, unit-testable without a database."""
    q = quote
    qc = lambda c: f"{q}{c}{q}"  # noqa: E731
    col_list = ", ".join(qc(c) for c in cols)
    non_pk = [c for c in cols if c not in pk]
    if dialect == "postgresql":
        conflict = ", ".join(qc(c) for c in pk)
        action = (
            "DO UPDATE SET "
            + ", ".join(f"{qc(c)} = EXCLUDED.{qc(c)}" for c in non_pk)
            if non_pk
            else "DO NOTHING"
        )
        return [
            f"INSERT INTO {table} ({col_list}) "
            f"SELECT {col_list} FROM {stage} "
            f"ON CONFLICT ({conflict}) {action}"
        ]
    if dialect == "mysql":
        if non_pk:
            action = "ON DUPLICATE KEY UPDATE " + ", ".join(
                f"{qc(c)} = VALUES({qc(c)})" for c in non_pk
            )
            return [
                f"INSERT INTO {table} ({col_list}) "
                f"SELECT {col_list} FROM {stage} {action}"
            ]
        return [
            f"INSERT IGNORE INTO {table} ({col_list}) "
            f"SELECT {col_list} FROM {stage}"
        ]
    if dialect == "sqlite":
        conflict = ", ".join(qc(c) for c in pk)
        action = (
            "DO UPDATE SET "
            + ", ".join(f"{qc(c)} = excluded.{qc(c)}" for c in non_pk)
            if non_pk
            else "DO NOTHING"
        )
        return [
            f"INSERT INTO {table} ({col_list}) "
            f"SELECT {col_list} FROM {stage} WHERE true "
            f"ON CONFLICT ({conflict}) {action}"
        ]
    # ANSI MERGE (Derby 10.11+, Oracle, DB2, SQL Server)
    on = " AND ".join(f"t.{qc(c)} = s.{qc(c)}" for c in pk)
    stmts = [
        f"MERGE INTO {table} t USING {stage} s ON ({on}) "
        + (
            "WHEN MATCHED THEN UPDATE SET "
            + ", ".join(f"{qc(c)} = s.{qc(c)}" for c in non_pk)
            + " "
            if non_pk
            else ""
        )
        + f"WHEN NOT MATCHED THEN INSERT ({col_list}) "
        + "VALUES (" + ", ".join(f"s.{qc(c)}" for c in cols) + ")"
    ]
    if dialect == "sqlserver":
        # SQL Server REQUIRES a terminating semicolon on MERGE (error
        # 10713); Derby conversely REJECTS trailing semicolons through
        # JDBC, so it is appended for this dialect only (round-11
        # review — the docstring claimed SQL Server support while the
        # statement could never execute there)
        stmts[0] += ";"
    return stmts


def jdbc_upsert(
    spark: SparkSession,
    df: DataFrame,
    url: str,
    table: str,
    pk: list[str],
    dialect: str = "ansi",
    quote: str = '"',
    batchsize: int = 5000,
) -> tuple[int, int]:
    """MERGE semantics against a live JDBC target — the JDBC twin of
    :func:`upsert_parquet`, completing the row-level mutation matrix.
    The delta lands in a staging table via Spark's batched JDBC writer
    (distributed), then ONE server-side set statement merges it into
    the target (:func:`upsert_sql`) — the incoming rows cross the wire
    once and the merge itself runs where the indexes are, instead of a
    row-at-a-time driver loop. Returns (updated, inserted).

    Scale: staging-write is the same parallel path as insert-ignore;
    the merge is one server-side statement, so the bottleneck is the
    target database (exactly where it must be — Spark cannot outrun
    the target's write path for row-level upserts)."""
    from dbcut_spark.sources.jdbc import jdbc_count, jdbc_execute, write_append


    out = df.dropDuplicates(pk).cache()
    try:
        # pid+uuid suffix: concurrent runs against the same target get
        # disjoint staging tables (a fixed name let two runs drop or
        # overwrite each other's stage mid-merge); dropped in `finally`
        # so a failed merge doesn't leak it. The (updated, inserted)
        # split derives from ONE stage-driven overlap count — an
        # EXISTS probe of the target keyed on the staged PKs (index
        # lookups bounded by the DELTA size), not the old pair of full
        # COUNT(*) table scans bracketing the merge, which dominated a
        # CDC loop against a large target (round-10 review). Reliable
        # only without CONCURRENT writers on the target — concurrent
        # merges still apply correctly (server-side MERGE), only the
        # returned split can misattribute.
        stage = _stage_name(table, "stg")
        n_stage = out.count()
        if not n_stage:
            return 0, 0
        try:
            # staging write INSIDE the drop-guard: JDBC appends are not
            # atomic across partitions, so a mid-write failure must
            # still reach the finally (DROP of a never-created stage is
            # swallowed below) instead of leaking a partial stage table
            write_append(out, url, stage, batchsize=batchsize)
            match = " AND ".join(
                f"s.{quote}{c}{quote} = t.{quote}{c}{quote}" for c in pk
            )
            updated = jdbc_count(
                spark, url, f"{table} t",
                where=f"EXISTS (SELECT 1 FROM {stage} s WHERE {match})",
            )
            jdbc_execute(
                spark, url,
                upsert_sql(dialect, table, out.columns, pk, stage, quote),
            )
        finally:
            try:
                jdbc_execute(spark, url, [f"DROP TABLE {stage}"])
            except Exception:
                pass  # cleanup best-effort; stage name is unique per run
        return updated, n_stage - updated
    finally:
        out.unpersist()


def jdbc_delete_keys(
    spark: SparkSession,
    df_keys: DataFrame,
    url: str,
    table: str,
    pk: list[str],
    quote: str = '"',
    batchsize: int = 5000,
) -> int:
    """Row-level delete against a live JDBC target (twin of
    :func:`delete_keys_parquet`): stage the doomed keys, one
    ``DELETE ... WHERE EXISTS`` (ANSI, every dialect), drop staging.
    Returns rows deleted."""
    from dbcut_spark.sources.jdbc import jdbc_execute, write_append


    q = quote
    keys = df_keys.select(*pk).dropDuplicates(pk).cache()
    try:
        if not keys.count():
            return 0
        # unique per run + finally-drop: same concurrency/leak
        # rationale as jdbc_upsert's staging table
        stage = _stage_name(table, "dk")
        try:
            # inside the drop-guard for the same partial-write reason
            # as jdbc_upsert's stage
            write_append(keys, url, stage, batchsize=batchsize)
            on = " AND ".join(f"s.{q}{c}{q} = {table}.{q}{c}{q}" for c in pk)
            (n,) = jdbc_execute(
                spark,
                url,
                [
                    f"DELETE FROM {table} WHERE EXISTS "
                    f"(SELECT 1 FROM {stage} s WHERE {on})"
                ],
            )
        finally:
            try:
                jdbc_execute(spark, url, [f"DROP TABLE {stage}"])
            except Exception:
                pass
        return n
    finally:
        keys.unpersist()


def insert_ignore(
    spark: SparkSession,
    df: DataFrame,
    destination: str,
    table: str,
    pk: list[str],
) -> int:
    """Insert-ignore one extraction frame into a load destination — the
    single router the CLI ``load`` and ``Engine.load`` share. Returns
    the rows written.

    A ``jdbc:`` destination is first-contact aware: when the table does
    not exist yet, Spark's JDBC append-mode writer emits the dialect's
    CREATE TABLE (mirroring the reference's ``create_all``) and the
    deduped frame is appended, even when empty; after that, inserts go
    through :func:`insert_ignore_jdbc`. Any other destination is a
    directory holding ``<table>.parquet`` per table."""
    if not destination.startswith("jdbc:"):
        return insert_ignore_parquet(
            spark, df, os.path.join(destination, f"{table}.parquet"), pk
        )
    from dbcut_spark.sources.jdbc import (
        jdbc_table_exists,
        url_dialect,
        write_append,
    )

    if not jdbc_table_exists(spark, destination, table):
        return _observed_write(
            df.dropDuplicates(pk),
            lambda o: write_append(o, destination, table),
        )
    # dialect-correct identifier quote: in default MySQL sql_mode a
    # double-quoted "id" is a STRING LITERAL, so the existing-keys
    # probe would select a constant per row, the anti-join would match
    # nothing, and every retry re-appended the full frame — silently
    # breaking the exact idempotency this sink exists for (round-11
    # review; the quote parameter existed but was never plumbed here)
    quote = "`" if url_dialect(destination) == "mysql" else '"'
    return insert_ignore_jdbc(spark, df, destination, table, pk, quote=quote)
