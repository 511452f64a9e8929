"""Manifest-commit atomic publish (round-9 verdict ask #4).

The staging-swap writers (``sinks/insert_ignore.py`` partition swap,
``sinks/compact.py``) rely on directory renames, which are atomic on
POSIX but do not exist on S3-class object stores — a crash between
per-partition swap steps would leave a reader-visible MIXED state at
exactly the 100 TB deployment target. This module makes the commit a
single object creation — the one primitive that is atomic on both
POSIX (hard-link of a fully-written temp file into the final name)
and object stores (one conditional PUT; readers see the whole object
or none):

    table/
      _manifests/00000001.json          append-only snapshot manifests
      data/<commit-uuid>/part-*.parquet immutable, never overwritten

Protocol:

- writers STAGE parquet under a fresh ``data/<uuid>/`` directory
  (names never reused, nothing overwritten, invisible to readers),
  then PUBLISH one manifest file listing every live data file of the
  new snapshot. Manifests are full snapshots — resolution reads one
  manifest, never a chain — and carry the schema, so even a 0-file
  snapshot reads back correctly;
- the publish is ``os.link(tmp, final)``: the temp file is complete
  and flushed before the final name exists, and link(2) fails with
  EEXIST if another writer took the version — the loser raises
  :class:`VersionConflictError` and its staged files remain invisible
  garbage for :func:`vacuum`. (On a real object store the equivalent
  is a conditional PUT / If-None-Match of the final object name; the
  filesystem branch here is the same protocol with POSIX primitives.)
- readers list ``_manifests/``, take the highest PARSEABLE version
  (a torn manifest — impossible under link/PUT atomicity, possible on
  weaker stores — is skipped, falling back to the previous snapshot),
  and read exactly that manifest's files. A reader holding version N
  is immune to concurrent publishes and vacuums of later versions:
  its file set is immutable.

Crash matrix (pinned by tests/test_sinks.py): die during staging →
old snapshot visible; die between staging and publish → old snapshot
visible, orphan files vacuumable; die after publish → new snapshot
visible. There is no intermediate.

Reference parity: the reference publishes a query's result cache by
writing the serialized payload and a count sidecar straight to their
final names (dbcut/query.py:108-118 save_to_cache) — fine for a
single-user local cache directory, not for a shared 100 TB table;
this module is that publish contract made concurrent, versioned and
object-store-safe.

Known scaling boundary, stated: manifests are SINGLE full-snapshot
JSON objects (files + per-file skip stats), so a snapshot of F files
with S stat columns costs O(F·S) manifest bytes — ~100 B per
(file, column). Fine through ~10^5 files (a few tens of MB, read
once per resolution); past that the next step is Iceberg's
manifest-list sharding, which this protocol's version/commit
semantics would carry over unchanged. compact_snapshot keeps F down
as part of normal maintenance.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
_TAGS_DIR = "_tags"

# Column name used to tag each data row with its file's commit sequence
# while merge-on-read tombstones apply (dropped before the reader sees
# the frame). Reserved: a table column with this name would collide.
_SEQ_COL = "__dbcut_file_seq"

# Above this many freshly-staged files, footer stats are collected by a
# Spark job over the file list instead of a driver loop: the manifest
# already holds the file list driver-side, so the collect is O(files)
# tiny dicts either way, but the FOOTER READS (one object GET each on a
# real store) must not serialize through the driver at 100 TB file
# counts.
_STATS_DISTRIBUTED_MIN_FILES = 64

# Manifest-IO backend. None → POSIX primitives (hard-link
# create-if-absent, the default). A configured store routes every
# manifest read/list/commit through the CONDITIONAL-PUT protocol
# (create-if-absent + etag-conditional delete — primitives every
# S3-class store has; no rename, link, or fsync), making the
# documented object-store mapping executable instead of prose
# (round-10 verdict ask #3; sinks/object_store.InMemoryObjectStore is
# the reference implementation + test double). DATA files still land
# wherever Spark's writer points (a shared filesystem / object-store
# connector); the protocol's atomicity lives entirely in the manifest
# commit, so the manifest IO is the one piece that must swap per
# store.
_MANIFEST_STORE = None


def set_manifest_store(store) -> None:
    """Install (or clear, with None) the manifest-IO backend. The store
    must expose list(prefix), read(path) -> (bytes, etag) | None,
    create_if_absent(path, bytes), delete_if_match(path, etag) ->
    bytes | None."""
    global _MANIFEST_STORE
    _MANIFEST_STORE = store


def _manifest_all_files(m: dict) -> list[str]:
    """Every table-relative file a manifest keeps alive: its data files
    PLUS its merge-on-read tombstone files. Vacuum/inspect must use
    this, not ``m["files"]`` — reaping a live tombstone would silently
    resurrect deleted rows."""
    return list(m["files"]) + [
        d["file"] for d in (m.get("deletes") or [])
    ]


class VersionConflictError(RuntimeError):
    """Another writer published this snapshot version first: the commit
    lost the race. Staged files remain invisible; retry the publish
    against the new current version (or vacuum the orphans)."""


def _manifest_path(table_path: str, version: int) -> str:
    return os.path.join(table_path, _MANIFEST_DIR, f"{version:08d}.json")


def _list_versions(table_path: str) -> list[int]:
    mdir = os.path.join(table_path, _MANIFEST_DIR)
    if _MANIFEST_STORE is not None:
        names = _MANIFEST_STORE.list(mdir)
    elif os.path.isdir(mdir):
        names = os.listdir(mdir)
    else:
        return []
    out = []
    for name in names:
        stem, dot, ext = name.partition(".")
        if ext == "json" and stem.isdigit():
            out.append(int(stem))
    return sorted(out)


def _parse_manifest_bytes(data: bytes, version: int) -> dict | None:
    try:
        m = json.loads(data)
    except ValueError:
        return None
    if not isinstance(m, dict) or m.get("version") != version:
        return None
    return m


def _load_manifest(table_path: str, version: int) -> dict | None:
    """Parse one manifest; None for a torn/unreadable file (readers
    skip it — see the module crash matrix)."""
    if _MANIFEST_STORE is not None:
        got = _MANIFEST_STORE.read(_manifest_path(table_path, version))
        if got is None:
            return None
        return _parse_manifest_bytes(got[0], version)
    try:
        with open(_manifest_path(table_path, version), "rb") as f:
            data = f.read()
    except OSError:
        return None
    # one parse-and-validate implementation for both IO backends: the
    # POSIX branch used to duplicate _parse_manifest_bytes inline, so
    # a validation tightening could silently diverge the read paths
    return _parse_manifest_bytes(data, version)


def current_version(table_path: str) -> int | None:
    """Highest parseable snapshot version, or None for an empty/new
    table."""
    for v in reversed(_list_versions(table_path)):
        if _load_manifest(table_path, v) is not None:
            return v
    return None


# Parquet footer min/max statistics on timestamp columns exist only for
# the INT64 encodings: Spark's default INT96 timestamps carry NO footer
# stats, which silently blinds footer-stats file skipping
# (prune_report/_file_may_match keep every file) on any session that did
# not opt into TIMESTAMP_MICROS. The engine's own session factory sets
# it (session.py), but staged writes must produce stats-bearing files
# under ANY caller session — the driver contract runs declared queries
# on a vanilla SparkSession — so every _stage write pins the conf for
# its duration. Refcounted per-session under a lock because _stage runs
# concurrently from the staging thread pools (MOR commit, ingest loop)
# and the SQL conf is session-global, not thread-local. The refcount is
# keyed on the JVM session, not the Python wrapper: two wrappers over
# one JVM session share its conf, so they must share one refcount too.
_TS_CONF_KEY = "spark.sql.parquet.outputTimestampType"
_TS_CONF_LOCK = threading.Lock()
_TS_CONF_STATE: dict[str, list] = {}  # JVM session UUID -> [depth, saved]


@contextmanager
def _stats_bearing_timestamps(spark: SparkSession):
    sid = spark._jsparkSession.sessionUUID()
    with _TS_CONF_LOCK:
        st = _TS_CONF_STATE.get(sid)
        if st is None:
            saved = spark.conf.get(_TS_CONF_KEY)
            spark.conf.set(_TS_CONF_KEY, "TIMESTAMP_MICROS")
            st = _TS_CONF_STATE[sid] = [0, saved]
        st[0] += 1
    try:
        yield
    finally:
        with _TS_CONF_LOCK:
            st[0] -= 1
            if st[0] == 0:
                del _TS_CONF_STATE[sid]
                spark.conf.set(_TS_CONF_KEY, st[1])


def _stage(
    df: DataFrame,
    table_path: str,
    partition_by: list[str] | None,
    repartition: bool = True,
) -> list[str]:
    """Write df's files under a fresh data/<uuid>/ dir and return their
    table-relative paths. Staged files are invisible until a manifest
    references them — this is the writer's crash-safe half.
    ``repartition=False`` trusts the caller's shuffle shape (e.g. the
    LSH band writer's salted spread layout, which a plain column
    repartition here would undo)."""
    commit_dir = os.path.join(_DATA_DIR, uuid.uuid4().hex)
    dst = os.path.join(table_path, commit_dir)
    writer = df.write
    if partition_by:
        # co-locate partitions before partitionBy — same layout rule as
        # sinks/compact.py (tasks x partitions small-file blowup)
        if repartition:
            df = df.repartition(*[F.col(c) for c in partition_by])
        writer = df.write.partitionBy(*partition_by)
    with _stats_bearing_timestamps(df.sparkSession):
        writer.parquet(dst)
    rels: list[str] = []
    for root, _dirs, files in os.walk(dst):
        for name in files:
            if name.endswith(".parquet"):
                rels.append(
                    os.path.relpath(os.path.join(root, name), table_path)
                )
    return sorted(rels)


def stage_files(
    df: DataFrame,
    table_path: str,
    partition_by: list[str] | None = None,
    repartition: bool = True,
) -> list[str]:
    """Public staging half of the two-phase publish: write ``df``'s
    data files under the table's staging area and return their
    table-relative paths for a later ``publish_snapshot(...,
    staged_files=...)``. Staged files are INVISIBLE until a manifest
    references them, so a caller may stage expensive data early (even
    concurrently with other work) and commit in ordered, cheap,
    driver-only publishes — the ingest loop stages its index batch
    while the corpus append runs, then commits corpus-before-index
    (round-11 optimization). A crash before the publish leaves only
    unreferenced orphans (vacuum sweeps them)."""
    return _stage(df, table_path, partition_by, repartition)


def _stat_encode(v):
    """(tag, json-form) for a footer min/max or predicate value, or None
    for types whose ordering the pruner does not reason about (binary,
    nested, NaN). Tags partition the comparison domains — a stored tag
    and a predicate tag that differ are never compared, so a type
    divergence can only LOSE pruning, never rows."""
    import datetime
    from decimal import Decimal

    if isinstance(v, bool):
        return ("num", int(v))
    if isinstance(v, (int, float)):
        if isinstance(v, float) and v != v:  # NaN orders as garbage
            return None
        return ("num", v)
    if isinstance(v, str):
        return ("str", v)
    if isinstance(v, datetime.datetime):
        # tz-aware values normalize to UTC; NAIVE values are taken as
        # UTC too — sound because the engine pins
        # spark.sql.session.timeZone=UTC (session.get_spark), so a
        # naive predicate literal and a stored instant mean the same
        # wall clock on both the pruning and the residual-filter side
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        # fixed-width ISO form: lexicographic order == temporal order.
        # Rendered by hand — glibc strftime('%Y') does NOT zero-pad
        # years < 1000, and '999-...' sorts AFTER '1000-...', which
        # would let a range predicate wrongly SKIP a file (review
        # finding, round 11)
        return (
            "ts",
            f"{v.year:04d}-{v.month:02d}-{v.day:02d}"
            f"T{v.hour:02d}:{v.minute:02d}:{v.second:02d}"
            f".{v.microsecond:06d}",
        )
    if isinstance(v, datetime.date):
        return ("date", v.isoformat())
    if isinstance(v, Decimal):
        return ("dec", str(v))
    return None


def _stat_comparable(tag_stored, stored, tag_pred, pred):
    """Bridge a stored bound and a predicate value into one ordered
    domain, or None when they cannot be compared safely.

    MIXED num/dec compares in DOUBLE space, because that is the domain
    Spark's residual filter uses for a decimal-column-vs-double-literal
    comparison (the decimal side casts to double, Python float → IEEE
    double with the same round-half-even). An exact-Decimal compare
    here could disagree with the filter at representation boundaries —
    a decimal file min of 0.10000000000000000555 is exactly the double
    0.1, so the filter MATCHES a row the exact compare would prune
    (review finding, round 11: pruning must mirror the filter's
    comparison domain, not be 'more precise' than it). Same-tag dec
    pairs still compare exactly (Spark compares decimal literals
    exactly too)."""
    from decimal import Decimal

    if tag_stored == tag_pred and tag_stored in ("num", "str", "ts", "date"):
        return (stored, pred)
    if tag_stored == tag_pred == "dec":
        return (Decimal(stored), Decimal(pred))
    if {tag_stored, tag_pred} <= {"num", "dec"}:
        try:
            return (float(stored), float(pred))
        except (OverflowError, ValueError):
            return None
    return None


_PRUNE_OPS = ("=", "==", "<", "<=", ">", ">=", "in")


def _file_may_match(file_stats: dict | None, where: list) -> bool:
    """Conservative footer-stats check: False ONLY when no row of the
    file can satisfy every predicate. Missing stats, unknown columns,
    or uncomparable domains always keep the file — correctness never
    depends on pruning (read_snapshot re-applies the predicate)."""
    if not file_stats:
        return True
    for col, op, val in where:
        s = file_stats.get(col)
        if not s:
            continue
        rows = s.get("rows")
        if rows and s.get("nulls") == rows:
            return False  # all-NULL column: no comparison matches
        if "min" not in s or "max" not in s:
            continue
        vals = list(val) if op == "in" else [val]
        # "in" keeps the file if ANY member can be inside [min,max];
        # any member the stats cannot reason about keeps it too
        decided_out = True
        for one in vals:
            pv = _stat_encode(one)
            if pv is None:
                decided_out = False
                break
            lo = _stat_comparable(s.get("t"), s["min"], pv[0], pv[1])
            hi = _stat_comparable(s.get("t"), s["max"], pv[0], pv[1])
            if lo is None or hi is None:
                decided_out = False
                break
            smin, v = lo
            smax, _ = hi
            try:
                if op in ("=", "==", "in"):
                    if smin <= v <= smax:
                        decided_out = False
                        break
                elif op == "<":
                    decided_out = not (smin < v)
                elif op == "<=":
                    decided_out = not (smin <= v)
                elif op == ">":
                    decided_out = not (smax > v)
                else:  # ">="
                    decided_out = not (smax >= v)
            except TypeError:
                decided_out = False
                break
        if decided_out:
            return False
    return True


def _footer_stats(abs_path: str, rel: str, cols: list) -> tuple:
    """Per-file column stats from the parquet FOOTER only (no data
    pages): aggregated min/max/null_count across row groups for each
    requested top-level column. A row group without statistics drops
    min/max (never guesses); parquet writers that omit or truncate
    binary stats still publish VALID bounds per the format contract.
    Top-level function so the distributed route can pickle it."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    rows = md.num_rows
    out = {}
    want = set(cols)
    chunks: dict[str, list] = {c: [] for c in want}
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for j in range(rg.num_columns):
            c = rg.column(j)
            if c.path_in_schema in want:
                chunks[c.path_in_schema].append(c)
    for col in cols:
        got = chunks.get(col) or []
        if len(got) != md.num_row_groups:
            continue  # not a leaf at this path (nested/absent): no entry
        entry = {"rows": rows}
        nulls = 0
        nulls_ok = True
        mins, maxs = [], []
        bounds_ok = True
        for c in got:
            st = c.statistics
            if st is None:
                nulls_ok = bounds_ok = False
                break
            if st.null_count is None:
                nulls_ok = False
            else:
                nulls += st.null_count
            if st.has_min_max and st.min is not None and st.max is not None:
                mins.append(st.min)
                maxs.append(st.max)
            else:
                bounds_ok = False
        if nulls_ok:
            entry["nulls"] = nulls
        if bounds_ok and mins:
            try:
                emin = _stat_encode(min(mins))
                emax = _stat_encode(max(maxs))
            except TypeError:
                emin = emax = None
            if emin is not None and emax is not None and emin[0] == emax[0]:
                entry["t"] = emin[0]
                entry["min"] = emin[1]
                entry["max"] = emax[1]
        out[col] = entry
    return rel, out


def _collect_stats(
    spark: SparkSession | None,
    table_path: str,
    rels: list[str],
    cols: list[str],
) -> dict:
    """Footer stats for freshly-staged files. Small commits read
    footers in a driver loop; past _STATS_DISTRIBUTED_MIN_FILES the
    reads fan out as a Spark job over the file list — the result is
    O(files) tiny dicts either way (the manifest already holds the
    file list driver-side), but footer GETs must not serialize through
    the driver at 100 TB file counts."""
    pairs = [(os.path.join(table_path, r), r) for r in rels]
    if spark is not None and len(pairs) > _STATS_DISTRIBUTED_MIN_FILES:
        colv = list(cols)
        res = (
            spark.sparkContext.parallelize(
                pairs, max(1, min(len(pairs) // 8 + 1, 256))
            )
            .map(lambda p: _footer_stats(p[0], p[1], colv))
            .collect()
        )
    else:
        res = [_footer_stats(a, r, cols) for a, r in pairs]
    return {r: st for r, st in res if st}


_PART_IDX_RE = None  # compiled lazily (module import stays light)


def _file_bucket_ids(rels: list[str]) -> dict[str, int]:
    """Map staged files to their hash-bucket id. Spark names each
    task's output part-{taskIndex:05d}-... and ``repartition(n, col)``
    makes task index == ``pmod(hash(col), n)`` (pinned by tests), so
    the bucket id rides the filename; empty buckets simply write no
    file."""
    import re

    global _PART_IDX_RE
    if _PART_IDX_RE is None:
        _PART_IDX_RE = re.compile(r"part-(\d+)-")
    out = {}
    for rel in rels:
        m = _PART_IDX_RE.search(os.path.basename(rel))
        if m is None:
            raise ValueError(
                f"staged file {rel!r} has no part-NNNNN index; cannot "
                "record its bucket id"
            )
        out[rel] = int(m.group(1))
    return out


def _probe_bucket_ids(
    spark: SparkSession, schema: StructType, col: str, n: int, values: list
) -> set[int]:
    """Bucket ids of probe values, computed by SPARK'S OWN hash in a
    1-row job — never a Python reimplementation: unlike min/max
    skipping (conservative by design), a wrong bucket id would SKIP a
    file that holds matching rows and silently lose them, so
    exactness here must be by construction. Values cast to the
    column's declared type first (hash(int) != hash(long))."""
    dtype = schema[col].dataType
    exprs = [
        F.pmod(F.hash(F.lit(v).cast(dtype)), F.lit(n)).alias(f"b{i}")
        for i, v in enumerate(values)
    ]
    row = spark.range(1).select(*exprs).collect()[0]
    return {row[i] for i in range(len(values))}


def _publish(table_path: str, manifest: dict) -> None:
    """Atomically create the manifest at its final, versioned name:
    fully write + flush a temp file, then hard-link it into place —
    link(2) is create-if-absent, so a racing writer gets EEXIST, never
    a torn or clobbered manifest.

    Torn-wreckage recovery: a TORN file at the target name (possible
    only on stores without atomic object writes — never produced by
    this protocol on POSIX) would otherwise deadlock publishing
    forever, because current_version skips it while the version slot
    stays occupied. Since torn ⇒ unparseable ⇒ no reader can resolve
    it, the wreckage is STOLEN by an atomic rename to a unique name —
    exactly one concurrent recoverer wins the rename, the loser's
    rename raises FileNotFoundError and it simply retries the link —
    then re-validated: if the stolen file turns out to be a VALID
    manifest (a winner published in the load→rename window), it is
    restored by linking it straight back and this writer loses the
    race, so a committed snapshot is never destroyed by a racing
    recoverer. (Residual weak-store window: a third writer linking
    into the slot between our steal and our restore would conflict
    with the restored winner; on POSIX the torn state itself is
    unreachable, so this path never executes at all.) A parseable
    occupant at link time is a genuine lost race and raises."""
    if _MANIFEST_STORE is not None:
        _publish_conditional_put(_MANIFEST_STORE, table_path, manifest)
        return
    mdir = os.path.join(table_path, _MANIFEST_DIR)
    os.makedirs(mdir, exist_ok=True)
    final = _manifest_path(table_path, manifest["version"])
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    conflict = VersionConflictError(
        f"snapshot version {manifest['version']} already published at "
        f"{final}; re-resolve current_version and retry"
    )
    try:
        for attempt in (0, 1):
            try:
                os.link(tmp, final)
                return
            except FileExistsError:
                if attempt > 0 or _load_manifest(
                    table_path, manifest["version"]
                ) is not None:
                    raise conflict from None
                # unparseable occupant: steal it atomically
                wreck = os.path.join(
                    mdir, f".wreck-{uuid.uuid4().hex}"
                )
                try:
                    os.rename(final, wreck)
                except FileNotFoundError:
                    continue  # another recoverer stole it; retry link
                try:
                    with open(wreck) as wf:
                        stolen = json.load(wf)
                except (OSError, ValueError):
                    stolen = None
                if (
                    isinstance(stolen, dict)
                    and stolen.get("version") == manifest["version"]
                ):
                    # we stole a COMMITTED manifest, not wreckage (a
                    # winner landed between our load and our rename) —
                    # put it back and lose
                    try:
                        os.link(wreck, final)
                    except FileExistsError:
                        # the slot was re-taken while empty: restoring
                        # would clobber the new occupant. NEVER destroy
                        # the displaced committed manifest — leave the
                        # wreck file on disk for operator recovery and
                        # surface its path (two writers were
                        # acknowledged for one version; only a weak
                        # store with torn reads can get here)
                        raise VersionConflictError(
                            f"version {manifest['version']} slot was "
                            "re-taken during torn-manifest recovery; a "
                            "displaced committed manifest is preserved "
                            f"at {wreck} — reconcile manually"
                        ) from None
                    os.unlink(wreck)
                    raise conflict from None
                os.unlink(wreck)  # confirmed torn: slot is now free
    finally:
        os.unlink(tmp)


def _publish_conditional_put(store, table_path: str, manifest: dict) -> None:
    """The object-store mapping of :func:`_publish`: one conditional
    PUT (If-None-Match: *) of the versioned manifest object. Same
    torn-wreckage recovery as the POSIX branch, expressed in the
    primitives a rename-less store actually has:

    - an occupant that parses as a valid manifest is a genuine lost
      race → :class:`VersionConflictError`;
    - an UNPARSEABLE occupant (only a weak store without atomic object
      writes can produce one) is stolen with an etag-CONDITIONAL
      delete — exactly one concurrent recoverer's If-Match wins — and
      the store returns the full bytes it deleted, which are then
      RE-VALIDATED: if they parse as a committed manifest, our earlier
      read was itself torn (weak-store torn READ) and we deleted a
      winner — restore it with create-if-absent and lose. If the slot
      was re-taken while we held the stolen winner, NEVER clobber the
      new occupant: preserve the displaced manifest at a unique
      .wreck- key and surface its path (two acknowledged writers for
      one version — operator reconciliation, same contract as the
      POSIX branch);
    - a confirmed-torn delete frees the slot and the PUT retries."""
    final = _manifest_path(table_path, manifest["version"])
    payload = json.dumps(manifest).encode()
    conflict = VersionConflictError(
        f"snapshot version {manifest['version']} already published at "
        f"{final}; re-resolve current_version and retry"
    )
    for _attempt in range(4):  # steal/vanish loops are finite but >2
        try:
            store.create_if_absent(final, payload)
            return
        except FileExistsError:
            got = store.read(final)
            if got is None:
                continue  # occupant vanished (another recoverer); retry
            data0, etag = got
            if _parse_manifest_bytes(data0, manifest["version"]) is not None:
                raise conflict from None  # genuine lost race
            deleted = store.delete_if_match(final, etag)
            if deleted is None:
                continue  # generation changed under us; re-examine
            stolen = _parse_manifest_bytes(deleted, manifest["version"])
            if stolen is not None:
                # we deleted a COMMITTED manifest — the read above was
                # torn, not the object. Put the winner back and lose.
                try:
                    store.create_if_absent(final, deleted)
                except FileExistsError:
                    wreck = os.path.join(
                        os.path.dirname(final),
                        f".wreck-{uuid.uuid4().hex}",
                    )
                    store.create_if_absent(wreck, deleted)
                    raise VersionConflictError(
                        f"version {manifest['version']} slot was "
                        "re-taken during torn-manifest recovery; a "
                        "displaced committed manifest is preserved "
                        f"at {wreck} — reconcile manually"
                    ) from None
                raise conflict from None
            # confirmed torn: slot is now free; loop retries the PUT
    raise conflict


def _check_append_schema(
    df: DataFrame, pm: dict, parent: int, schema_evolution: str | None = None
) -> None:
    """Fail schema drift at PUBLISH time: read_snapshot unions commit
    groups by name, so an append whose column set or types diverge
    from the parent would otherwise publish fine and leave the table
    HEAD unreadable for everyone until a repair overwrite (nullability
    is layout-free and allowed to differ).

    ``schema_evolution='add'`` permits the append to carry NEW columns
    (the manifest schema widens to the union; older files read back
    NULL for them) — same contract as insert_ignore's
    ``schema_evolution="add"``. Type changes and dropped columns stay
    rejected: a writer MISSING parent columns is a bug, not evolution."""
    parent_cols = {
        (f.name, f.dataType.simpleString())
        for f in StructType.fromJson(pm["schema"]).fields
    }
    df_cols = {
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    }
    extra = df_cols - parent_cols
    if schema_evolution == "add":
        parent_names = {n for n, _t in parent_cols}
        # an "extra" sharing a parent column's NAME is a type change
        retyped = sorted(n for n, _t in extra if n in parent_names)
        if retyped:
            raise ValueError(
                f"append schema mismatch vs snapshot {parent}: column "
                f"type changes {retyped} are not evolution; publish "
                "mode='overwrite' to retype the table"
            )
        missing = parent_cols - df_cols
        if missing:
            raise ValueError(
                f"append schema mismatch vs snapshot {parent}: "
                f"missing {sorted(missing)} — schema_evolution='add' "
                "only widens; dropped columns need mode='overwrite'"
            )
        return
    if parent_cols != df_cols:
        raise ValueError(
            f"append schema mismatch vs snapshot {parent}: "
            f"missing {sorted(parent_cols - df_cols)}, "
            f"extra {sorted(df_cols - parent_cols)}; publish "
            "mode='overwrite' to change the table schema, or "
            "schema_evolution='add' to append new columns"
        )


def publish_snapshot(
    df: DataFrame,
    table_path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    retries: int = 0,
    expected_parent: int | None = ...,
    repartition: bool = True,
    stats_cols: list[str] | None = None,
    properties: dict | None = None,
    cluster_by: list[str] | None = None,
    schema_evolution: str | None = None,
    bucket_by: tuple[str, int] | None = None,
    staged_files: list[str] | None = None,
) -> int:
    """Stage ``df`` as immutable parquet and publish it as the table's
    next snapshot. ``mode='overwrite'`` makes the new manifest exactly
    the staged files; ``mode='append'`` inherits the current
    snapshot's files too. Returns the published version.

    Concurrency: losing a version race raises
    :class:`VersionConflictError` with the staged files intact and
    invisible. With ``retries`` > 0 the commit retries WITHOUT
    re-staging — the expensive data write happened once; only the
    tiny manifest re-publishes against a re-resolved parent. For
    ``append`` the retry inherits the WINNER's file list plus this
    writer's staged files, which is exactly the serializable outcome
    of two appends; for ``overwrite`` a retry takes the next version
    (last overwriter wins — same semantics as racing directory
    swaps, but each intermediate snapshot stays readable).

    ``expected_parent`` pins optimistic concurrency for callers whose
    df was DERIVED from a specific snapshot (``upsert_snapshot``):
    the commit targets exactly version expected_parent+1, so a racing
    writer taking that version fails THIS publish with
    :class:`VersionConflictError` instead of letting a stale
    derivation silently overwrite the winner — incompatible with
    internal retries (which re-resolve the parent), so it requires
    ``retries=0``; pass None to pin 'the table must be empty'.

    ``stats_cols`` records per-file footer min/max/null_count for the
    named top-level columns in the manifest (Iceberg-style file
    skipping metadata); :func:`read_snapshot`'s ``where`` prunes on
    them. Stats are collected from footers ONLY (no data pages),
    distributed past _STATS_DISTRIBUTED_MIN_FILES staged files, and
    an append inherits the parent's entries for inherited files, so
    skipping metadata accumulates per commit without rescans.
    Partition columns are rejected (they are not in footers; hive
    path pruning already covers them).

    ``properties`` is an opaque JSON dict stored verbatim on this
    snapshot's manifest (not inherited by appends) — e.g. the
    materialized-view refresh cursor (operators/matview.py).

    ``cluster_by`` range-partitions and sorts the staged files on the
    named columns before the write, so each file covers a NARROW value
    range and ``stats_cols`` skipping actually bites: time-ordered
    ingest is naturally clustered, but a backfill/compaction of
    unsorted data would otherwise produce files whose [min,max] all
    span the whole domain — stats that keep every file are dead
    weight. Mutually exclusive with ``repartition=False`` (the caller
    would be asking for two different layouts).

    ``schema_evolution='add'`` lets an append carry NEW columns: the
    snapshot's schema widens to the union and files from older commits
    read back NULL for the added columns (readers union by name with
    missing columns allowed, then project the manifest schema order).
    Type changes and dropped columns stay loud errors — a log table
    grows columns; it does not silently retype them.

    ``bucket_by=(col, n)`` hash-buckets the staged files on ``col``
    into ``n`` files and records each file's bucket id in the
    manifest, so an equality/'in' ``where`` on that column opens 1/n
    of every commit's files — the skipping complement to min/max
    stats for UNIFORM keys (ids, hashes) that clustering cannot help.
    Appends must keep the parent's bucket spec (or overwrite to
    change it); the same Iceberg bucket-transform contract, with the
    probe's bucket ids computed by Spark's own hash so a skip can
    never lose rows. Incompatible with ``partition_by``/``cluster_by``
    (each owns file placement)."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    if schema_evolution not in (None, "add"):
        raise ValueError(
            f"schema_evolution must be None or 'add', got {schema_evolution!r}"
        )
    pin_parent = expected_parent is not ...
    if pin_parent and retries:
        raise ValueError(
            "expected_parent pins the commit to one version; internal "
            "retries would re-resolve the parent and break the "
            "optimistic-concurrency contract — retry by re-deriving df"
        )
    if stats_cols:
        missing = [c for c in stats_cols if c not in df.columns]
        if missing:
            raise ValueError(f"stats_cols not in df: {missing}")
        parted = [c for c in stats_cols if c in (partition_by or [])]
        if parted:
            raise ValueError(
                f"stats_cols {parted} are partition columns — they are "
                "not in parquet footers; hive path pruning already "
                "covers them"
            )
    if properties is not None:
        json.dumps(properties)  # fail a non-JSON dict before staging
    if cluster_by:
        if not repartition:
            raise ValueError(
                "cluster_by lays files out by range; repartition=False "
                "asks to keep the caller's layout — pick one"
            )
        missing = [c for c in cluster_by if c not in df.columns]
        if missing:
            raise ValueError(f"cluster_by not in df: {missing}")
        layout = list(partition_by or []) + [
            c for c in cluster_by if c not in (partition_by or [])
        ]
        df = df.repartitionByRange(*layout).sortWithinPartitions(*layout)
        repartition = False  # _stage must not undo the range layout
    if bucket_by:
        bcol, bn = bucket_by
        if partition_by or cluster_by or not repartition:
            raise ValueError(
                "bucket_by owns file placement; it cannot combine with "
                "partition_by, cluster_by, or repartition=False"
            )
        if bcol not in df.columns:
            raise ValueError(f"bucket_by column {bcol!r} not in df")
        if not isinstance(bn, int) or bn < 1:
            raise ValueError(f"bucket_by needs n >= 1, got {bn!r}")
        df = df.repartition(bn, F.col(bcol))
    os.makedirs(table_path, exist_ok=True)
    if mode == "append":
        # validate schema BEFORE the expensive data write: staging
        # first would burn a full parquet pass on a doomed commit and
        # leave its files as grace-protected orphans for a day
        pre_parent = (
            expected_parent if pin_parent else current_version(table_path)
        )
        if pre_parent is not None:
            pm0 = _load_manifest(table_path, pre_parent)
            if pm0 is not None:
                _check_append_schema(df, pm0, pre_parent, schema_evolution)
    # staged_files: the caller already wrote these table-relative files
    # via _stage and is retrying JUST the manifest commit (the
    # streaming sink's CAS loop re-checks its txn map per attempt, so
    # publish-internal retries can't serve it; without this, every
    # lost CAS re-wrote the whole batch as fresh orphans)
    staged = (
        staged_files
        if staged_files is not None
        else _stage(df, table_path, partition_by, repartition)
    )
    staged_stats = (
        _collect_stats(df.sparkSession, table_path, staged, stats_cols)
        if stats_cols
        else {}
    )
    staged_buckets = _file_bucket_ids(staged) if bucket_by else {}
    bucket_spec = (
        {"col": bucket_by[0], "n": bucket_by[1]} if bucket_by else None
    )
    for attempt in range(retries + 1):
        parent = expected_parent if pin_parent else current_version(table_path)
        files: list[str] = []
        stats: dict = {}
        buckets: dict = {}
        deletes: list = []
        seqs: dict = {}
        if mode == "append" and parent is not None:
            pm = _load_manifest(table_path, parent)
            if pm is None:
                # the parent manifest vanished between resolution and
                # inheritance (vacuum race / stale pinned parent) —
                # loud and retryable, not a TypeError
                raise VersionConflictError(
                    f"parent snapshot {parent} of {table_path} is gone "
                    "(vacuumed or never existed); re-resolve and retry"
                )
            # re-checked per attempt: a retry may inherit a DIFFERENT
            # winner's schema than the pre-stage check saw
            _check_append_schema(df, pm, parent, schema_evolution)
            parent_spec = pm.get("bucket_by")
            if parent_spec != bucket_spec:
                # mixed layouts would silently blind (or worse, corrupt)
                # bucket pruning for every probe after this commit
                raise ValueError(
                    f"append bucket layout {bucket_spec} != parent "
                    f"snapshot {parent}'s {parent_spec}; publish "
                    "mode='overwrite' to change the bucket spec"
                )
            files.extend(pm["files"])
            # inherited files keep their recorded stats even when THIS
            # publish doesn't collect any: they are facts about
            # immutable files, not about this commit
            stats.update(pm.get("stats") or {})
            buckets.update(pm.get("buckets") or {})
            # merge-on-read tombstones ride across appends — dropping
            # them would resurrect every deleted row — and once any
            # exist, newly staged files record their commit sequence so
            # equality deletes keep applying only to OLDER data (files
            # without a recorded seq read as 0: committed before the
            # first delete, so every tombstone applies — conservative
            # and exactly right for pre-MOR history)
            deletes.extend(pm.get("deletes") or [])
            seqs.update(pm.get("seqs") or {})
        files.extend(staged)
        stats.update(staged_stats)
        buckets.update(staged_buckets)
        version = (parent or 0) + 1
        if deletes:
            for rel in staged:
                seqs[rel] = version
        schema_fields = list(df.schema.fields)
        if mode == "append" and parent is not None and schema_evolution:
            # the snapshot schema is the UNION: parent fields keep
            # their positions, genuinely-new columns append after —
            # so readers of older snapshots and of this one agree on
            # every shared column's slot
            parent_schema = StructType.fromJson(pm["schema"])
            df_by_name = {f.name: f for f in df.schema.fields}
            schema_fields = list(parent_schema.fields) + [
                f
                for f in df.schema.fields
                if f.name not in {p.name for p in parent_schema.fields}
            ]
            # shared columns take the df's (equal-typed) field to keep
            # nullability current
            schema_fields = [
                df_by_name.get(f.name, f) if f.name in df_by_name else f
                for f in schema_fields
            ]
        manifest = {
            "version": version,
            "parent": parent,
            "mode": mode,
            "files": files,
            "n_files": len(files),
            "partition_by": list(partition_by or []),
            "schema": json.loads(StructType(schema_fields).json()),
        }
        if stats:
            manifest["stats"] = stats
        if bucket_spec:
            manifest["bucket_by"] = bucket_spec
            manifest["buckets"] = buckets
        if deletes:
            manifest["deletes"] = deletes
            manifest["seqs"] = seqs
        if properties is not None:
            manifest["properties"] = properties
        try:
            _publish(table_path, manifest)
            return version
        except VersionConflictError:
            if attempt >= retries:
                raise
    raise AssertionError("unreachable")


def _read_files(
    spark: SparkSession,
    table_path: str,
    rels: list[str],
    schema: StructType,
    version: int,
    seq_by_rel: dict | None = None,
) -> DataFrame:
    """Read an explicit list of a snapshot's table-relative data files.
    Files are grouped per commit directory and read with that directory
    as basePath, so hive partition columns written by ``partition_by``
    reconstruct; groups union by name. An empty list returns an empty
    frame with the snapshot's schema. Shared by :func:`read_snapshot`
    and the materialized-view delta reader (operators/matview.py),
    which reads exactly the files one append added.

    ``seq_by_rel`` (merge-on-read reads only) tags every row with its
    file's commit sequence in a ``_SEQ_COL`` literal column, so
    equality-delete tombstones can apply only to rows committed BEFORE
    them. The tag is a per-commit-group literal (one _stage call = one
    ``data/<uuid>/`` dir = one commit = one seq), costing nothing at
    scan time; files without a recorded seq read as 0 (pre-MOR
    history — every tombstone applies)."""
    if not rels:
        out = spark.createDataFrame([], schema)
        if seq_by_rel is not None:
            out = out.withColumn(_SEQ_COL, F.lit(0).cast("long"))
        return out
    by_commit: dict[str, list[str]] = {}
    rel_of: dict[str, str] = {}
    for rel in rels:
        parts = rel.split(os.sep)
        base = os.path.join(table_path, *parts[:2])  # data/<uuid>
        full = os.path.join(table_path, rel)
        by_commit.setdefault(base, []).append(full)
        rel_of[full] = rel
    # one existence probe per COMMIT GROUP: vacuum deletes in sorted
    # path order, so even a crash mid-vacuum leaves a partially-expired
    # group missing its lexicographically-FIRST file — probing min()
    # per group therefore catches whole AND partial expiry up front,
    # with a retention error instead of a mid-job path-not-found
    for base, paths in sorted(by_commit.items()):
        if not os.path.exists(min(paths)):
            raise FileNotFoundError(
                f"snapshot version {version} of {table_path} has been "
                "expired by vacuum (its data files are deleted); only "
                f"versions >= {current_version(table_path)}'s retention "
                "window are readable"
            )
    out: DataFrame | None = None
    for base, paths in sorted(by_commit.items()):
        piece = spark.read.option("basePath", base).parquet(*paths)
        if seq_by_rel is not None:
            group_seq = max(
                int(seq_by_rel.get(rel_of[p], 0)) for p in paths
            )
            piece = piece.withColumn(
                _SEQ_COL, F.lit(group_seq).cast("long")
            )
        # allowMissingColumns: commits published before a
        # schema_evolution='add' lack the added columns and read back
        # NULL for them; publish-time checks guarantee shared columns
        # agree in type, so this can never paper over real drift
        out = (
            piece
            if out is None
            else out.unionByName(piece, allowMissingColumns=True)
        )
    # a manifest-schema column no file carries (a schema_evolution
    # append whose staged write produced zero files) materializes as a
    # typed NULL — the schema the manifest promises is the schema the
    # reader gets, and a where= on the new column filters instead of
    # failing analysis (review finding, round 11)
    have = set(out.columns)
    for f in schema.fields:
        if f.name not in have:
            out = out.withColumn(f.name, F.lit(None).cast(f.dataType))
    names = [f.name for f in schema.fields]
    if seq_by_rel is not None:
        names = names + [_SEQ_COL]
    if set(names) == set(out.columns):
        # deterministic column order: the manifest schema's, not
        # whichever commit group happened to sort first
        out = out.select(*names)
    return out


def _where_column(where: list):
    cond = None
    for col, op, val in where:
        if op not in _PRUNE_OPS:
            raise ValueError(
                f"unsupported where op {op!r}; one of {_PRUNE_OPS}"
            )
        if op == "in":
            members = list(val) if isinstance(val, (list, tuple, set)) else None
            if not members or any(m is None for m in members):
                raise ValueError(
                    f"where 'in' for {col!r} needs a non-empty sequence "
                    "of non-NULL values"
                )
            e = F.col(col).isin(members)
            cond = e if cond is None else (cond & e)
            continue
        if val is None:
            raise ValueError(
                f"where value for {col!r} is None: comparison predicates "
                "never match NULL — filter NULLs explicitly"
            )
        c = F.col(col)
        e = {
            "=": c == F.lit(val),
            "==": c == F.lit(val),
            "<": c < F.lit(val),
            "<=": c <= F.lit(val),
            ">": c > F.lit(val),
            ">=": c >= F.lit(val),
        }[op]
        cond = e if cond is None else (cond & e)
    return cond


def _bucket_prune(
    spark: SparkSession, m: dict, rels: list[str], where: list
) -> list[str]:
    """Keep only the files whose recorded bucket id can hold a row
    matching every equality/'in' predicate on the bucket column.
    Files without a recorded bucket (pre-bucketing commits after an
    overwrite race, never in practice) are kept conservatively; probe
    ids come from Spark's own hash (see _probe_bucket_ids)."""
    spec = m.get("bucket_by")
    if not spec:
        return rels
    buckets = m.get("buckets") or {}
    schema = StructType.fromJson(m["schema"])
    allowed: set[int] | None = None
    for col, op, val in where:
        if col != spec["col"] or op not in ("=", "==", "in"):
            continue
        values = list(val) if op == "in" else [val]
        ids = _probe_bucket_ids(spark, schema, col, spec["n"], values)
        allowed = ids if allowed is None else (allowed & ids)
    if allowed is None:
        return rels
    return [r for r in rels if r not in buckets or buckets[r] in allowed]


import re as _re

_TAG_NAME_RE = _re.compile(r"^[A-Za-z0-9._-]{1,64}$")


def _tag_path(table_path: str, name: str) -> str:
    return os.path.join(table_path, _TAGS_DIR, f"{name}.json")


def _check_tag_name(name: str) -> None:
    if not _TAG_NAME_RE.match(name) or name.isdigit():
        raise ValueError(
            f"invalid tag name {name!r}: letters/digits/._- up to 64 "
            "chars, and not all-digits (a numeric string would be "
            "ambiguous with a version number in read_snapshot)"
        )


def tag_snapshot(
    table_path: str,
    name: str,
    version: int | None = None,
    replace: bool = False,
) -> int:
    """Pin a named TAG to a snapshot version (head by default) — the
    Iceberg-refs contract: ``read_snapshot(version='name')`` resolves
    it, and :func:`vacuum` keeps a tagged snapshot's data files alive
    REGARDLESS of ``keep_last``, so a tag is how a release/audit cut
    survives retention. Returns the tagged version.

    Tags are create-only unless ``replace=True``. On POSIX, create is
    hard-link (create-if-absent — concurrent taggers race loudly) and
    replace is ``os.replace`` (atomic swap). On an object-store
    backend, create is a conditional PUT; replace is etag-conditional
    delete + re-create, with a small documented window where the tag
    is absent (a reader retries or reads head — never a torn tag)."""
    _check_tag_name(name)
    if version is None:
        version = current_version(table_path)
        if version is None:
            raise FileNotFoundError(
                f"no published snapshot under {table_path} to tag"
            )
    if _load_manifest(table_path, version) is None:
        raise FileNotFoundError(
            f"cannot tag version {version} of {table_path}: no "
            "readable manifest at that version"
        )
    payload = json.dumps({"name": name, "version": int(version)}).encode()
    final = _tag_path(table_path, name)
    if _MANIFEST_STORE is not None:
        if replace:
            got = _MANIFEST_STORE.read(final)
            if got is not None:
                _MANIFEST_STORE.delete_if_match(final, got[1])
        try:
            _MANIFEST_STORE.create_if_absent(final, payload)
        except FileExistsError:
            raise VersionConflictError(
                f"tag {name!r} already exists on {table_path}; pass "
                "replace=True to move it"
            ) from None
        return int(version)
    tdir = os.path.join(table_path, _TAGS_DIR)
    os.makedirs(tdir, exist_ok=True)
    tmp = os.path.join(tdir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "wb") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    try:
        if replace:
            os.replace(tmp, final)  # atomic swap; tmp is consumed
            return int(version)
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise VersionConflictError(
                f"tag {name!r} already exists on {table_path}; pass "
                "replace=True to move it"
            ) from None
        return int(version)
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass  # consumed by os.replace


def resolve_tag(table_path: str, name: str) -> int:
    """The version a tag points at. Raises FileNotFoundError for an
    unknown tag; a torn/unparseable tag file raises too (loud, never a
    silent wrong snapshot)."""
    _check_tag_name(name)
    final = _tag_path(table_path, name)
    if _MANIFEST_STORE is not None:
        got = _MANIFEST_STORE.read(final)
        data = got[0] if got is not None else None
    else:
        try:
            with open(final, "rb") as f:
                data = f.read()
        except OSError:
            data = None
    if data is None:
        raise FileNotFoundError(
            f"no tag {name!r} on {table_path} "
            f"(tags: {sorted(list_tags(table_path))})"
        )
    try:
        payload = json.loads(data)
        return int(payload["version"])
    except (ValueError, KeyError, TypeError):
        raise FileNotFoundError(
            f"tag {name!r} on {table_path} is unreadable/torn; "
            "re-create it with tag_snapshot(replace=True)"
        ) from None


def delete_tag(table_path: str, name: str) -> None:
    """Remove a tag (its snapshot becomes subject to normal retention
    at the next vacuum). Unknown tags raise."""
    _check_tag_name(name)
    final = _tag_path(table_path, name)
    if _MANIFEST_STORE is not None:
        got = _MANIFEST_STORE.read(final)
        if got is None:
            raise FileNotFoundError(f"no tag {name!r} on {table_path}")
        _MANIFEST_STORE.delete_if_match(final, got[1])
        return
    try:
        os.unlink(final)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no tag {name!r} on {table_path}"
        ) from None


def list_tags(table_path: str) -> dict:
    """All readable tags as ``{name: version}`` (torn tag files are
    skipped here — resolve_tag is the loud path)."""
    tdir = os.path.join(table_path, _TAGS_DIR)
    if _MANIFEST_STORE is not None:
        names = _MANIFEST_STORE.list(tdir)
    elif os.path.isdir(tdir):
        names = os.listdir(tdir)
    else:
        return {}
    out: dict = {}
    for fname in names:
        stem, dot, ext = fname.rpartition(".")
        if ext != "json" or not stem or stem.startswith("."):
            continue
        try:
            out[stem] = resolve_tag(table_path, stem)
        except (FileNotFoundError, ValueError):
            continue
    return out


def publish_pointer(
    table_path: str,
    properties: dict,
    expected_parent: int | None = ...,
    retries: int = 0,
) -> int:
    """Publish a ZERO-FILE snapshot whose entire value is its
    ``properties`` — a versioned, atomically-swapped pointer (no
    staging, no Spark jobs, one manifest create). The multi-table
    consistency primitive: a pointer recording ``{table: version}``
    pairs gives readers a CONSISTENT cross-table cut even though each
    table commits independently — resolve the pointer once, then
    ``read_snapshot(version=...)`` every member at its recorded
    version (operators/dedup.py pins the LSH index's bands+exact pair
    this way). Same optimistic-concurrency contract as
    publish_snapshot: ``expected_parent`` pins the CAS, losers raise
    :class:`VersionConflictError`."""
    json.dumps(properties)  # fail a non-JSON dict before taking a slot
    pin_parent = expected_parent is not ...
    if pin_parent and retries:
        raise ValueError(
            "expected_parent pins the commit to one version; retry by "
            "re-deriving the pointer contents"
        )
    os.makedirs(table_path, exist_ok=True)
    for attempt in range(retries + 1):
        parent = (
            expected_parent if pin_parent else current_version(table_path)
        )
        version = (parent or 0) + 1
        try:
            _publish(
                table_path,
                {
                    "version": version,
                    "parent": parent,
                    "mode": "pointer",
                    "files": [],
                    "n_files": 0,
                    "partition_by": [],
                    "schema": json.loads(StructType([]).json()),
                    "properties": properties,
                },
            )
            return version
        except VersionConflictError:
            if attempt >= retries:
                raise
    raise AssertionError("unreachable")


def read_snapshot(
    spark: SparkSession,
    table_path: str,
    version: int | str | None = None,
    where: list | None = None,
) -> DataFrame:
    """Resolve a snapshot (newest parseable manifest by default; pass
    ``version`` for time travel) and read exactly its files. A 0-file
    snapshot returns an empty frame with the manifest's schema. A
    version whose data files :func:`vacuum` has expired raises
    FileNotFoundError up front (manifests outlive their files as
    version history — see vacuum).

    ``where`` — a list of ``(column, op, value)`` with op in
    ``= == < <= > >=`` — SKIPS whole data files whose manifest footer
    stats (see ``publish_snapshot(stats_cols=...)``) prove no row can
    match, then applies the same predicate to the surviving rows, so
    the result is exactly the predicate's rows regardless of which
    files carry stats: pruning is purely a scan-size optimization,
    conjunctive over the predicates, and conservative everywhere
    (missing stats keep the file). At 100 TB this is the difference
    between opening every file of every commit and opening the few
    whose [min,max] straddle the predicate — the same file-skipping
    contract as Iceberg/Delta data skipping."""
    if isinstance(version, str):
        # a TAG name (Iceberg-refs contract): resolve to its pinned
        # version; all-digit strings are rejected at tag time, so the
        # two namespaces cannot collide
        version = resolve_tag(table_path, version)
    if version is None:
        version = current_version(table_path)
        if version is None:
            raise FileNotFoundError(
                f"no published snapshot under {table_path}"
            )
    m = _load_manifest(table_path, version)
    if m is None:
        raise FileNotFoundError(
            f"snapshot version {version} missing or torn under {table_path}"
        )
    schema = StructType.fromJson(m["schema"])
    rels = m["files"]
    cond = None
    if where:
        cond = _where_column(where)  # validate ops/values BEFORE pruning
        stats = m.get("stats") or {}
        rels = [r for r in rels if _file_may_match(stats.get(r), where)]
        rels = _bucket_prune(spark, m, rels, where)
    deletes = m.get("deletes") or []
    out = _read_files(
        spark, table_path, rels, schema, version,
        seq_by_rel=(m.get("seqs") or {}) if deletes else None,
    )
    if cond is not None:
        # predicate before the tombstone anti-join: both are row
        # filters (they commute), and filtering first shrinks the
        # join's probe side
        out = out.filter(cond)
    if deletes:
        out = _apply_deletes(spark, table_path, out, deletes)
    return out


def _apply_deletes(
    spark: SparkSession,
    table_path: str,
    out: DataFrame,
    deletes: list,
) -> DataFrame:
    """Apply a snapshot's merge-on-read equality-delete tombstones: one
    LEFT ANTI join per distinct key-column spec (one in practice — a
    table keeps one key), matching on key equality AND tombstone seq >
    row's file seq, so a key re-inserted AFTER its delete survives
    (Iceberg equality-delete sequence semantics). Tombstone sets are
    small by contract (compact_snapshot materializes them away), so AQE
    plans the anti join as a broadcast; the equality columns keep it a
    hash join with the seq comparison as residual — never a cartesian."""
    groups: dict[tuple, list] = {}
    for d in deletes:
        groups.setdefault(tuple(d["cols"]), []).append(d)
    for cols, entries in sorted(groups.items()):
        tomb = None
        for e in entries:
            piece = (
                spark.read.parquet(os.path.join(table_path, e["file"]))
                .select(
                    *[F.col(c).alias(f"__dbcut_del_{c}") for c in cols]
                )
                .withColumn(
                    "__dbcut_del_seq", F.lit(int(e["seq"])).cast("long")
                )
            )
            tomb = piece if tomb is None else tomb.unionByName(piece)
        cond = F.col("__dbcut_del_seq") > F.col(_SEQ_COL)
        for c in cols:
            cond = cond & (F.col(c) == F.col(f"__dbcut_del_{c}"))
        out = out.join(tomb, cond, "left_anti")
    return out.drop(_SEQ_COL)


def resolve_property_map(
    table_path: str, key: str, head: int | None = None
) -> dict:
    """The newest committed ``properties[key]`` MAP at or below
    ``head`` (the current version by default) — the shared resolver
    for the consistency-pointer family (the streaming sink's
    ``stream_txn`` batch map, the sync cursor map, the replica's
    consumed-version map). Normally one manifest read: every writer of
    ``key`` carries the whole map forward, so the head has it. Walks
    BACK past commits published without it (manual appends, upserts,
    foreign writers) and past overwrites — a reset table's old map
    still marks its ids as consumed, the conservative reading for
    replay detection. A torn/missing manifest steps down one version
    (may visit a side branch's commit, whose map is still a valid
    committed record)."""
    if head is None:
        head = current_version(table_path)
    v = head
    while v is not None and v >= 1:
        m = _load_manifest(table_path, v)
        if m is not None:
            props = m.get("properties") or {}
            if key in props:
                return dict(props[key] or {})
        v = m.get("parent") if m is not None else v - 1
    return {}


def append_delta(
    table_path: str, since_version: int, version: int | None = None
) -> tuple[list[str], dict] | None:
    """The table-relative data files ADDED by the commit window
    ``(since_version, version]``, plus the head manifest — or None when
    the window cannot be expressed as pure row additions: a non-append
    commit in it (overwrite/upsert/compaction may have REMOVED rows) or
    a head file list that is not a superset of the cursor's. Callers
    fall back to a full read on None — silently-correct, never
    silently-stale (the same window rule the matview refresher uses;
    factored here so change readers and view maintenance share one
    definition of 'what changed')."""
    if version is None:
        version = current_version(table_path)
        if version is None:
            return None
    if since_version > version:
        return None
    hm = _load_manifest(table_path, version)
    sm = _load_manifest(table_path, since_version)
    if hm is None or sm is None:
        return None
    if since_version == version:
        return [], hm
    window_ok = hm.get("mode") == "append" and all(
        (m := _load_manifest(table_path, v)) is not None
        and m.get("mode") == "append"
        for v in range(since_version + 1, version)
    )
    old = set(sm["files"])
    if not window_ok or not old <= set(hm["files"]):
        return None
    return [r for r in hm["files"] if r not in old], hm


def read_changes(
    spark: SparkSession,
    table_path: str,
    since_version: int,
    version: int | None = None,
) -> DataFrame:
    """Change-data-feed read over manifest history: exactly the rows
    APPENDED after ``since_version`` up to ``version`` (head by
    default) — an incremental consumer's pull, O(delta files) without
    any log or timestamp column; the manifest diff IS the change
    capture. Raises ValueError when the window contains a non-append
    commit (its changes are not expressible as added rows — re-read the
    snapshot instead; the matview refresher makes the same call
    automatically). Reading since the head returns an empty frame with
    the head's schema, so a poll loop needs no special cases.

    Scale: at 100 TB of streaming/CDC ingest this is what lets every
    downstream consumer (a rollup, a replication target, an index
    builder) advance by reading ONLY the few files each commit added,
    with vacuum-expiry surfacing as a loud retention error."""
    if since_version < 1:
        # versions start at 1; "from nothing" is read_snapshot, not a
        # change window (append_delta would refuse with a misleading
        # non-append message)
        raise ValueError(
            f"since_version must be >= 1, got {since_version}; to read "
            "the whole table use read_snapshot"
        )
    delta = append_delta(table_path, since_version, version)
    if delta is None:
        head = version if version is not None else current_version(table_path)
        raise ValueError(
            f"window ({since_version}, {head}] of {table_path} is not "
            "append-only (or a manifest in it is unreadable): its "
            "changes cannot be expressed as added rows — read the "
            "snapshot and rebuild, or narrow the window"
        )
    rels, hm = delta
    return _read_files(
        spark,
        table_path,
        rels,
        StructType.fromJson(hm["schema"]),
        hm["version"],
    )


def read_change_feed(
    spark: SparkSession,
    table_path: str,
    since_version: int,
    version: int | None = None,
) -> DataFrame:
    """Typed change-data feed over a window that may contain
    merge-on-read DELETE and MERGE commits — the Delta-CDF-shaped
    contract :func:`read_changes` (pure row additions) cannot give.
    Each window commit contributes rows tagged ``_change_type``
    ('insert' | 'delete') and ``_commit_version``:

    - **insert**: the rows of the files that commit ADDED (appends and
      a merge's staged upserts);
    - **delete**: the PRE-IMAGE rows the commit's equality tombstones
      removed — the previous snapshot's state semi-joined to the new
      tombstone keys (a tombstone at seq v applies to every file of
      snapshot v-1 unconditionally, and the pre-image read applies
      v-1's OWN tombstones first, so a row deleted twice in a window
      emits once). An update through merge_snapshot therefore appears
      as the standard delete-pre-image + insert pair.

    Overwrites and compactions still refuse (their changes are not
    row-expressible) — same ValueError contract as read_changes.

    Cost, stated: insert rows are O(added files), but each delete
    pre-image reads the PRIOR snapshot filtered by the tombstone join
    — O(window commits × table scan) worst case, exactly the cost
    Delta avoids by writing CDC files at commit time. Poll frequently
    (small windows) or consume :func:`read_changes` plus tombstone
    keys when pre-images are not needed. Vacuum-expired pre-images
    surface as loud retention errors."""
    if since_version < 1:
        raise ValueError(
            f"since_version must be >= 1, got {since_version}; to read "
            "the whole table use read_snapshot"
        )
    head = version if version is not None else current_version(table_path)
    if head is None or since_version > head:
        raise ValueError(
            f"window ({since_version}, {head}] of {table_path} is empty "
            "or the table has no snapshot"
        )
    manifests: dict[int, dict] = {}
    for v in range(since_version, head + 1):
        m = _load_manifest(table_path, v)
        if m is None:
            raise ValueError(
                f"manifest {v} of {table_path} is unreadable; the "
                "change window cannot be reconstructed"
            )
        manifests[v] = m
    hm = manifests[head]
    head_schema = StructType.fromJson(hm["schema"])
    meta_cols = ("_change_type", "_commit_version")
    for mc in meta_cols:
        if mc in {f.name for f in head_schema.fields}:
            raise ValueError(
                f"table column {mc!r} collides with the change-feed "
                "metadata column"
            )
    pieces: list[DataFrame] = []
    for v in range(since_version + 1, head + 1):
        m, pm = manifests[v], manifests[v - 1]
        if m.get("mode") not in ("append", "delete", "merge"):
            raise ValueError(
                f"commit {v} of {table_path} is mode={m.get('mode')!r}: "
                "its changes are not row-expressible — read the "
                "snapshot and rebuild, or narrow the window"
            )
        prev_files = set(pm["files"])
        if not prev_files <= set(m["files"]):
            raise ValueError(
                f"commit {v} of {table_path} removed data files; the "
                "change window cannot be reconstructed"
            )
        new_rels = [f for f in m["files"] if f not in prev_files]
        if new_rels:
            ins = _read_files(
                spark, table_path, new_rels,
                StructType.fromJson(m["schema"]), v,
            ).select(
                "*",
                F.lit("insert").alias("_change_type"),
                F.lit(v).cast("long").alias("_commit_version"),
            )
            pieces.append(ins)
        new_tombs = [
            d for d in (m.get("deletes") or []) if int(d["seq"]) == v
        ]
        if new_tombs:
            pre = read_snapshot(spark, table_path, v - 1)
            groups: dict[tuple, list] = {}
            for d in new_tombs:
                groups.setdefault(tuple(d["cols"]), []).append(d)
            for cols, entries in sorted(groups.items()):
                keys = None
                for e in entries:
                    piece = spark.read.parquet(
                        os.path.join(table_path, e["file"])
                    ).select(
                        *[
                            F.col(c).alias(f"__dbcut_del_{c}")
                            for c in cols
                        ]
                    )
                    keys = (
                        piece if keys is None else keys.unionByName(piece)
                    )
                cond = None
                for c in cols:
                    e_ = F.col(c) == F.col(f"__dbcut_del_{c}")
                    cond = e_ if cond is None else (cond & e_)
                dels = pre.join(
                    keys.distinct(), cond, "left_semi"
                ).select(
                    "*",
                    F.lit("delete").alias("_change_type"),
                    F.lit(v).cast("long").alias("_commit_version"),
                )
                pieces.append(dels)
    names = [f.name for f in head_schema.fields] + list(meta_cols)
    if not pieces:
        empty = spark.createDataFrame([], head_schema)
        return empty.select(
            "*",
            F.lit(None).cast("string").alias("_change_type"),
            F.lit(None).cast("long").alias("_commit_version"),
        ).select(*names)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    # schema-evolution windows: older commits lack added columns —
    # materialize them as typed NULLs, then project the head order
    have = set(out.columns)
    for f in head_schema.fields:
        if f.name not in have:
            out = out.withColumn(f.name, F.lit(None).cast(f.dataType))
    return out.select(*names)


def mor_window_delta(
    spark: SparkSession,
    table_path: str,
    since_version: int,
    version: int | None = None,
):
    """The NET effect of a window of append/delete/merge commits,
    collapsed for single-commit application elsewhere (the manifest
    replicator): returns ``(rows, tombstones)`` where ``rows`` is a
    DataFrame of the window's added rows that SURVIVE the window's own
    later tombstones (or None when no files were added) and
    ``tombstones`` is ``[(cols, keys_df), ...]`` of every equality
    delete the window published — or returns None when the window is
    not expressible this way (an overwrite/compaction/pointer commit,
    a torn manifest, a removed file, or a schema change).

    Why the net collapse is exact: a window tombstone at seq v kills
    exactly the rows in files with seq < v — applying that same
    predicate (via the per-file seq tags) to the window's OWN added
    rows reproduces the in-window insert-then-delete cancellations,
    while the tombstone set applied at a single LATER seq kills the
    same pre-window rows the source killed (all pre-window files have
    seq <= since < any window tombstone's seq). Pre-window tombstones
    never apply to window files (their seq is <= since < file seq),
    so only the window's tombstones participate."""
    head = version if version is not None else current_version(table_path)
    if head is None or since_version < 1 or since_version > head:
        return None
    manifests: dict[int, dict] = {}
    for v in range(since_version, head + 1):
        m = _load_manifest(table_path, v)
        if m is None:
            return None
        manifests[v] = m
    sm, hm = manifests[since_version], manifests[head]
    for v in range(since_version + 1, head + 1):
        if manifests[v].get("mode") not in ("append", "delete", "merge"):
            return None
        if not set(manifests[v - 1]["files"]) <= set(manifests[v]["files"]):
            return None
    # identical column sets only: evolution windows rebuild instead
    if {
        (f["name"], f["type"]) if isinstance(f["type"], str) else f["name"]
        for f in sm["schema"]["fields"]
    } != {
        (f["name"], f["type"]) if isinstance(f["type"], str) else f["name"]
        for f in hm["schema"]["fields"]
    }:
        return None
    old = set(sm["files"])
    added = [r for r in hm["files"] if r not in old]
    window_tombs = [
        d
        for d in (hm.get("deletes") or [])
        if since_version < int(d["seq"]) <= head
    ]
    tombstones = []
    groups: dict[tuple, list] = {}
    for d in window_tombs:
        groups.setdefault(tuple(d["cols"]), []).append(d)
    for cols, entries in sorted(groups.items()):
        keys = None
        for e in entries:
            piece = spark.read.parquet(
                os.path.join(table_path, e["file"])
            ).select(*cols)
            keys = piece if keys is None else keys.unionByName(piece)
        tombstones.append((list(cols), keys.distinct()))
    rows = None
    if added:
        seqs = hm.get("seqs") or {}
        rows = _read_files(
            spark,
            table_path,
            added,
            StructType.fromJson(hm["schema"]),
            head,
            seq_by_rel=seqs,
        )
        # in-window cancellation: a window tombstone kills the window's
        # own earlier rows exactly when its seq is newer than the
        # row's file seq — the same predicate the reader applies
        for cols, entries in sorted(groups.items()):
            tomb = None
            for e in entries:
                piece = (
                    spark.read.parquet(
                        os.path.join(table_path, e["file"])
                    )
                    .select(
                        *[
                            F.col(c).alias(f"__dbcut_del_{c}")
                            for c in cols
                        ]
                    )
                    .withColumn(
                        "__dbcut_del_seq",
                        F.lit(int(e["seq"])).cast("long"),
                    )
                )
                tomb = piece if tomb is None else tomb.unionByName(piece)
            cond = F.col("__dbcut_del_seq") > F.col(_SEQ_COL)
            for c in cols:
                cond = cond & (F.col(c) == F.col(f"__dbcut_del_{c}"))
            rows = rows.join(tomb, cond, "left_anti")
        rows = rows.drop(_SEQ_COL)
    return rows, tombstones


def prune_report(
    table_path: str,
    where: list,
    version: int | None = None,
    spark: SparkSession | None = None,
) -> dict:
    """Visibility into file skipping: how many of a snapshot's files a
    ``read_snapshot(where=...)`` would open. Gates and tests use this
    to PROVE pruning happened instead of trusting it. Stats pruning is
    zero-job; BUCKET pruning needs ``spark`` (probe ids come from
    Spark's own hash, a 1-row job) and is skipped without it."""
    if version is None:
        version = current_version(table_path)
    m = _load_manifest(table_path, version) if version is not None else None
    if m is None:
        raise FileNotFoundError(
            f"no readable snapshot version {version} under {table_path}"
        )
    _where_column(where)
    stats = m.get("stats") or {}
    kept = [r for r in m["files"] if _file_may_match(stats.get(r), where)]
    if spark is not None:
        kept = _bucket_prune(spark, m, kept, where)
    return {
        "version": version,
        "total_files": len(m["files"]),
        "kept_files": len(kept),
        "skipped_files": len(m["files"]) - len(kept),
        "stats_files": len(stats),
        "bucketed": bool(m.get("bucket_by")),
    }


def snapshot_properties(
    table_path: str, version: int | None = None
) -> dict:
    """The opaque ``properties`` dict stored on a snapshot's manifest
    (empty if none). Not inherited across versions: each snapshot's
    properties describe that commit (e.g. a matview refresh cursor)."""
    if version is None:
        version = current_version(table_path)
    m = _load_manifest(table_path, version) if version is not None else None
    if m is None:
        raise FileNotFoundError(
            f"no readable snapshot version {version} under {table_path}"
        )
    return dict(m.get("properties") or {})


def upsert_snapshot(
    spark: SparkSession,
    delta: DataFrame,
    table_path: str,
    pk: list[str],
    op_col: str | None = None,
    retries: int = 2,
    stats_cols: list[str] | None = None,
    properties: dict | None = None,
) -> int:
    """MERGE a delta into a manifest table: rows keyed on ``pk`` are
    replaced, new keys insert, and (with ``op_col``) rows marked
    ``'D'`` delete — the manifest twin of
    ``insert_ignore.upsert_parquet``/``delete_keys_parquet``, except
    the commit is one manifest publish instead of directory renames,
    so it is safe on rename-less object stores AND under concurrent
    readers (they hold an immutable older snapshot). Returns the
    published version.

    The merge rewrites the whole snapshot (untouched rows are copied
    into the new commit's files): manifests trade the staging-swap's
    partition-pruned rewrite for an atomic, versioned commit. Deltas
    against a huge table should batch up or use the POSIX swap writers
    — the boundary is documented in ARCHITECTURE.md. An empty-table
    upsert bootstraps the snapshot (parity with upsert_parquet).

    Conflict handling: version races retry through
    :func:`publish_snapshot` — but note a retry REBASES onto the
    winner's data files only if we re-read them, so the merge result
    is recomputed per attempt here (read-merge-publish, the classic
    optimistic-concurrency loop).

    A NULL in ``op_col`` counts as an upsert (the filter is null-safe
    ``NOT <=> 'D'``): a plain ``op != 'D'`` would evaluate NULL and
    drop the row from the upsert set while its key still anti-joins
    the existing row away — turning a CDC insert with a NULL op into
    a silent DELETE."""
    if op_col is not None and op_col not in delta.columns:
        raise ValueError(f"op_col {op_col!r} not in delta")
    for attempt in range(retries + 1):
        base_version = current_version(table_path)
        # the merge rewrites CONTENT; the table's physical layout
        # (hive partitioning, bucket routing) AND its skip-stat
        # coverage must survive it, or one upsert silently strips
        # every reader's pruning
        layout_partition_by = None
        layout_bucket_by = None
        inherited_stats_cols: list[str] = []
        if base_version is not None:
            bm = _load_manifest(table_path, base_version)
            if bm is not None:
                layout_partition_by = bm.get("partition_by") or None
                bspec = bm.get("bucket_by")
                if bspec:
                    layout_bucket_by = (bspec["col"], bspec["n"])
                for st in (bm.get("stats") or {}).values():
                    for c in st:
                        if (
                            c not in inherited_stats_cols
                            and c not in (layout_partition_by or [])
                        ):
                            inherited_stats_cols.append(c)
        if base_version is None:
            merged = (
                delta.filter(~F.col(op_col).eqNullSafe("D")).drop(op_col)
                if op_col
                else delta
            )
        else:
            existing = read_snapshot(spark, table_path, base_version)
            keys = delta.select(
                *[F.col(c).alias(f"__k_{c}") for c in pk]
            ).distinct()
            cond = None
            for c in pk:
                e = F.col(c).eqNullSafe(F.col(f"__k_{c}"))
                cond = e if cond is None else (cond & e)
            untouched = existing.join(keys, cond, "left_anti")
            upserts = (
                delta.filter(~F.col(op_col).eqNullSafe("D")).drop(op_col)
                if op_col
                else delta
            )
            merged = untouched.unionByName(upserts)
        try:
            # parent pinned to the snapshot the merge was derived from:
            # a winner landing in between makes THIS commit lose (and
            # the loop re-derive), never the winner's changes
            return publish_snapshot(
                merged, table_path, mode="overwrite",
                expected_parent=base_version,
                # None inherits the head's stat columns (same contract
                # as compact_snapshot); pass [] to drop them on purpose
                stats_cols=(
                    inherited_stats_cols
                    if stats_cols is None
                    else stats_cols
                ) or None,
                properties=properties,
                partition_by=layout_partition_by,
                bucket_by=layout_bucket_by,
            )
        except VersionConflictError:
            if attempt >= retries:
                raise
    raise AssertionError("unreachable")


def _guard_tombstone_keys(
    keys: DataFrame, schema: StructType, what: str
) -> DataFrame:
    """Validate + NULL-guard a tombstone key frame against the table
    schema. Key columns must exist with IDENTICAL types (a long-vs-int
    mismatch would make the anti join silently miss every row — the
    worst failure mode a delete can have), and NULL keys are refused:
    equality joins never match NULL, so a NULL tombstone would publish
    a delete that deletes nothing. The NULL check rides the staged
    write itself (conditional raise_error inside the projection — zero
    extra jobs, same pattern as the SCD2 retroactive guard)."""
    by_name = {f.name: f for f in schema.fields}
    if not keys.columns:
        raise ValueError(f"{what}: key frame has no columns")
    if _SEQ_COL in keys.columns:
        raise ValueError(
            f"{what}: column name {_SEQ_COL!r} is reserved by the "
            "merge-on-read reader"
        )
    for f in keys.schema.fields:
        tf = by_name.get(f.name)
        if tf is None:
            raise ValueError(
                f"{what}: key column {f.name!r} is not a table column "
                f"(table has {sorted(by_name)})"
            )
        if f"__dbcut_del_{f.name}" in by_name:
            # the reader aliases tombstone keys with this prefix; a
            # real table column of that name would make the anti join
            # ambiguous at read time — refuse at write time instead
            raise ValueError(
                f"{what}: table column '__dbcut_del_{f.name}' collides "
                "with the merge-on-read reader's tombstone alias for "
                f"key {f.name!r}; rename it or key on other columns"
            )
        if tf.dataType.simpleString() != f.dataType.simpleString():
            raise ValueError(
                f"{what}: key column {f.name!r} is "
                f"{f.dataType.simpleString()} but the table column is "
                f"{tf.dataType.simpleString()} — an equality delete "
                "with mismatched types would silently match nothing; "
                "cast the keys to the table's type"
            )
    return keys.select(
        *[
            F.when(
                F.col(f.name).isNull(),
                F.raise_error(
                    F.lit(
                        f"{what}: NULL in key column {f.name!r} — "
                        "equality deletes cannot express NULL keys "
                        "(the anti join would never match); filter "
                        "NULL keys out or use the copy-on-write "
                        "upsert_snapshot, whose key match is null-safe"
                    )
                ).cast(f.dataType),
            )
            .otherwise(F.col(f.name))
            .alias(f.name)
            for f in keys.schema.fields
        ]
    )


def _staged_rows(table_path: str, rels: list[str]) -> dict:
    """Per-file row counts of freshly staged files from their footers —
    a zero-job driver read (footers are local metadata), used to detect
    empty tombstone sets and to record per-entry row counts for
    manifest_inspect."""
    import pyarrow.parquet as pq

    return {
        r: pq.ParquetFile(os.path.join(table_path, r)).metadata.num_rows
        for r in rels
    }


def delete_keys_snapshot(
    spark: SparkSession,
    keys: DataFrame,
    table_path: str,
    retries: int = 2,
    n_files: int = 1,
) -> int:
    """MERGE-ON-READ delete: publish equality-delete tombstones for
    every (distinct, non-NULL) row of ``keys`` without rewriting ONE
    data file — the O(keys) mutation the copy-on-write
    :func:`upsert_snapshot` (O(table) rewrite) cannot give. The commit
    stages the keys as a small parquet tombstone file and publishes a
    manifest that inherits the parent's data files verbatim plus a
    ``deletes`` entry ``{file, cols, seq}``; readers anti-join the
    tombstones against rows whose file seq is OLDER than the delete
    (Iceberg equality-delete sequence semantics), so a key re-inserted
    by a LATER append survives. :func:`compact_snapshot` materializes
    tombstones away as normal maintenance.

    At 100 TB this is the difference between a GDPR-style key purge
    costing one tiny parquet write + one manifest create versus
    rewriting the whole table; the read-side cost is one broadcast
    anti join until the next compaction. Returns the published version
    (the CURRENT version unchanged when ``keys`` is empty — no commit
    for a no-op). Version races retry by re-inheriting the winner's
    state; the staged tombstone file is written once.

    Reference parity: the reference deletes rows via SQLAlchemy DELETE
    against the live database (dbcut/database.py) — mutation-in-place
    with no snapshot isolation; this is that operation re-expressed as
    an immutable-snapshot commit."""
    head = current_version(table_path)
    if head is None:
        raise FileNotFoundError(
            f"no published snapshot under {table_path}: nothing to "
            "delete from"
        )
    hm = _load_manifest(table_path, head)
    if hm is None:
        raise FileNotFoundError(
            f"head snapshot {head} of {table_path} is unreadable"
        )
    guarded = _guard_tombstone_keys(
        keys, StructType.fromJson(hm["schema"]), "delete_keys_snapshot"
    )
    cols = list(guarded.columns)
    staged = _stage(
        guarded.distinct().coalesce(max(1, n_files)),
        table_path,
        None,
        repartition=False,
    )
    rows_by_rel = _staged_rows(table_path, staged)
    if sum(rows_by_rel.values()) == 0:
        return head  # nothing to delete: no commit, orphans vacuumable
    staged = [r for r in staged if rows_by_rel[r] > 0]
    for attempt in range(retries + 1):
        parent = current_version(table_path)
        pm = _load_manifest(table_path, parent) if parent is not None else None
        if pm is None:
            raise VersionConflictError(
                f"head snapshot of {table_path} vanished mid-delete "
                "(vacuum race); re-resolve and retry"
            )
        # re-validated per attempt: a racing overwrite may have retyped
        # the key columns out from under the staged tombstones
        pschema = StructType.fromJson(pm["schema"])
        ptypes = {f.name: f.dataType.simpleString() for f in pschema.fields}
        for f in guarded.schema.fields:
            if ptypes.get(f.name) != f.dataType.simpleString():
                raise ValueError(
                    f"delete_keys_snapshot: a racing commit changed "
                    f"key column {f.name!r} to "
                    f"{ptypes.get(f.name)} — re-derive the keys"
                )
        version = (parent or 0) + 1
        manifest = {
            "version": version,
            "parent": parent,
            "mode": "delete",
            "files": list(pm["files"]),
            "n_files": len(pm["files"]),
            "partition_by": list(pm.get("partition_by") or []),
            "schema": pm["schema"],
            "deletes": list(pm.get("deletes") or [])
            + [
                {"file": r, "cols": cols, "seq": version,
                 "rows": rows_by_rel[r]}
                for r in staged
            ],
            "seqs": dict(pm.get("seqs") or {}),
        }
        for k in ("stats", "bucket_by", "buckets", "properties"):
            if pm.get(k) is not None:
                manifest[k] = pm[k]
        try:
            _publish(table_path, manifest)
            return version
        except VersionConflictError:
            if attempt >= retries:
                raise
    raise AssertionError("unreachable")


def merge_snapshot(
    spark: SparkSession,
    delta: DataFrame,
    table_path: str,
    pk: list[str],
    op_col: str | None = None,
    retries: int = 2,
    n_files: int = 1,
) -> int:
    """MERGE-ON-READ upsert: the O(delta) twin of the copy-on-write
    :func:`upsert_snapshot`. One commit stages (a) the delta's
    non-delete rows as new data files and (b) ALL delta keys as an
    equality-delete tombstone, both at the new commit's sequence:
    tombstones kill the OLD rows for replaced and deleted keys (their
    files have older seqs) while the newly staged rows survive (same
    seq, and tombstones apply strictly to older) — exactly the MERGE
    outcome, without reading or rewriting a single existing file.

    This is the CDC-ingest write path at 100 TB: per-batch cost is
    O(batch), reads pay one broadcast anti join until
    :func:`compact_snapshot` folds the tombstones in. Contracts match
    upsert_snapshot (``op_col`` rows marked 'D' delete, NULL op counts
    as upsert) except NULL pk values are refused — equality tombstones
    cannot express them (upsert_snapshot's null-safe match can).
    Bucketed layouts keep their routing (staged files are
    bucket-repartitioned and recorded); partitioned layouts keep
    theirs. An empty table bootstraps via publish_snapshot."""
    if op_col is not None and op_col not in delta.columns:
        raise ValueError(f"op_col {op_col!r} not in delta")
    missing = [c for c in pk if c not in delta.columns]
    if missing:
        raise ValueError(f"pk columns {missing} not in delta")
    head = current_version(table_path)
    upserts = (
        delta.filter(~F.col(op_col).eqNullSafe("D")).drop(op_col)
        if op_col
        else delta
    )
    if head is None:
        return publish_snapshot(upserts, table_path, mode="overwrite",
                                retries=retries)
    return publish_mor_commit(
        spark,
        table_path,
        upserts,
        [(list(pk), delta.select(*pk))],
        retries=retries,
        n_files=n_files,
        what="merge_snapshot",
    )


def publish_mor_commit(
    spark: SparkSession,
    table_path: str,
    rows: DataFrame | None,
    tombstones: list,
    retries: int = 2,
    n_files: int = 1,
    expected_parent: int | None = ...,
    properties: dict | None = ...,
    what: str = "publish_mor_commit",
) -> int:
    """The general merge-on-read commit primitive: stage ``rows`` as
    new data files (parent layout preserved) and each ``(cols,
    keys_df)`` in ``tombstones`` as an equality-delete file, publish
    ONE manifest — data at the new seq, tombstones applying strictly
    to older rows. :func:`merge_snapshot` derives its tombstones from
    the delta's pk and delegates here; the manifest replicator applies
    a whole source MOR window as one such commit (net surviving rows +
    the window's tombstone keys), so replication of delete/merge
    history stays O(delta) with rows and consumed-version pointer in
    the same atomic publish.

    ``properties``: the default (ellipsis sentinel) carries the
    parent's properties forward (maintenance must not erase consumer
    pointers); an explicit dict/None replaces them (the replicator's
    pointer update). ``expected_parent`` pins optimistic concurrency
    exactly like publish_snapshot (requires retries=0)."""
    pin_parent = expected_parent is not ...
    if pin_parent and retries:
        raise ValueError(
            f"{what}: expected_parent pins the commit to one version; "
            "retry by re-deriving the inputs"
        )
    head = expected_parent if pin_parent else current_version(table_path)
    hm = _load_manifest(table_path, head) if head is not None else None
    if hm is None:
        raise FileNotFoundError(
            f"{what}: no readable head snapshot under {table_path}"
        )
    if rows is None and not tombstones:
        raise ValueError(f"{what}: nothing to commit")
    schema = StructType.fromJson(hm["schema"])
    partition_by = list(hm.get("partition_by") or [])
    bspec = hm.get("bucket_by")
    staged: list[str] = []
    staged_buckets: dict = {}
    staged_stats: dict = {}

    def _stage_rows():
        nonlocal staged, staged_buckets, staged_stats
        staged_df = rows
        if bspec:
            staged_df = rows.repartition(bspec["n"], F.col(bspec["col"]))
        staged = _stage(
            staged_df, table_path, partition_by or None,
            repartition=not bspec,
        )
        staged_buckets = _file_bucket_ids(staged) if bspec else {}
        # inherit the head's skip-stat coverage for the staged files,
        # the same must-not-blind-pruning rule as compact_snapshot
        stat_cols: list[str] = []
        for st in (hm.get("stats") or {}).values():
            for c in st:
                if c not in stat_cols and c not in partition_by:
                    stat_cols.append(c)
        staged_stats = (
            _collect_stats(spark, table_path, staged, stat_cols)
            if stat_cols
            else {}
        )

    tomb_entries: list[tuple[list[str], str, int]] = []  # cols, rel, rows

    def _stage_tombstones():
        for cols, keys_df in tombstones:
            guarded = _guard_tombstone_keys(
                keys_df.select(*cols), schema, what
            )
            rels = _stage(
                guarded.distinct().coalesce(max(1, n_files)),
                table_path,
                None,
                repartition=False,
            )
            nrows = _staged_rows(table_path, rels)
            tomb_entries.extend(
                (list(cols), r, nrows[r]) for r in rels if nrows[r] > 0
            )

    if rows is not None:
        # loud schema drift before the expensive stage, same as append
        _check_append_schema(rows, hm, head)
    if rows is not None and tombstones:
        # the row files and the tombstone files are INDEPENDENT staged
        # writes into the same invisible-until-published staging area:
        # run them as two concurrent driver jobs so the small tombstone
        # write back-fills executors idled by the row write's tail
        # (guide §2.6; same overlap as the LSH index stage). Crash
        # anywhere leaves only unreferenced orphans — the single
        # manifest publish below is still the atomic commit point.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fr = pool.submit(_stage_rows)
            ft = pool.submit(_stage_tombstones)
            fr.result()
            ft.result()
    else:
        if rows is not None:
            _stage_rows()
        _stage_tombstones()
    for attempt in range(retries + 1):
        parent = (
            expected_parent if pin_parent else current_version(table_path)
        )
        pm = _load_manifest(table_path, parent) if parent is not None else None
        if pm is None:
            raise VersionConflictError(
                f"{what}: head snapshot of {table_path} vanished "
                "mid-commit; re-resolve and retry"
            )
        # a racing commit may have evolved the schema or changed the
        # bucket spec — both make the staged files wrong, not retryable
        if rows is not None:
            _check_append_schema(rows, pm, parent)
        if pm.get("bucket_by") != bspec:
            raise ValueError(
                f"{what}: a racing commit changed the bucket layout of "
                f"{table_path}; re-run the commit"
            )
        version = (parent or 0) + 1
        seqs = dict(pm.get("seqs") or {})
        for r in staged:
            seqs[r] = version
        stats = dict(pm.get("stats") or {})
        stats.update(staged_stats)
        buckets = dict(pm.get("buckets") or {})
        buckets.update(staged_buckets)
        manifest = {
            "version": version,
            "parent": parent,
            "mode": "merge" if staged else "delete",
            "files": list(pm["files"]) + staged,
            "n_files": len(pm["files"]) + len(staged),
            "partition_by": partition_by,
            "schema": pm["schema"],
            "deletes": list(pm.get("deletes") or [])
            + [
                {"file": r, "cols": cols, "seq": version, "rows": n}
                for cols, r, n in tomb_entries
            ],
            "seqs": seqs,
        }
        if stats:
            manifest["stats"] = stats
        if bspec:
            manifest["bucket_by"] = bspec
            manifest["buckets"] = buckets
        if properties is ...:
            if pm.get("properties") is not None:
                manifest["properties"] = pm["properties"]
        elif properties is not None:
            manifest["properties"] = properties
        try:
            _publish(table_path, manifest)
            return version
        except VersionConflictError:
            if attempt >= retries:
                raise
    raise AssertionError("unreachable")


def manifest_inspect(table_path: str) -> dict:
    """Operational stats for a manifest table (no Spark jobs): current
    and oldest version, live file count/bytes (what a reader of the
    head snapshot opens), total referenced-by-any-manifest files, and
    orphan/expired bytes awaiting :func:`vacuum`. Surfaced by
    ``cli inspect --manifest PATH``; the LSH index's richer
    `lsh_index_inspect` builds per-bucket stats on top of the same
    channel."""
    versions = _list_versions(table_path)
    manifests = {
        v: m
        for v in versions
        if (m := _load_manifest(table_path, v)) is not None
    }
    cur = max(manifests) if manifests else None
    live = (
        set(_manifest_all_files(manifests[cur]))
        if cur is not None
        else set()
    )
    # tagged snapshots are retention-pinned: their files are not
    # reclaimable until the tag is deleted (mirrors vacuum)
    for tv in list_tags(table_path).values():
        if tv in manifests:
            live.update(_manifest_all_files(manifests[tv]))
    referenced: set[str] = set()
    for m in manifests.values():
        referenced.update(_manifest_all_files(m))
    live_bytes = 0
    for rel in live:
        try:
            live_bytes += os.stat(os.path.join(table_path, rel)).st_size
        except FileNotFoundError:
            pass  # expired by vacuum while we walked
    reclaimable_bytes = 0
    on_disk = 0
    data_root = os.path.join(table_path, _DATA_DIR)
    if os.path.isdir(data_root):
        for root, _dirs, files in os.walk(data_root):
            for f in files:
                full = os.path.join(root, f)
                rel = os.path.relpath(full, table_path)
                try:
                    size = os.stat(full).st_size
                except FileNotFoundError:
                    continue
                on_disk += 1
                if rel not in live:
                    reclaimable_bytes += size
    head_stats = (manifests[cur].get("stats") or {}) if cur is not None else {}
    return {
        "current_version": cur,
        "versions": len(manifests),
        "torn_manifests": len(versions) - len(manifests),
        "live_files": len(live),
        "live_bytes": live_bytes,
        "referenced_files": len(referenced),
        "files_on_disk": on_disk,
        "reclaimable_bytes": reclaimable_bytes,
        # file-skipping coverage of the head snapshot: live files that
        # carry footer stats a read_snapshot(where=...) can prune on
        "stats_files": sum(1 for r in live if head_stats.get(r)),
        # equality-probe routing layout, if any
        "bucket_by": (manifests[cur].get("bucket_by") if cur is not None
                      else None),
        # the head's consistency pointers (stream_txn / sync_cursor /
        # replica_src_version / matview cursor), so an operator can see
        # where every consumer stands without reading manifests by hand
        "properties": (
            dict(manifests[cur].get("properties") or {})
            if cur is not None
            else {}
        ),
        # merge-on-read debt at the head: tombstone files a reader
        # anti-joins on every read — compact_snapshot folds them in
        "delete_files": (
            len(manifests[cur].get("deletes") or [])
            if cur is not None
            else 0
        ),
        "tombstone_rows": (
            sum(
                int(d.get("rows") or 0)
                for d in (manifests[cur].get("deletes") or [])
            )
            if cur is not None
            else 0
        ),
        # named refs: retention-pinned snapshots (see tag_snapshot)
        "tags": list_tags(table_path),
    }


def snapshot_history(spark: SparkSession, table_path: str) -> DataFrame:
    """The table's commit history as a queryable DataFrame — the
    Iceberg ``history`` metadata-table counterpart: one row per
    readable snapshot with version, parent, mode, file/tombstone
    counts, and which property keys the commit carried. Driver-side
    manifest reads only (manifests are KB-sized); no data files open."""
    rows = []
    for v in _list_versions(table_path):
        m = _load_manifest(table_path, v)
        if m is None:
            continue
        deletes = m.get("deletes") or []
        rows.append(
            (
                v,
                m.get("parent"),
                m.get("mode"),
                len(m.get("files") or []),
                len(deletes),
                sum(int(d.get("rows") or 0) for d in deletes),
                sorted((m.get("properties") or {}).keys()),
            )
        )
    return spark.createDataFrame(
        rows,
        "version long, parent long, mode string, n_files long, "
        "delete_files long, tombstone_rows long, "
        "property_keys array<string>",
    ).orderBy("version")


def snapshot_files(
    spark: SparkSession,
    table_path: str,
    version: int | str | None = None,
) -> DataFrame:
    """A snapshot's file inventory as a queryable DataFrame — the
    ``files`` metadata-table counterpart: one row per data file with
    its commit sequence (0 = pre-MOR history), bucket id, on-disk
    bytes, and which columns carry skip stats. Tag names resolve like
    :func:`read_snapshot`. Driver-side only; expired files report
    size -1 instead of raising (an inventory is a diagnostic, not a
    read)."""
    if isinstance(version, str):
        version = resolve_tag(table_path, version)
    if version is None:
        version = current_version(table_path)
        if version is None:
            raise FileNotFoundError(
                f"no published snapshot under {table_path}"
            )
    m = _load_manifest(table_path, version)
    if m is None:
        raise FileNotFoundError(
            f"snapshot version {version} missing or torn under "
            f"{table_path}"
        )
    seqs = m.get("seqs") or {}
    buckets = m.get("buckets") or {}
    stats = m.get("stats") or {}
    rows = []
    for rel in m["files"]:
        try:
            size = os.stat(os.path.join(table_path, rel)).st_size
        except OSError:
            size = -1
        rows.append(
            (
                rel,
                int(seqs.get(rel, 0)),
                buckets.get(rel),
                size,
                sorted((stats.get(rel) or {}).keys()),
            )
        )
    return spark.createDataFrame(
        rows,
        "file string, seq long, bucket int, size_bytes long, "
        "stats_cols array<string>",
    ).orderBy("file")


def compact_snapshot(
    spark: SparkSession,
    table_path: str,
    target_file_mb: int = 128,
    min_frag_mb: float = 0.0,
    stats_cols: list[str] | None = None,
    cluster_by: list[str] | None = None,
    keep_last: int = 1,
    grace_seconds: float = 86400.0,
    vacuum_after: bool = True,
) -> dict:
    """Rewrite a manifest table's HEAD snapshot into size-targeted data
    files and publish the rewrite as the next version — the generic
    manifest twin of ``sinks/compact.py`` (and of the LSH-specific
    ``dedup.lsh_index_compact``): every append commit adds at least one
    file, so an ingest table or matview base left unmaintained makes
    readers pay per-file open cost growing with commit count.

    - the publish pins ``expected_parent`` to the compacted head, so a
      writer landing mid-compaction WINS and this compaction raises
      :class:`VersionConflictError` (re-run later) — maintenance must
      never clobber data;
    - readers are unaffected mid-flight (they hold the pre-compact
      snapshot; with ``vacuum_after`` a long-running reader past
      ``keep_last`` fails loudly on retention, never reads mixed state);
    - ``stats_cols=None`` INHERITS the stat columns present on the head
      manifest (compaction must not silently drop file-skipping
      coverage); pass ``[]`` to disable;
    - partitioned tables keep their ``partition_by`` layout (one file
      per partition value via the staging repartition rule);
      unpartitioned tables hash into ``ceil(bytes / target_file_mb)``
      files;
    - ``min_frag_mb`` skips tables whose average live file is already
      at least that big; single-file tables are a no-op;
    - ``cluster_by`` (unpartitioned tables) makes the rewrite
      range-clustered on the named columns — the maintenance moment to
      establish tight per-file [min,max] so ``where`` skipping bites
      on a table whose commits arrived unsorted.

    Returns ``{"compacted": bool, "version": ..., "before_files": ...,
    "after_files": ..., "vacuumed": ...}``."""
    import math

    head = current_version(table_path)
    if head is None:
        raise FileNotFoundError(f"no published snapshot under {table_path}")
    m = _load_manifest(table_path, head)
    before_files = len(m["files"])
    before_bytes = 0
    for rel in m["files"]:
        try:
            before_bytes += os.stat(os.path.join(table_path, rel)).st_size
        except FileNotFoundError:
            pass
    # merge-on-read tombstones make compaction mandatory work: the
    # rewrite is how delete debt materializes away, so the size-driven
    # shortcuts below must not skip it
    has_deletes = bool(m.get("deletes"))
    # cluster_by is an explicit re-LAYOUT request: a single big
    # unsorted file is exactly what it exists to split into prunable
    # range files, so only the size-driven shortcuts skip it
    if before_files <= (0 if cluster_by or has_deletes else 1):
        return {
            "compacted": False,
            "version": head,
            "before_files": before_files,
            "after_files": before_files,
            "vacuumed": 0,
        }
    avg_mb = before_bytes / max(1, before_files) / (1024 * 1024)
    if not cluster_by and not has_deletes and min_frag_mb and avg_mb >= min_frag_mb:
        return {
            "compacted": False,
            "version": head,
            "before_files": before_files,
            "after_files": before_files,
            "vacuumed": 0,
        }
    if stats_cols is None:
        # inherit the head's skip-stat coverage: a maintenance rewrite
        # must not silently blind read_snapshot(where=...) pruning
        seen: list[str] = []
        for st in (m.get("stats") or {}).values():
            for c in st:
                if c not in seen and c not in (m.get("partition_by") or []):
                    seen.append(c)
        stats_cols = seen
    df = read_snapshot(spark, table_path, head)
    partition_by = list(m.get("partition_by") or [])
    bspec = m.get("bucket_by")
    if bspec and cluster_by:
        raise ValueError(
            "cluster_by on a bucketed manifest table is not supported: "
            "the bucket layout owns file placement (overwrite without "
            "bucket_by to change layouts)"
        )
    if bspec:
        # the rewrite folds each bucket's accumulated files into ONE
        # file per bucket; publish re-derives the layout + bucket map
        pass
    elif not partition_by:
        n_out = max(
            1, math.ceil(before_bytes / (target_file_mb * 1024 * 1024))
        )
        if cluster_by:
            # size-targeted AND range-clustered: the rewrite is the one
            # moment to establish tight per-file [min,max] for stats
            # skipping over an unsorted accumulation of commits
            df = df.repartitionByRange(n_out, *cluster_by)
            df = df.sortWithinPartitions(*cluster_by)
        else:
            df = df.repartition(n_out)
    elif cluster_by:
        raise ValueError(
            "cluster_by on a hive-partitioned manifest table is not "
            "supported: the partition layout already owns file placement"
        )
    # a compaction rewrites the LAYOUT of the same logical snapshot, so
    # the head's properties carry forward verbatim — dropping them
    # would break consumers that ride them across commits (the
    # streaming sink's exactly-once stream_txn map, a matview cursor)
    head_props = m.get("properties")
    new_v = publish_snapshot(
        df,
        table_path,
        mode="overwrite",
        partition_by=partition_by or None,
        expected_parent=head,
        stats_cols=stats_cols or None,
        properties=head_props,
        bucket_by=(bspec["col"], bspec["n"]) if bspec else None,
    )
    vacuumed = (
        len(vacuum(table_path, keep_last=keep_last,
                   grace_seconds=grace_seconds))
        if vacuum_after
        else 0
    )
    after = _load_manifest(table_path, new_v)
    return {
        "compacted": True,
        "version": new_v,
        "before_files": before_files,
        "after_files": len(after["files"]),
        "vacuumed": vacuumed,
    }


def vacuum(
    table_path: str, keep_last: int = 1, grace_seconds: float = 86400.0
) -> list[str]:
    """Delete data files no kept snapshot references. Returns the
    deleted table-relative paths. Two distinct populations, handled
    differently:

    - files referenced by an EXPIRED manifest (older than the
      ``keep_last`` most recent snapshots): known-committed old data,
      deleted immediately — the retention contract every snapshot
      store has; time travel past retention fails loudly in
      :func:`read_snapshot`;
    - files referenced by NO manifest at all: either a crashed
      writer's orphans or — indistinguishably, by files alone — a
      LIVE writer's staged-but-unpublished commit mid-flight. Deleting
      the latter would let its publish succeed pointing at missing
      files, so unreferenced files are deleted only once older than
      ``grace_seconds`` (default 24 h — longer than any sane stage;
      pass 0 only when no writer can be in flight). Same age-gate as
      Iceberg's orphan-file removal.

    Manifest files themselves are NEVER deleted: version slots must
    stay occupied forever, or a writer pinned to a vacuumed parent
    (``expected_parent``) could link into a freed slot BELOW the
    current version and report success for a commit no reader will
    ever resolve — the silent lost update the optimistic-concurrency
    check exists to prevent. Manifests are a few KB; expired ones stay
    as the table's version history (same shape as a Delta log).
    Readers holding a kept version are unaffected: their file sets
    are immutable."""
    import time

    if keep_last < 1:
        # keep_last=0 would expire the CURRENT head's own data files —
        # silent, irreversible destruction of the live table from a
        # maintenance call (review finding, round 11)
        raise ValueError(
            f"keep_last must be >= 1 (got {keep_last}): retention below "
            "one snapshot would delete the live table's data files"
        )

    # parse each manifest exactly once: the version history only grows
    # (manifests are never deleted), so repeated _load_manifest calls
    # would re-read O(all versions) files per pass
    manifests: dict[int, dict] = {}
    for v in _list_versions(table_path):
        m = _load_manifest(table_path, v)
        if m is not None:
            manifests[v] = m
    versions = sorted(manifests)
    keep = set(versions[-keep_last:]) if keep_last > 0 else set()
    # tagged snapshots are retention-pinned (the Iceberg-refs
    # contract): a release/audit tag keeps its data files alive no
    # matter how far past keep_last it falls — until delete_tag
    keep |= {
        v for v in list_tags(table_path).values() if v in manifests
    }
    live: set[str] = set()
    referenced: set[str] = set()
    for v, m in manifests.items():
        # data files AND merge-on-read tombstone files: reaping a live
        # tombstone would silently resurrect its deleted rows
        referenced.update(_manifest_all_files(m))
        if v in keep:
            live.update(_manifest_all_files(m))
    cutoff = time.time() - grace_seconds
    candidates: list[str] = []
    data_root = os.path.join(table_path, _DATA_DIR)
    if os.path.isdir(data_root):
        for root, _dirs, files in os.walk(data_root):
            for name in files:
                full = os.path.join(root, name)
                rel = os.path.relpath(full, table_path)
                if rel in live:
                    continue
                if rel not in referenced:
                    # possibly a live writer's in-flight staging
                    try:
                        if os.stat(full).st_mtime > cutoff:
                            continue
                    except FileNotFoundError:
                        continue  # concurrent vacuum got it
                candidates.append(rel)
    # delete in SORTED path order: a commit group's files are
    # contiguous under their data/<uuid>/ prefix, so a crash mid-vacuum
    # always leaves a partially-expired group missing its
    # lexicographically-first file — exactly the file read_snapshot
    # probes — turning the partial state into a loud retention error,
    # never a mid-job path-not-found
    deleted: list[str] = []
    for rel in sorted(candidates):
        try:
            os.unlink(os.path.join(table_path, rel))
        except FileNotFoundError:
            continue  # a concurrent vacuum got it first
        deleted.append(rel)
    if os.path.isdir(data_root):
        for root, _dirs, _files in os.walk(data_root, topdown=False):
            if root == data_root:
                continue
            try:
                os.rmdir(root)  # only succeeds when empty
            except OSError:
                pass  # non-empty, or a concurrent vacuum removed it
    return deleted
