"""Semi-join closure executor — *the* core operator (SURVEY.md §2.4 J5).

Reference behavior being matched: dbcut restricts every table in the
extraction graph to rows reachable from the selected roots, via eager
loaders fired per relationship (``/root/reference/dbcut/query.py:231-238``,
traversal ``:352-445``). Spark-first re-expression:

- root: scan → (cross-table predicate joins) → filter → top-k
  (``orderBy().limit()`` compiles to TakeOrderedAndProject);
- per tree edge: frontier expansion ``child ⋉ parent_keys`` as a
  LEFT SEMI join. The frontier key set is usually tiny (bounded by
  ``limit`` × backref fan-out), so it is broadcast — at 100 TB the big
  child table is never shuffled: each scan task filters against the
  broadcast hash set, and parquet/JDBC sources additionally get DPP-style
  pruning when the key column is a partition column;
- per-parent ``backref_limit`` via a window ``row_number() <= n``
  (deterministic variant of the reference's batch-global LIMIT,
  divergence documented in SURVEY.md §7.3.3);
- per-table accumulation: ``unionByName`` of every tree node reaching
  that table + ``dropDuplicates(pk)``.

The only sequential part is the per-level loop (≤ max depth iterations);
each iteration is fully parallel DataFrame work.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window

from dbcut_spark.operators.pinning import pin
from pyspark.sql import functions as F

from dbcut_spark.dsl import compile_where
from dbcut_spark.graph import Direction, TreeNode
from dbcut_spark.plans.extraction import ExtractionPlan

TableLoader = Callable[[str], DataFrame]

# Unbounded-frontier routing: key sets estimated up to this many BYTES
# broadcast; larger frontiers take the Bloom pre-filtered semi join
# (operators/bloom.py). Byte-based, not row-based: 4M single-bigint
# keys (~32 MB) should broadcast while 4M wide composite string keys
# (~400 MB) must not — a row-count threshold would force-broadcast the
# latter past Spark's own size safety (driver/executor OOM).
BLOOM_MAX_BROADCAST_BYTES = 64 * 1024 * 1024
# retained for tests/tuning: rows threshold derived per-frontier from
# the estimated key row width (see _estimated_key_bytes)
BLOOM_MIN_KEYS = 4_000_000

# Skew-aware backref-cap routing (round-9 verdict ask #5): a child
# table at or past this metadata row count takes the two-phase salted
# per-parent top-k (operators/skew.py:salted_top_per_key) instead of a
# single key-partitioned window — one pathological parent cannot stall
# a reducer, at the cost of one extra (skew-free) shuffle of the
# already-cap-bounded survivors. Below it the plain window stays: on
# small tables the extra shuffle is pure overhead and no partition can
# be pathologically large anyway. Zero-job routing on purpose — a
# per-edge heavy-hitter probe job is exactly the per-edge count the
# round-7 rework removed; `cli skew` remains the offline diagnostic,
# and the executor's salted_backref_cap flag forces either form.
SALTED_CAP_MIN_CHILD_ROWS = 2_000_000

_TYPE_BYTES = {
    "boolean": 1,
    "byte": 1,
    "short": 2,
    "integer": 4,
    "date": 4,
    "float": 4,
    "long": 8,
    "double": 8,
    "timestamp": 8,
}


def _estimated_key_bytes(df: DataFrame) -> int:
    """Estimated serialized bytes per key row from the schema: fixed
    widths for primitives, 64 B for strings/other. 64 is a compromise
    for variable-width keys — generous for short codes, still
    optimistic for very wide URL/composite keys — so a mis-estimate
    can only over-admit broadcasts by the ratio (true width / 64); the
    static preview (plans/cost.py) reports REAL per-column widths from
    parquet footers, which is where wide-key layouts should be caught
    before running."""
    total = 0
    for f in df.schema.fields:
        total += _TYPE_BYTES.get(f.dataType.typeName(), 64)
    return max(total, 1)


def parquet_loader(spark: SparkSession, sf_dir: str) -> TableLoader:
    """Loader over a parquet directory: ``sources.parquet.read_table``,
    whose source-schema memo infers each table's file schema once (one
    Spark job) for as long as its files stand; every later read, from
    this loader or any other source read, runs no job."""
    from dbcut_spark.sources.parquet import read_table

    return lambda table: read_table(spark, sf_dir, table)


def parquet_table_rows(sf_dir: str) -> Callable[[str], int | None]:
    """Table-level row counts from parquet footer metadata (no Spark
    job) — the cheapest tier of the unbounded-frontier routing bound: a
    frontier over table T holds ≤ rows(T) keys, so a small dim table
    proves broadcastability without ANY job. Returns None on missing /
    unreadable tables (routing then falls back to counting)."""
    import os

    from dbcut_spark.sources.parquet import estimate_row_count

    def rows(table: str) -> int | None:
        try:
            return estimate_row_count(
                os.path.join(sf_dir, f"{table}.parquet")
            )
        except Exception:
            return None

    return rows


def _prefixed(df: DataFrame, table: str) -> DataFrame:
    return df.select([F.col(c).alias(f"{table}__{c}") for c in df.columns])


class ClosureExecutor:
    def __init__(
        self,
        spark: SparkSession,
        loader: TableLoader,
        table_rows: Callable[[str], int | None] | None = None,
        salted_backref_cap: bool | None = None,
    ):
        self.spark = spark
        self.load = loader
        # optional source-metadata row counts (parquet footers / JDBC
        # statistics) used as free frontier upper bounds when routing
        # unbounded edges; memoized — footer walks cost O(files)
        self.table_rows = table_rows
        self._table_rows_memo: dict[str, int | None] = {}
        # None = auto (salted cap iff child-table metadata rows >=
        # SALTED_CAP_MIN_CHILD_ROWS; unknown size keeps the plain
        # window — JDBC sources report no stats and are operational
        # DBs, and a wrong 'plain' is a stall, not a wrong answer);
        # True/False force a form (used by tests and `cli skew` users)
        self.salted_backref_cap = salted_backref_cap

    def _source_rows(self, table: str) -> int | None:
        if self.table_rows is None:
            return None
        if table not in self._table_rows_memo:
            self._table_rows_memo[table] = self.table_rows(table)
        return self._table_rows_memo[table]

    def _cap_salted(self, child_table: str) -> bool:
        """Route the per-parent backref cap: salted two-phase top-k for
        provably-large child tables (or when forced), plain window
        otherwise — see SALTED_CAP_MIN_CHILD_ROWS."""
        if self.salted_backref_cap is not None:
            return self.salted_backref_cap
        rows = self._source_rows(child_table)
        return rows is not None and rows >= SALTED_CAP_MIN_CHILD_ROWS

    # -- root ---------------------------------------------------------------
    def root_frame(self, plan: ExtractionPlan) -> DataFrame:
        spec = plan.spec
        root = self.load(plan.root_table)
        root_cols = root.columns
        cw = compile_where(spec.where, plan.root_table)
        df = root
        if cw.foreign_tables:
            # cross-table predicate (F4): join the referenced tables along
            # their tree path, filter, keep distinct root rows
            # (semi-join semantics, /root/reference/README.rst:297-311).
            # INVARIANT: joins dedup by table NAME in sorted-foreign-table
            # order — when two predicates' minimal paths disagree about a
            # shared table's tree copy, the first-sorted path wins. The
            # oracle renderer (plans/oracle.py:_root_sql) applies the
            # IDENTICAL name-keyed dedup over the same find_path, so both
            # engines implement the same semantics by construction; a
            # change here must change there too.
            joined_tables = {plan.root_table}
            for ft in sorted(cw.foreign_tables):
                for node in plan.find_path(ft):
                    rel = node.relationship
                    assert rel is not None
                    if node.table in joined_tables:
                        continue
                    joined_tables.add(node.table)
                    tgt = _prefixed(self.load(node.table), node.table)
                    cond = None
                    for s, t in zip(rel.source_cols, rel.target_cols):
                        left = (
                            F.col(s)
                            if rel.source == plan.root_table
                            else F.col(f"{rel.source}__{s}")
                        )
                        c = left == F.col(f"{node.table}__{t}")
                        cond = c if cond is None else (cond & c)
                    df = df.join(tgt, cond, "left_outer")
        if cw.predicate is not None:
            df = df.filter(cw.predicate)
        if cw.foreign_tables:
            df = df.select(*root_cols).dropDuplicates(list(plan.root_pk()))
        if spec.limit is not None or spec.offset:
            # the order is only SEMANTIC under limit/offset (which rows
            # make the cut); an unbounded root does not need it, and
            # pin() would otherwise materialize a full global sort
            # (range-partition shuffle of the whole root selection)
            # that every consumer immediately destroys — frontier
            # joins reshuffle and closure_table re-sorts per table
            # (round-11 review)
            order_cols = [k.to_column() for k in plan.order_keys()]
            df = df.orderBy(*order_cols)
        if spec.offset:
            df = df.offset(spec.offset)
        if spec.limit is not None:
            df = df.limit(spec.limit)
        return df

    # -- closure ------------------------------------------------------------
    def execute(self, plan: ExtractionPlan) -> dict[str, DataFrame]:
        """Run the frontier loop; returns {table: closure DataFrame}."""
        return self.execute_nodes(plan)[0]

    def execute_nodes(
        self, plan: ExtractionPlan
    ) -> tuple[dict[str, DataFrame], dict[int, DataFrame]]:
        """Frontier loop returning both the per-table closure and the
        per-tree-node frontier frames (the latter feed the nested-JSON
        sink, which nests along the tree, not per table)."""
        # each frontier feeds every child edge plus the per-table output;
        # persist so lazy evaluation doesn't recompute the whole upstream
        # chain per consumer (frontiers are small by construction)
        root_df = pin(self.root_frame(plan))
        # bounded root (limit set) ⇒ every frontier key set is small ⇒
        # broadcast it so child scans never shuffle. The invariant
        # needs BOTH caps: with `backref_limit: no` a ONETOMANY hop can
        # fan a 100-row root into millions of child rows, and a forced
        # broadcast of that frontier's keys would OOM the driver — so
        # fall back to Spark's own size-based strategy then (AQE still
        # broadcasts the ones that turn out small).
        bounded = (
            plan.spec.limit is not None and plan.spec.backref_limit is not None
        )
        frontiers: dict[int, DataFrame] = {id(plan.tree.root): root_df}
        per_table: dict[str, list[DataFrame]] = {plan.root_table: [root_df]}
        # known row-count upper bound per frontier node, used to route
        # unbounded edges WITHOUT a per-edge distinct+count shuffle job
        # (round-7 verdict item 2): frontier keys ≤ parent frontier
        # rows, so a parent provably under the broadcast threshold lets
        # every outgoing edge broadcast immediately. Bounds propagate
        # statically (root ≤ limit; m2o child ≤ parent; capped o2m ≤
        # parent × backref_limit); when no static bound exists, ONE
        # cached-scan count per node (the parent frame is pinned) is
        # shared by all its outgoing edges — strictly cheaper than the
        # old per-edge keys.distinct().count() two-stage job.
        bounds: dict[int, int | None] = {
            id(plan.tree.root): plan.spec.limit
        }

        for node in plan.tree.root.walk():
            for child in node.children:
                rel = child.relationship
                assert rel is not None
                parent_df = frontiers[id(node)]
                # no distinct(): a LEFT SEMI result does not depend on
                # duplicates on its right side, and the frontier-row
                # bound that gates a broadcast already bounds these
                # rows; only the Bloom route below needs distinct keys
                keys = parent_df.select(
                    [F.col(s).alias(t) for s, t in zip(rel.source_cols, rel.target_cols)]
                ).dropna()
                # a bounded spec's frontier is USUALLY small, but the
                # static product compounds per o2m level (limit 1000 ×
                # backref 1000 × depth 3 = 10^12): force-broadcasting a
                # provably-huge frontier would hit Spark's broadcast
                # limits / OOM the driver — so the force applies ONLY
                # while the propagated bound is KNOWN and under the
                # byte threshold. An unknown bound (m2o hop through a
                # non-PK target column: the semi join can admit up to
                # the whole child table, e.g. joining on a low-
                # cardinality code column of a billion-row table) takes
                # the same adaptive metadata/count/Bloom routing as
                # limit:no — which broadcasts anyway whenever the
                # frontier turns out small (round-10 review).
                _bound_here = bounds.get(id(node))
                # ONE broadcast-row threshold for both the bounded
                # force-broadcast gate and the adaptive route below — a
                # tuning change must move both together
                max_rows = min(
                    BLOOM_MIN_KEYS,
                    BLOOM_MAX_BROADCAST_BYTES // _estimated_key_bytes(keys),
                )
                if bounded and (
                    _bound_here is not None and _bound_here <= max_rows
                ):
                    keys = F.broadcast(keys)
                    child_df = self.load(rel.target).join(
                        keys, on=list(rel.target_cols), how="left_semi"
                    )
                else:
                    # unbounded frontier (limit:no / backref_limit:no):
                    # bound it (statically when possible — see `bounds`
                    # above), then route adaptively. Small key sets
                    # broadcast exactly like the bounded path (a
                    # blanket Bloom here measured 3-4x overhead on tiny
                    # frontiers: five extra operators per edge for
                    # nothing). Past the threshold a forced broadcast
                    # could OOM the driver and a plain semi join would
                    # shuffle the WHOLE child table — so Bloom-prefilter
                    # the child (map-side broadcast word lookups, no
                    # child shuffle) and let the exact semi join move
                    # only survivors. Result-identical either way:
                    # Bloom has false positives only, and the semi join
                    # removes those (operators/bloom.py).
                    from dbcut_spark.operators.bloom import bloom_semi_join

                    n_bound = _bound_here
                    if n_bound is None:
                        # no static bound — try source metadata (free:
                        # the frontier is a subset of its table). A big
                        # TABLE does not mean a big FRONTIER (selective
                        # `where` + limit:no), so a too-big metadata
                        # bound falls through to ONE count of the
                        # PINNED parent frame (single cached stage, no
                        # shuffle), shared across this node's edges.
                        n_bound = self._source_rows(node.table)
                        if n_bound is not None and n_bound > max_rows:
                            n_bound = None
                        if n_bound is None:
                            n_bound = parent_df.count()
                        bounds[id(node)] = n_bound
                    if n_bound <= max_rows:
                        child_df = self.load(rel.target).join(
                            F.broadcast(keys),
                            on=list(rel.target_cols),
                            how="left_semi",
                        )
                    else:
                        # bound exceeds the threshold: the distinct key
                        # set may still be small (duplicated FKs) — pay
                        # the exact count only now, on this slow path
                        keys = keys.distinct()
                        n_keys = keys.count()
                        if n_keys <= max_rows:
                            child_df = self.load(rel.target).join(
                                F.broadcast(keys),
                                on=list(rel.target_cols),
                                how="left_semi",
                            )
                        else:
                            child_df = bloom_semi_join(
                                self.load(rel.target),
                                keys,
                                list(rel.target_cols),
                                n_keys=n_keys,
                            )
                if (
                    rel.direction is Direction.ONETOMANY
                    and plan.spec.backref_limit is not None
                ):
                    pk = plan.catalog.table(rel.target).pk
                    if plan.spec.backref_limit_mode == "global":
                        # strict reference parity: one LIMIT over the whole
                        # child fetch (the reference caps each selectin
                        # batch statement globally, not per parent —
                        # /root/reference/dbcut/query.py:457-467). Ordered
                        # by PK desc so the cap is deterministic.
                        child_df = child_df.orderBy(
                            *[F.col(c).desc() for c in pk]
                        ).limit(plan.spec.backref_limit)
                    elif self._cap_salted(rel.target):
                        # skew-aware per-parent cap: a single window
                        # partitioned by the FK puts every child of a
                        # hot parent in ONE task; the two-phase salted
                        # top-k bounds any task's partition to ~rows/
                        # n_salts (routing rationale at
                        # SALTED_CAP_MIN_CHILD_ROWS)
                        from dbcut_spark.operators.skew import (
                            salted_top_per_key,
                        )

                        child_df = salted_top_per_key(
                            child_df,
                            list(rel.target_cols),
                            list(pk),
                            plan.spec.backref_limit,
                        )
                    else:
                        w = Window.partitionBy(*rel.target_cols).orderBy(
                            *[F.col(c).desc() for c in pk]
                        )
                        child_df = (
                            child_df.withColumn("__dbcut_rn", F.row_number().over(w))
                            .filter(F.col("__dbcut_rn") <= plan.spec.backref_limit)
                            .drop("__dbcut_rn")
                        )
                child_df = pin(child_df) if child.children else child_df
                frontiers[id(child)] = child_df
                # static bound for the child frontier (None = unknown):
                # m2o through the target's full PK matches ≤1 row per
                # key; a capped o2m fans out ≤ backref_limit per parent
                # (global mode: ≤ backref_limit total)
                parent_bound = bounds.get(id(node))
                child_bound: int | None = None
                if rel.direction is Direction.MANYTOONE and tuple(
                    plan.catalog.table(rel.target).pk
                ) == tuple(rel.target_cols):
                    child_bound = parent_bound
                elif (
                    rel.direction is Direction.ONETOMANY
                    and plan.spec.backref_limit is not None
                ):
                    if plan.spec.backref_limit_mode == "global":
                        child_bound = plan.spec.backref_limit
                    elif parent_bound is not None:
                        child_bound = parent_bound * plan.spec.backref_limit
                bounds[id(child)] = child_bound
                per_table.setdefault(rel.target, []).append(child_df)

        out: dict[str, DataFrame] = {}
        for table, frames in per_table.items():
            df = frames[0]
            for extra in frames[1:]:
                df = df.unionByName(extra)
            pk = plan.catalog.table(table).pk
            out[table] = df.dropDuplicates(list(pk)) if len(frames) > 1 else df
        return out, frontiers

    def closure_table(self, plan: ExtractionPlan, table: str) -> DataFrame:
        """Closure restricted to one table (canonically PK-sorted)."""
        df = self.execute(plan)[table]
        pk = plan.catalog.table(table).pk
        return df.orderBy(*[F.col(c).asc() for c in pk])
