"""Streaming corpus ingestion with LSH dedup — the continuous twin of
``curation.incremental_dedup_indexed`` (round 10): a document stream
triages each micro-batch against the PERSISTED LSH reference index,
appends only the accepted (neither exact- nor near-duplicate) docs to
the corpus, and grows the index with exactly those docs so the NEXT
micro-batch dedups against them too. This is the shape a 100 TB
training-data pipeline actually runs: the reference corpus is hashed
once (index build), and steady-state ingestion cost is O(batch) —
probe reads only the batch's colliding bucket partitions, appends are
partitioned writes.

Restart/retry semantics (foreachBatch may re-run a batch):

- the corpus append is an ``insert_ignore_parquet`` keyed on the id
  column — idempotent, a replayed batch inserts nothing new;
- the index append tolerates replay by construction: the near probe
  anti-joins the batch's own ids out of the index side, and the exact
  side is a blind O(batch) append whose possible replay duplicates
  are invisible to the duplicate-proof semi-join probe (physically
  swept by ``dedup.lsh_index_compact``; see
  ``dedup.lsh_index_append`` — the earlier per-batch anti-join
  against the standing table was an O(corpus) cost every batch,
  contradicting this module's steady-state contract);
- a replayed batch whose hashes already landed in the exact table
  triages as exact-dup (the safe answer: the content IS in the
  reference), so its ``accepted`` set is empty and every sink step is
  a no-op — the pipeline CONVERGES to the same corpus/index, though a
  decisions audit sink would record the replay's dup verdicts, which
  is why this module does not offer one: decision rows are not
  replay-stable, corpora and indexes are.

Bootstrap: when no index exists yet, the first non-empty batch is
accepted wholesale (an empty reference has no duplicates of anything —
exactly the batch semantics of ``incremental_dedup`` against an empty
reference side) and becomes the initial index. Intra-batch duplicates
are deliberately NOT collapsed, matching the batch twin (batch
self-dedup is ``dedup_exact``/``dedup_minhash_lsh``'s job); they do
collide against the index from the next batch on.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def dedup_ingest_batch(
    batch: DataFrame,
    index_path: str,
    corpus_path: str,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    band_rows: int = 4,
    n_buckets: int = 64,
) -> int:
    """Triage ONE batch against the index, append accepted docs to the
    corpus and the index. Returns the number of accepted docs. Batch
    core shared by the streaming wrapper and batch callers (the same
    batch-first design as streaming/merge.apply_cdc_batch)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from dbcut_spark.operators.curation import indexed_probe_ids
    from dbcut_spark.operators.dedup import (
        batch_bands_for_index,
        build_lsh_commit,
        build_lsh_stage,
        lsh_index_commit,
        lsh_index_stage,
    )
    from dbcut_spark.sinks.insert_ignore import insert_ignore_parquet

    spark = batch.sparkSession
    # stabilize FIRST: the batch feeds the emptiness probe, the dedup
    # probe, the corpus append and the index append — checkpointing
    # before isEmpty makes the emptiness probe a cached-block read
    # instead of a second pull of the (possibly non-replayable) source
    # (round-11 optimization: one source evaluation per batch, not two)
    batch = batch.localCheckpoint()
    if batch.isEmpty():
        return 0
    bootstrapped = not os.path.exists(
        os.path.join(index_path, "_lsh_meta.json")
    )
    bands = None
    if bootstrapped:
        # batch is already checkpointed above — a second eager
        # checkpoint of the SAME frame would materialize the whole
        # bootstrap corpus slice twice (review finding, round 11)
        accepted = batch
    else:
        # band the batch ONCE with the index's own parameters and feed
        # both the probe and the post-accept index staging — previously
        # each re-ran the full shingle+minhash pass (round-11
        # optimization); persisted for the two consumers, released in
        # the finally below
        bands = batch_bands_for_index(
            index_path, batch, text_col, id_col
        ).persist()
        # accepted = batch minus (exact ∪ near) rejects: ONE anti-join
        # against the union of the probe's id-frames — the loop never
        # reads the per-doc flags, and the flag-bearing decisions frame
        # cost two extra outer joins plus a semi-join per batch
        # (round-12 optimization; set-equivalent by construction:
        # keep = ids with both flags false = batch ids ∖ rejected)
        exact_ids, near_ids = indexed_probe_ids(
            spark, index_path, batch, text_col, id_col, threshold,
            bands=bands,
        )
        rejected = exact_ids.unionByName(near_ids)
        # lazy: the stats agg below scans every partition, so the
        # checkpoint materializes inside that job (one job per batch
        # saved; the probe side is already decided by the anti-join)
        accepted = batch.join(rejected, id_col, "left_anti").localCheckpoint(
            eager=False
        )
    # ONE agg job yields both the row count and the hashability probe
    # (non-NULL text count) — previously a count() plus a separate
    # limit(1).count() job (round-11 optimization, guide §1.2)
    stats = accepted.agg(
        F.count(F.lit(1)).alias("__n"), F.count(text_col).alias("__nh")
    ).first()
    n = stats["__n"]
    if n == 0:
        if bands is not None:
            bands.unpersist()
        return 0
    if bootstrapped:
        # validate hashability BEFORE the corpus append: a first batch
        # whose texts are all NULL would land in the corpus and then
        # build_lsh_index would raise — deterministically, on every
        # foreachBatch replay — poisoning the stream in a crash loop
        # with corpus docs no index covers (review finding, round 11).
        # With nothing hashable, DEFER the bootstrap: accept the docs
        # (insert_ignore makes the replay converge) and let the first
        # batch with content build the index.
        hashable = stats["__nh"] > 0
        # corpus append and index STAGING overlap (guide §2.6): staged
        # index files are invisible until the commit below, and the
        # commit — which writes _lsh_meta.json, the bootstrap gate —
        # only runs after the corpus append returned, so the
        # corpus-before-index crash contract is intact while the two
        # expensive writes share the cluster (round-11 optimization)
        staged = None
        with ThreadPoolExecutor(max_workers=2) as pool:
            fc = pool.submit(
                insert_ignore_parquet, spark, accepted, corpus_path,
                [id_col],
            )
            fs = (
                pool.submit(
                    build_lsh_stage,
                    accepted.filter(F.col(text_col).isNotNull()),
                    index_path, text_col, id_col,
                    num_hashes=num_hashes, band_rows=band_rows,
                    n_buckets=n_buckets,
                )
                if hashable
                else None
            )
            fc.result()  # corpus visibility gates the index commit
            if fs is not None:
                try:
                    staged = fs.result()
                except ValueError as exc:
                    # build's own emptiness test is BANDS-based
                    # (whitespace-only texts shingle to nothing and
                    # pass the NULL pre-check above): same deferral,
                    # not a crash loop
                    if "no hashable documents" not in str(exc):
                        raise
        if staged is not None:
            build_lsh_commit(index_path, staged)
        return n
    # corpus BEFORE index: a crash between the two replays as
    # accepted-again (insert_ignore dedups the corpus, the index
    # append then completes); the reverse order would replay as
    # all-dups and leave the corpus missing the batch forever.
    # Overlap (round-11 optimization): the index STAGING runs
    # concurrently with the corpus append — staged files are invisible
    # until lsh_index_commit, which runs strictly after the corpus
    # append returned, so 'corpus before index' still holds for every
    # crash point while the two writes share the cluster (guide §2.6)
    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            fc = pool.submit(
                insert_ignore_parquet, spark, accepted, corpus_path,
                [id_col],
            )
            fs = pool.submit(
                lsh_index_stage, index_path, accepted, text_col, id_col,
                # the probe's banded batch, restricted to the accepted
                # ids — the append's second minhash pass becomes a
                # cached-frame semi-join; the stats agg's row count
                # sizes the staged write's file spread (round 11)
                bands=bands.join(
                    accepted.select(id_col), id_col, "left_semi"
                ),
                rows_hint=n,
            )
            fc.result()  # corpus visibility gates the index commit
            staged = fs.result()
        lsh_index_commit(spark, index_path, staged)
    finally:
        bands.unpersist()
    return n


def stream_dedup_ingest(
    stream: DataFrame,
    index_path: str,
    corpus_path: str,
    text_col: str,
    id_col: str,
    checkpoint: str,
    threshold: float = 0.5,
    trigger: dict | None = None,
    compact_every: int | None = None,
    **index_params,
):
    """Start the streaming ingestion loop (foreachBatch over
    :func:`dedup_ingest_batch`). Returns the StreamingQuery. Default
    trigger drains available input and stops (test/batch-drain mode);
    pass e.g. ``{"processingTime": "1 minute"}`` for continuous
    ingestion.

    ``compact_every=N`` runs ``dedup.lsh_index_compact`` after every
    Nth micro-batch (keyed on the checkpointed batch_id, so a restart
    keeps the cadence instead of resetting it): every batch's append
    publishes at least one new file per touched bucket partition, so
    an unmaintained index makes probes pay per-file open cost growing
    with batch count — the compaction republishes a 1-file-per-bucket
    snapshot and vacuums expired files. Probe results are
    layout-invariant (pinned in tests), and since round 11 the index
    is manifest-versioned, so the compaction's overwrite snapshot is
    atomically visible too — an in-flight probe keeps its pinned
    pre-compact snapshot. Left None, maintenance stays manual
    (``cli inspect --lsh-index`` shows when it's due)."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        dedup_ingest_batch(
            batch, index_path, corpus_path, text_col, id_col,
            threshold, **index_params,
        )
        if compact_every and (batch_id + 1) % compact_every == 0:
            from dbcut_spark.operators.dedup import lsh_index_compact
            from dbcut_spark.sinks.manifest import VersionConflictError

            if os.path.exists(os.path.join(index_path, "_lsh_meta.json")):
                try:
                    lsh_index_compact(batch.sparkSession, index_path)
                except VersionConflictError:
                    # a concurrent appender won the version CAS (since
                    # round 11 the compaction pins expected_parent so
                    # it can never supersede a committed batch):
                    # maintenance just retries at the next cadence —
                    # never kill the ingest stream over housekeeping
                    pass

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
