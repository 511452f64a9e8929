"""Semantics tests for the training-data pipeline operators (the parity
suite covers oracle equivalence; these pin intended behavior)."""

from pyspark.sql import functions as F

from dbcut_spark.operators import dedup as dd
from dbcut_spark.operators import similarity as sim
from dbcut_spark.operators.multimodal import (
    decode_image_batch,
    frame_sample_plan,
    synth_media,
)


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
        (3, "the quick brown fox jumped over the lazy dog"),  # near dup
        (4, "completely different content with other words entirely"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups(spark):
    out = dd.exact_dedup(_docs(spark), "text", "doc_id").collect()
    by_keep = {r["keep_id"]: r["n_copies"] for r in out}
    assert by_keep[1] == 2          # docs 1+2 identical
    assert by_keep[3] == 1
    assert len(out) == 4            # 4 distinct contents (incl. empty)


def test_minhash_lsh_finds_near_dups(spark):
    sigs = dd.minhash_signatures(_docs(spark), "text", "doc_id")
    pairs = dd.lsh_candidate_pairs(sigs, "doc_id").collect()
    sims = {(r["doc_a"], r["doc_b"]): r["est_sim"] for r in pairs}
    assert sims[(1, 2)] == 1.0                  # identical → full agreement
    assert (1, 3) in sims and sims[(1, 3)] >= 0.5  # near dup caught
    assert (1, 4) not in sims                   # unrelated not candidate


def test_connected_components_chain_and_islands(spark):
    # Chain 10-20-30-40 (diameter 3 → needs >1 propagation round),
    # separate pair 100-200, node 300 only as an isolated self-pair
    # source is absent — components cover only nodes appearing in edges.
    edges = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40), (100, 200)], ["doc_a", "doc_b"]
    )
    out = {r["id"]: r["component"] for r in dd.connected_components(edges).collect()}
    assert out == {10: 10, 20: 10, 30: 10, 40: 10, 100: 100, 200: 100}


def test_connected_components_merge_order_independent(spark):
    # Two chains that meet in the middle; min label must flow across
    # the junction regardless of edge orientation (a<b kept throughout).
    edges = spark.createDataFrame(
        [(5, 9), (9, 50), (7, 50), (7, 80)], ["doc_a", "doc_b"]
    )
    out = {r["id"]: r["component"] for r in dd.connected_components(edges).collect()}
    assert set(out.values()) == {5}
    assert len(out) == 5


def test_connected_components_no_premature_convergence(spark):
    # Regression (round-2 advice): edges {(1,5),(2,6),(3,5),(3,6)} form
    # ONE component, but the round-1 convergence test ("no node is both
    # edge head and tail") also passed the intermediate state where
    # heads 5 and 6 still had two distinct parents each — exiting early
    # with node 3 labeled into two components. The check must also
    # require every head to have exactly one parent.
    edges = spark.createDataFrame(
        [(1, 5), (2, 6), (3, 5), (3, 6)], ["doc_a", "doc_b"]
    )
    # small_graph_edges=0 forces the distributed star-rounds path
    out = {
        r["id"]: r["component"]
        for r in dd.connected_components(edges, small_graph_edges=0).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 5: 1, 6: 1}


def test_connected_components_fast_path_matches_distributed(spark):
    # The driver-side union-find (small-graph fast path) and the
    # large-star/small-star path must produce identical labelings.
    edges = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40), (100, 200), (1, 5), (2, 6), (3, 5), (3, 6)],
        ["doc_a", "doc_b"],
    )
    fast = {
        r["id"]: r["component"] for r in dd.connected_components(edges).collect()
    }
    dist = {
        r["id"]: r["component"]
        for r in dd.connected_components(edges, small_graph_edges=0).collect()
    }
    assert fast == dist
    assert fast[40] == 10 and fast[6] == 1 and fast[200] == 100


def test_simhash_properties(spark):
    out = {r["doc_id"]: r["simhash"] for r in dd.simhash(_docs(spark), "text", "doc_id").collect()}
    assert out[1] == out[2]                     # identical text → same hash
    h13 = bin(out[1] ^ out[3]).count("1")
    h14 = bin(out[1] ^ out[4]).count("1")
    assert h13 < h14                            # near dup closer than unrelated
    pairs = dd.simhash_pairs(
        dd.simhash(_docs(spark), "text", "doc_id"), "doc_id", max_hamming=0
    ).collect()
    assert {(p["doc_a"], p["doc_b"]) for p in pairs} == {(1, 2)}


def test_simhash_banded_equals_brute(spark, sf_dir):
    """The pigeonhole-banded pair search must return exactly the brute
    cross-join's pairs at every radius (it is exact, not approximate)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = dd.simhash(docs, "text", "doc_id").persist()
    for k in (0, 1, 3):
        brute = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in dd.simhash_pairs(s, "doc_id", max_hamming=k).collect()
        }
        banded = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in dd.simhash_pairs_banded(s, "doc_id", max_hamming=k).collect()
        }
        assert banded == brute, f"radius {k}: banded != brute"


def test_ngram_jaccard_exact(spark):
    pairs = dd.ngram_jaccard_pairs(_docs(spark), "text", "doc_id", threshold=0.3)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert 0.5 < got[(1, 3)] < 1.0


def _vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (10, [1.0, 0.05, 0.0, 0.0]),
        (11, [0.0, 1.0, 0.0, 0.0]),
        (12, [-1.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )


def test_cosine_topk_exact(spark):
    v = _vecs(spark)
    out = sim.cosine_topk(
        v.filter(F.col("vec_id") < 10), v.filter(F.col("vec_id") >= 10), k=2
    ).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append((r["rnk"], r["cand_id"], r["cos_sim"]))
    assert per_q[0][0][1] == 10          # closest to e1 is (1, .05, ...)
    assert per_q[0][-1][1] == 11         # then orthogonal beats opposite
    assert all(abs(r["cos_sim"]) <= 1.0 for r in out)


def test_embedding_neardup_threshold(spark):
    v = _vecs(spark)
    pairs = sim.embedding_neardup_pairs(v, threshold=0.99).collect()
    # cos(0,1)=.9939, cos(0,10)=.9988, cos(1,10)=.9982; rest < .99
    assert {(p["doc_a"], p["doc_b"]) for p in pairs} == {(0, 1), (0, 10), (1, 10)}


def test_zero_norm_vectors_degrade_not_crash(spark):
    """Spark 4 runs ANSI mode by default, where a plain division by a
    zero norm-product ABORTS the job: every cosine path must instead
    score a zero-norm (padding / failed-encoder) vector as NULL and
    drop it from thresholds and neighbor lists (round-10 review)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero norm
    ]
    v = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    pairs = sim.embedding_neardup_pairs(v, threshold=0.5).collect()
    assert {(p["doc_a"], p["doc_b"]) for p in pairs} == {(0, 1)}
    # the brute-force scorer keeps the zero-norm row out of real ranks
    out = sim.cosine_topk(v, v, k=3).collect()
    assert all(
        r["cos_sim"] is None
        for r in out
        if 2 in (r["query_id"], r["cand_id"])
    )
    # SemDeDup over a corpus containing the degenerate vector completes
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    flags = {
        r["vec_id"]: r["is_dup"]
        for r in sim.semantic_dedup(v, cents, threshold=0.8).collect()
    }
    assert flags[1] is True and flags[2] is False


def test_vectorized_kernels_raise_on_full_dim_mismatch(spark):
    """The drop-don't-crash guards tolerate single bad rows; a caller
    whose dim parameter mismatches ALL the data must get a loud error,
    not empty-but-successful results (round-10 review)."""
    import pytest
    from pyspark.errors.exceptions.base import PySparkException

    # ≥16 rows in one INPUT partition (single-slice RDD — a repartition
    # wouldn't do: Catalyst pushes the deterministic UDF projection
    # below the exchange, back onto the tiny source partitions): the
    # guard only fires on all-dropped batches big enough to rule out a
    # lone bad row at a partition tail
    rows = [(i, [float(i), 1.0, 0.0, 0.0]) for i in range(40)]
    big = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(PySparkException, match="was dropped"):
        sim.signatures_vectorized(
            big, "embedding", n_planes=8, dim=64
        ).count()
    cents8 = [[0.0] * 8, [1.0] * 8]  # 8-dim centroids vs 4-dim data
    with pytest.raises(PySparkException, match="was dropped"):
        sim.semantic_dedup(big, cents8).count()
    # a single ragged row among good ones still degrades silently
    bad = spark.createDataFrame(
        [(99, [1.0, 2.0])], ["vec_id", "embedding"]
    ).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    mixed = _vecs(spark).unionByName(bad)
    sigs = sim.signatures_vectorized(mixed, "embedding", n_planes=8, dim=4)
    assert sigs.count() == 5  # the ragged row dropped, the rest signed


def test_binary_topk_drops_short_vectors(spark):
    """binary_hamming_topk must drop vectors shorter than dim (the
    LSH/IVF/PQ degrade contract), not abort on ANSI element_at."""
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(4)]
    rows.append((9, [1.0, 0.0]))  # truncated vector
    v = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    out = sim.binary_hamming_topk(v, v, k=2, dim=8).collect()
    ids = {r["query_id"] for r in out} | {r["cand_id"] for r in out}
    assert 9 not in ids and ids == {0, 1, 2, 3}


def test_null_text_docs_never_band(spark):
    """A NULL-text doc has an all-NULL minhash signature; concat_ws
    would band every such doc onto the single md5('') hash in every
    band — one hot key quadratic in the NULL count. They must simply
    produce no candidate pairs (round-10 review)."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumped over the lazy dog"),
        (3, None),
        (4, None),
        (5, None),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = dd.minhash_signatures(d, "text", "doc_id")
    pairs = dd.lsh_candidate_pairs(sigs, "doc_id").collect()
    assert {(p["doc_a"], p["doc_b"]) for p in pairs} == {(1, 2)}


def test_lsh_ann_subset_of_brute(spark, sf_dir):
    from dbcut_spark.sources.parquet import read_table

    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    c = e.filter(F.col("vec_id") >= 5)
    approx = sim.lsh_ann_topk(q, c, k=3)
    rows = approx.collect()
    assert len(rows) <= 5 * 3
    assert all(r["cos_sim"] <= 1.0 for r in rows)
    # approximate results must come from the true candidate set
    brute = {
        (r["query_id"], r["cand_id"])
        for r in sim.cosine_topk(q, c, k=1000).collect()
    }
    assert all((r["query_id"], r["cand_id"]) in brute for r in rows)


def test_multimodal_stub_and_plumbing(spark):
    media = synth_media(spark, 32)
    import pytest

    with pytest.raises(NotImplementedError):
        decode_image_batch(media)  # real decode is stubbed by design
    feats = decode_image_batch(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 32
    r0 = next(r for r in rows if r["media_id"] == 0)
    assert 64 <= r0["width"] < 256 and 64 <= r0["height"] < 256
    assert len(r0["feature"]) == 8
    # deterministic: same payload → same hash across runs
    again = {r["media_id"]: r["content_hash"] for r in decode_image_batch(media, fake=True).collect()}
    assert again[0] == r0["content_hash"]

    frames = frame_sample_plan(media.filter(F.col("kind") == "video"), every_n=30)
    fr = frames.groupBy("media_id").count().collect()
    assert all(r["count"] >= 3 for r in fr)  # 90+ frames / 30 step


def test_streaming_hourly_matches_batch(spark, sf_dir, tmp_path):
    import shutil

    from dbcut_spark.queries_pipeline import events_hourly
    from dbcut_spark.sources.parquet import read_table
    from dbcut_spark.streaming.events import (
        hourly_counts,
        read_event_stream,
        run_stream_to_memory,
    )

    # stage the events as a stream-source directory (micro-batched files)
    src = tmp_path / "events_stream"
    src.mkdir()
    read_table(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(
        str(src)
    )
    stream = read_event_stream(spark, str(src), max_files_per_trigger=1)
    assert stream.isStreaming
    got = run_stream_to_memory(spark, hourly_counts(stream), "hourly_test")
    batch = events_hourly(spark, sf_dir)
    g = {
        (r["hour_start"], r["event_type"]): r["n_events"]
        for r in got.collect()
    }
    b = {
        (r["hour_start"], r["event_type"]): r["n_events"]
        for r in batch.collect()
    }
    assert g == b


def test_stateful_sessionize_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState sessionizer must agree with the
    oracle-checked batch sessionizer on every WATERMARK-MATURED
    session: with delay 0 the final watermark is the stream's max
    event time, so exactly the sessions whose end + gap precedes it
    are emitted (append mode is final — an in-batch gap alone is not
    enough, a late event could still extend or bridge the session;
    round-10 review). Sessions still inside the horizon stay in
    state."""
    from dbcut_spark.queries_pipeline import events_sessionize
    from dbcut_spark.sources.parquet import read_table
    from dbcut_spark.streaming.events import read_event_stream, stateful_sessionize

    from pyspark.sql import functions as F

    src = tmp_path / "events_stream2"
    src.mkdir()
    # subset of users keeps the single-process test fast; the operator
    # itself is user-partitioned, so coverage is identical
    read_table(spark, sf_dir, "events").filter(F.col("user_id") < 60).orderBy(
        "ts"
    ).coalesce(1).write.mode("overwrite").parquet(str(src))
    max_us = int(
        spark.read.parquet(str(src))
        .agg(F.max(F.col("ts").cast("double"))).first()[0] * 1_000_000
    )
    gap_us = 1800 * 1_000_000

    stream = read_event_stream(spark, str(src), max_files_per_trigger=1)
    q = (
        stateful_sessionize(stream, watermark="0 seconds", timeout_s=3)
        .writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )

    batch = [
        r
        for r in events_sessionize(spark, sf_dir).collect()
        if r["user_id"] < 60
    ]
    expected = {
        (
            r["user_id"],
            int(r["session_start"].timestamp() * 1_000_000),
            int(r["session_end"].timestamp() * 1_000_000),
            r["n_events"],
        )
        for r in batch
        # strict <, matching the operator's maturity rule: a session
        # ending exactly gap before the watermark could still be
        # bridged by a boundary event, so it stays pending
        if r["session_end"].timestamp() * 1_000_000 + gap_us < max_us
    }

    # the data batch runs with the PREVIOUS batch's watermark (0), so
    # emission happens in the follow-up timeout batches (timeout_s=3);
    # ProcessingTimeTimeout keeps scheduling batches, so wait until
    # the sink reaches the expected count, then stop.
    import time as _time

    deadline = _time.time() + 120
    while _time.time() < deadline:
        if spark.table("sessions_test").count() >= len(expected):
            break
        _time.sleep(1)
    q.stop()
    got = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in spark.table("sessions_test").collect()
    }
    assert got == expected
    assert len(got) > 0


def test_merge_sessions_late_event_semantics():
    """The pure merge kernel of stateful_sessionize: a late event must
    EXTEND the session it falls into, BRIDGE two pending sessions
    whose gap it fills, and SPLIT correctly otherwise — the exact
    scenarios the old emit-on-in-batch-gap design got wrong (round-10
    review)."""
    from dbcut_spark.streaming.events import _merge_sessions

    m = 60 * 1_000_000  # one minute in us
    gap = 30 * m

    # extend: late event inside an existing session's gap window
    out = _merge_sessions([[0, 0, 1], [60 * m, 60 * m, 1], [20 * m, 20 * m, 1]], gap)
    assert out == [[0, 20 * m, 2], [60 * m, 60 * m, 1]]
    # bridge: the late event chains two pending sessions into one
    out = _merge_sessions([[0, 0, 1], [50 * m, 60 * m, 2], [25 * m, 25 * m, 1]], gap)
    assert out == [[0, 60 * m, 4]]
    # no merge across a genuine gap
    out = _merge_sessions([[0, 0, 1], [90 * m, 90 * m, 1]], gap)
    assert out == [[0, 0, 1], [90 * m, 90 * m, 1]]


def test_ivf_exact_when_probing_all(spark, sf_dir):
    """IVF with nprobe == n_centroids probes every bucket — results
    must equal the brute-force top-k exactly."""
    from dbcut_spark.operators import similarity as sim
    from dbcut_spark.sources.parquet import read_table
    from pyspark.sql import functions as F

    e = read_table(spark, sf_dir, "embeddings")
    q, c = e.filter(F.col("vec_id") < 5), e.filter(F.col("vec_id") >= 5)
    brute = sim.cosine_topk(q, c, k=3).collect()
    ivf = sim.ivf_topk(q, c, k=3, n_centroids=8, nprobe=8).collect()
    assert [tuple(r) for r in ivf] == [tuple(r) for r in brute]


def test_ivf_recall_with_partial_probe(spark, sf_dir):
    """nprobe=4/16 must still recover most true neighbors (recall@5)
    and never return a pair the brute-force scorer would score
    differently."""
    from dbcut_spark.operators import similarity as sim
    from dbcut_spark.sources.parquet import read_table
    from pyspark.sql import functions as F

    e = read_table(spark, sf_dir, "embeddings")
    q, c = e.filter(F.col("vec_id") < 10), e.filter(F.col("vec_id") >= 10)
    brute = {(r["query_id"], r["cand_id"]) for r in sim.cosine_topk(q, c, k=5).collect()}
    ivf_rows = sim.ivf_topk(q, c, k=5, n_centroids=16, nprobe=4).collect()
    ivf = {(r["query_id"], r["cand_id"]) for r in ivf_rows}
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.5, f"recall@5 too low: {recall}"


def test_streaming_dedup_drops_replays(spark, sf_dir, tmp_path):
    """A re-delivered (duplicated) batch of events must collapse to the
    distinct set within the watermark horizon."""
    from dbcut_spark.sources.parquet import read_table
    from dbcut_spark.streaming.events import dedup_stream, read_event_stream

    src = tmp_path / "events_dup"
    src.mkdir()
    base = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    # simulate at-least-once delivery: every event written twice
    base.unionByName(base).coalesce(1).write.mode("overwrite").parquet(str(src))

    q = (
        dedup_stream(read_event_stream(spark, str(src), max_files_per_trigger=4))
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_test").count()
    assert got == base.count()


def test_neardup_lsh_subset_of_brute(spark, sf_dir):
    """The LSH near-dup scale path may miss pairs (approximate recall)
    but must never invent one: its pairs are a subset of the brute
    cross-join's at the same threshold, with identical cosines."""
    from dbcut_spark.operators import similarity as sim

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    brute = {
        (r["doc_a"], r["doc_b"]): r["cos_sim"]
        for r in sim.embedding_neardup_pairs(e, threshold=0.35).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"]): r["cos_sim"]
        for r in sim.embedding_neardup_pairs_lsh(e, threshold=0.35).collect()
    }
    assert set(lsh) <= set(brute)
    assert all(brute[k] == v for k, v in lsh.items())
    assert lsh  # catches something on this corpus


def test_ivf_indexed_matches_inmemory_and_prunes(spark, sf_dir, tmp_path):
    """A persisted IVF index must (a) score identically to the
    in-memory ivf_topk with the same centroids and (b) prove the scale
    point: the candidate scan carries a static cluster_id partition
    filter, so only probed bucket directories are read."""
    from dbcut_spark.sources.parquet import read_table

    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    c = e.filter(F.col("vec_id") >= 10)
    path = str(tmp_path / "ivf_index")
    cents = sim.build_ivf_index(c, path, n_centroids=8)

    got = sim.ivf_topk_indexed(spark, path, q, k=5, nprobe=2)
    rows = [tuple(r) for r in got.collect()]
    exp = [
        tuple(r)
        for r in sim.ivf_topk(
            q, c, k=5, nprobe=2, n_centroids=8, centroids=cents
        ).collect()
    ]
    assert rows == exp and rows

    plan = got._jdf.queryExecution().executedPlan().toString()
    tail = plan.split("PartitionFilters", 1)
    assert len(tail) == 2 and "cluster_id" in tail[1][:250]


def test_ivf_refresh_crash_leaves_old_snapshot(spark, sf_dir, tmp_path, monkeypatch):
    """Round-10 verdict ask #1 (IVF side): the inverted file is a
    manifest table, so a refresh that crashes after staging but before
    the manifest publish leaves probes on the OLD snapshot — the raw
    in-place overwrite this replaced would have left a half-deleted
    directory (and wiped the sidecars)."""
    import pytest as _pt

    from dbcut_spark.sinks import manifest as mf
    from dbcut_spark.sources.parquet import read_table

    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    c1 = e.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 300))
    c2 = e.filter(F.col("vec_id") >= 10)
    path = str(tmp_path / "ivf_index")
    sim.build_ivf_index(c1, path, n_centroids=4)
    before = [
        tuple(r)
        for r in sim.ivf_topk_indexed(spark, path, q, k=3, nprobe=2).collect()
    ]

    real_publish = mf._publish
    monkeypatch.setattr(
        mf, "_publish",
        lambda *a: (_ for _ in ()).throw(RuntimeError("injected crash")),
    )
    with _pt.raises(RuntimeError, match="injected crash"):
        sim.update_ivf_index(c2, path)
    monkeypatch.setattr(mf, "_publish", real_publish)
    mid = [
        tuple(r)
        for r in sim.ivf_topk_indexed(spark, path, q, k=3, nprobe=2).collect()
    ]
    assert mid == before  # staged refresh invisible; sidecars intact

    sim.update_ivf_index(c2, path)
    after = sim.ivf_topk_indexed(spark, path, q, k=3, nprobe=2)
    assert after.count() == len(before)  # k×queries rows, new corpus live


def test_incremental_dedup_stream_matches_batch(spark, sf_dir, tmp_path):
    """The stream-static incremental dedup must produce exactly the
    batch exact-dup flags once the stream drains (stream side carries
    no state; each micro-batch probes the static reference)."""
    from dbcut_spark.operators.curation import incremental_dedup
    from dbcut_spark.sources.parquet import read_table
    from dbcut_spark.streaming.events import incremental_dedup_stream

    docs = read_table(spark, sf_dir, "documents")
    src_i = F.substring("source", 4, 10).cast("int")
    new, ref = docs.filter(src_i >= 10), docs.filter(src_i < 10)

    stage = tmp_path / "docs_stream"
    stage.mkdir()
    new.select("doc_id", "text").repartition(4).write.mode("overwrite").parquet(
        str(stage)
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
    )
    q = (
        incremental_dedup_stream(stream, ref)
        .writeStream.format("memory")
        .queryName("incdedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: r["is_exact_dup"] for r in spark.table("incdedup_test").collect()
    }
    batch = {
        r["doc_id"]: r["is_exact_dup"]
        for r in incremental_dedup(docs, "text", "doc_id", src_i >= 10).collect()
    }
    assert got == batch


def test_quantize_int8_bounds_and_reconstruction(spark, sf_dir):
    """Quantized codes stay in [-127,127]; dequantized vectors (q *
    scale) reconstruct cosine similarity vs the original to ~1e-3."""
    from dbcut_spark.sources.parquet import read_table

    e = read_table(spark, sf_dir, "embeddings").limit(100)
    q = sim.quantize_int8(e)
    joined = e.join(q, "vec_id").select(
        "vec_id",
        sim.cosine(
            F.col("embedding"),
            F.transform(F.col("q"), lambda x: x.cast("double") * F.col("scale")),
        ).alias("cos_recon"),
        F.array_max(F.transform(F.col("q"), lambda x: F.abs(x))).alias("max_abs_q"),
    )
    rows = joined.collect()
    assert all(r["max_abs_q"] <= 127 for r in rows)
    assert all(r["cos_recon"] > 0.999 for r in rows)


def test_connected_components_randomized_vs_unionfind(spark):
    """20 seeded random graphs: the distributed star-rounds labeling
    must equal a pure-Python union-find ground truth (guards the
    convergence predicate on shapes no hand-written case covers)."""
    import random

    rng = random.Random(20260813)
    for trial in range(20):
        n_nodes = rng.randint(2, 40)
        n_edges = rng.randint(1, 60)
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        parent: dict = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        nodes = set()
        for a, b in edges:
            nodes.update((a, b))
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        truth = {x: find(x) for x in nodes}

        df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
        got = {
            r["id"]: r["component"]
            for r in dd.connected_components(df, small_graph_edges=0).collect()
        }
        assert got == truth, f"trial {trial}: {sorted(edges)}"


def test_jl_projection_preserves_norms(spark, sf_dir):
    """The 64->16 ±1 projection must concentrate ||proj||²/||v||²
    around 1 (JL lemma) — loose bounds; distributional, not exact."""
    from dbcut_spark.queries import QUERIES

    rows = QUERIES["embedding_jl_distortion"](spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0.7 <= r["avg_ratio"] <= 1.3, r
        assert r["min_ratio"] > 0.2, r
        assert r["max_ratio"] < 3.0, r


def test_multimodal_resize_and_audio_windows(spark):
    import pytest

    from dbcut_spark.operators.multimodal import (
        audio_window_plan,
        resize_batch,
        synth_media,
    )

    media = synth_media(spark, 24)
    with pytest.raises(NotImplementedError):
        resize_batch(media)  # real resize stubbed by design
    out = {r["media_id"]: r for r in resize_batch(media, max_side=64, fake=True).collect()}
    assert len(out) == 24
    for r in out.values():
        # aspect preserved, longest side capped, never upscaled
        assert max(r["out_width"], r["out_height"]) <= 64
        assert r["out_width"] <= r["width"] and r["out_height"] <= r["height"]
        assert len(r["thumb"]) == 16  # md5 stub payload
    # determinism across runs
    again = resize_batch(media, max_side=64, fake=True).collect()
    assert {r["media_id"]: bytes(r["thumb"]) for r in again} == {
        k: bytes(v["thumb"]) for k, v in out.items()
    }

    audio = spark.createDataFrame(
        [
            (1, {"n_samples": "48000"}),   # 5 windows at hop 8000
            (2, {"n_samples": "16000"}),   # exactly one window
            (3, {"n_samples": "7999"}),    # too short -> dropped
            (4, {}),                        # no meta -> dropped
        ],
        "media_id long, meta map<string,string>",
    )
    wins = audio_window_plan(audio, win_samples=16000, hop_samples=8000)
    got = {}
    for r in wins.collect():
        got.setdefault(r["media_id"], []).append(r["win_start"])
    assert sorted(got[1]) == [0, 8000, 16000, 24000, 32000]
    assert got[2] == [0]
    assert 3 not in got and 4 not in got


def test_kmv_sketch_accuracy_and_merge(spark, sf_dir):
    """KMV estimate within ~4 standard errors of exact per source, and
    merging two shards' bottom-k sets gives the same estimate as
    sketching the union (the mergeability that makes it a sketch)."""
    from dbcut_spark.queries import QUERIES

    rows = QUERIES["shingle_distinct_kmv"](spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        if r["n_exact"] >= 64:
            rel = abs(r["est_distinct"] - r["n_exact"]) / r["n_exact"]
            assert rel < 0.5, r  # 4 sigma at k=64 (~12.5% per sigma)

    # mergeability on a synthetic split
    from dbcut_spark.operators.sketches import kmv_distinct

    df = spark.createDataFrame(
        [("g", f"value-{i}") for i in range(500)], "grp string, v string"
    )
    whole = kmv_distinct(df, "grp", "v", k=32).collect()[0]["est_distinct"]
    half1 = df.filter(F.substring("v", 7, 1).isin("0", "1", "2", "3", "4"))
    half2 = df.subtract(half1)
    merged = kmv_distinct(half1.union(half2), "grp", "v", k=32).collect()[0][
        "est_distinct"
    ]
    assert merged == whole


def test_streaming_checkpoint_restart_exactly_once(spark, sf_dir, tmp_path):
    """Exactly-once file-sink semantics across a stop/restart: process
    half the source files, stop, add the rest, restart with the SAME
    checkpoint — the sink must contain every input row exactly once
    (offset log skips processed files; sink commit log makes output
    atomic). This is the property that lets a 100 TB ingest job die
    and resume without dedup passes."""
    import os

    from dbcut_spark.streaming.events import read_event_stream

    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(2000).cache()
    total = events.count()

    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    # two source batches of 4 files each
    events.filter(F.col("event_id") % 2 == 0).repartition(4).write.parquet(
        str(src), mode="append"
    )

    def run_once():
        q = (
            read_event_stream(spark, str(src), max_files_per_trigger=2)
            .select("event_id", "user_id", "ts")
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()  # first half
    n_first = spark.read.parquet(str(out)).count()
    assert n_first == events.filter(F.col("event_id") % 2 == 0).count()

    events.filter(F.col("event_id") % 2 == 1).repartition(4).write.parquet(
        str(src), mode="append"
    )
    run_once()  # restart from the same checkpoint

    got = spark.read.parquet(str(out))
    assert got.count() == total                      # nothing lost
    assert got.select("event_id").distinct().count() == total  # nothing doubled
    events.unpersist()


def test_zorder_buckets_bound_both_dimensions(spark, sf_dir):
    """Morton buckets must bound BOTH dimensions (the pruning benefit):
    most buckets see a fraction of each dimension's global range,
    which a single-column sort cannot give to the second column."""
    from dbcut_spark.queries import QUERIES

    rows = QUERIES["orders_zorder_stats"](spark, sf_dir).collect()
    assert len(rows) >= 32
    g_ck = max(r["max_ck"] for r in rows) - min(r["min_ck"] for r in rows)
    g_dy = max(r["max_day"] for r in rows) - min(r["min_day"] for r in rows)
    frac_ck = sorted((r["max_ck"] - r["min_ck"]) / g_ck for r in rows)
    frac_dy = sorted((r["max_day"] - r["min_day"]) / g_dy for r in rows)
    # median bucket spans at most ~40% of each dimension's range
    assert frac_ck[len(frac_ck) // 2] <= 0.4
    assert frac_dy[len(frac_dy) // 2] <= 0.4


def test_zvalue_sql_matches_python_bit_interleave(spark):
    """One Morton formula for Spark and the DuckDB oracle: bit i of a at
    position 2i, bit i of b at 2i+1, checked against a plain-Python
    interleave on random inputs that include 0 and 2^bits - 1."""
    import random

    import duckdb

    from dbcut_spark.operators.layout import zvalue_sql

    def interleave(a, b, bits):
        return sum(
            ((a >> i) & 1) << (2 * i) | ((b >> i) & 1) << (2 * i + 1)
            for i in range(bits)
        )

    rng = random.Random(7)
    for bits in (16, 31):
        top = (1 << bits) - 1
        pairs = [(0, 0), (top, top), (0, top), (top, 0)] + [
            (rng.randint(0, top), rng.randint(0, top)) for _ in range(200)
        ]
        want = [interleave(a, b, bits) for a, b in pairs]
        got = (
            spark.createDataFrame(
                [(i, a, b) for i, (a, b) in enumerate(pairs)],
                "i int, a long, b long",
            )
            .select("i", F.expr(zvalue_sql("a", "b", bits)).alias("z"))
            .orderBy("i")
            .collect()
        )
        assert [r["z"] for r in got] == want
        values = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(pairs))
        duck = duckdb.sql(
            f"SELECT {zvalue_sql('a', 'b', bits)} FROM (VALUES {values}) "
            "t(i, a, b) ORDER BY i"
        ).fetchall()
        assert [r[0] for r in duck] == want


def test_kmv_union_and_intersection_estimates(spark):
    """Sketch algebra: union estimate within ~4 sigma; intersection
    (join-size) estimate within a loose band; union of a sketch with
    itself is identity."""
    from dbcut_spark.operators.sketches import (
        kmv_bottom_k,
        kmv_intersection_estimate,
        kmv_union_estimate,
    )

    a = spark.createDataFrame(
        [("a", f"v{i}") for i in range(1500)], "g string, v string"
    )
    b = spark.createDataFrame(
        [("a", f"v{i}") for i in range(1000, 3000)], "g string, v string"
    )
    # true: |A|=1500, |B|=2000, |A∪B|=3000, |A∩B|=500
    ska = kmv_bottom_k(a, "g", "v", k=64).withColumnRenamed("kmv", "ka")
    skb = kmv_bottom_k(b, "g", "v", k=64).withColumnRenamed("kmv", "kb")
    j = ska.join(skb, "g").select(
        kmv_union_estimate(F.col("ka"), F.col("kb"), 64).alias("u"),
        kmv_intersection_estimate(F.col("ka"), F.col("kb"), 64).alias("i"),
        kmv_union_estimate(F.col("ka"), F.col("ka"), 64).alias("self_u"),
    ).collect()[0]
    assert abs(j["u"] - 3000) / 3000 < 0.5
    assert 100 < j["i"] < 1200          # coarse: k=64 intersection is noisy
    assert abs(j["self_u"] - 1500) / 1500 < 0.5


def test_stateful_hourly_anomaly_matches_batch(spark, sf_dir, tmp_path):
    """The applyInPandasWithState anomaly detector must agree with the
    oracle-checked batch query on every CLOSED hour (the final hour
    per event type stays open in state)."""
    import time as _time

    from dbcut_spark.queries import QUERIES
    from dbcut_spark.sources.parquet import read_table
    from dbcut_spark.streaming.events import (
        read_event_stream,
        stateful_hourly_anomaly,
    )

    src = tmp_path / "events_anomaly"
    src.mkdir()
    read_table(spark, sf_dir, "events").orderBy("ts").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src))

    q = (
        stateful_hourly_anomaly(read_event_stream(spark, str(src)))
        .writeStream.format("memory")
        .queryName("anomaly_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    deadline = _time.time() + 120
    while _time.time() < deadline:
        done = sum(p["numInputRows"] for p in q.recentProgress) > 0
        if done and spark.table("anomaly_test").count() > 0:
            break
        _time.sleep(1)
    q.stop()

    got = {
        (r["event_type"], r["hour_start_us"]): (
            r["n_events"], r["trailing_avg"], r["is_spike"], r["is_drop"]
        )
        for r in spark.table("anomaly_test").collect()
    }
    batch = QUERIES["events_hourly_anomaly"](spark, sf_dir).collect()
    exp = {}
    last_hour = {}
    for r in batch:
        us = int(r["hour_start"].timestamp() * 1_000_000)
        exp[(r["event_type"], us)] = (
            r["n_events"], r["trailing_avg"], r["is_spike"], r["is_drop"]
        )
        last_hour[r["event_type"]] = max(last_hour.get(r["event_type"], 0), us)
    # streaming emits exactly the batch rows minus each type's open hour
    expected_keys = {
        k for k in exp if k[1] != last_hour[k[0]]
    }
    assert set(got) == expected_keys
    for k in expected_keys:
        assert got[k] == exp[k], k


def test_stateful_hourly_anomaly_out_of_order_batches(spark, tmp_path):
    """A micro-batch carrying an hour EARLIER than the open hour (late
    data admitted by the 2-hour watermark) must not close the open hour
    prematurely or re-emit the stale hour: late counts fold into the
    stored trailing entry and open_hour advances monotonically."""
    import pandas as pd

    from dbcut_spark.streaming.events import (
        EVENT_SCHEMA,
        read_event_stream,
        stateful_hourly_anomaly,
    )

    src = tmp_path / "src"
    src.mkdir()
    out, chk = tmp_path / "out", tmp_path / "chk"
    HOUR_US = 3_600_000_000

    def mk(rows):
        recs = []
        for h, n in rows:
            for i in range(n):
                recs.append(
                    {
                        "event_id": len(recs),
                        "ts": pd.to_datetime(h * 3600 + i, unit="s"),
                        "user_id": 1,
                        "event_type": "click",
                        "value": 1.0,
                        "props": "{}",
                    }
                )
        return pd.DataFrame(recs)

    def run_until(n_rows):
        # the stateful query keeps running under availableNow (processing-
        # time timeouts hold it open) — poll for the committed sink rows,
        # then stop; rows are visible only after the batch (sink + state)
        # commits, so stopping here never loses state.
        import time as _time

        q = (
            stateful_hourly_anomaly(
                read_event_stream(spark, str(src)), warmup=1, trail=3
            )
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(chk))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        deadline = _time.time() + 120
        while _time.time() < deadline:
            try:
                if spark.read.parquet(str(out)).count() >= n_rows:
                    break
            except Exception:
                pass  # sink dir not created yet
            _time.sleep(1)
        q.stop()

    spark.createDataFrame(
        mk([(0, 4), (1, 6), (2, 8), (3, 10)]), schema=EVENT_SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(src))
    run_until(2)  # hours 1, 2 close (hour 0 is warmup, hour 3 stays open)
    # batch B: hour 2 is LATE (open hour is 3); hour 4 closes hour 3
    spark.createDataFrame(
        mk([(2, 5), (4, 12)]), schema=EVENT_SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(src))
    run_until(3)

    rows = {r["hour_start_us"]: r for r in spark.read.parquet(str(out)).collect()}
    # exactly one row per closed hour past warmup — no duplicate hour 2,
    # no premature double-close of hour 3
    assert sorted(rows) == [1 * HOUR_US, 2 * HOUR_US, 3 * HOUR_US]
    assert rows[2 * HOUR_US]["n_events"] == 8  # emitted before the late data
    h3 = rows[3 * HOUR_US]
    assert h3["n_events"] == 10
    # trailing window saw the late-merged hour-2 count: [4, 6, 8+5]
    assert h3["trailing_avg"] == round((4 + 6 + 13) / 3, 4)


def test_dedup_events_stream(spark, tmp_path):
    """Replayed events (same event_id redelivered in a later file) are
    emitted exactly once; state is watermark-bounded."""
    import pandas as pd

    from dbcut_spark.streaming.events import (
        EVENT_SCHEMA,
        dedup_events_stream,
        read_event_stream,
    )

    src = tmp_path / "src"
    src.mkdir()

    def mk(ids):
        return pd.DataFrame(
            [
                {
                    "event_id": i,
                    "ts": pd.to_datetime(1_000_000 + i, unit="s"),
                    "user_id": i % 5,
                    "event_type": "click",
                    "value": 1.0,
                    "props": "{}",
                }
                for i in ids
            ]
        )

    # file 1: ids 0..99; file 2 replays 50..99 and adds 100..119
    spark.createDataFrame(mk(range(100)), schema=EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    spark.createDataFrame(
        mk(list(range(50, 120))), schema=EVENT_SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(src))

    q = (
        dedup_events_stream(read_event_stream(spark, str(src), max_files_per_trigger=1))
        .writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("dedup_stream_test").collect()
    ids = [r["event_id"] for r in rows]
    assert sorted(ids) == list(range(120))  # every id exactly once


def test_ivf_maintain_drift_refit_recovers_recall(spark, tmp_path):
    """Round-7 verdict item 5 — the IVF maintenance loop: build on
    corpus A, 'kept' (assign-only) while the distribution holds, and
    after an injected drift (clusters move to disjoint dimensions) the
    drift gate fires, the quantizer refits, and probe-1 recall recovers
    from the stale-centroid level back to ~exact."""
    import random

    dim, per = 16, 80

    def corpus(center_dims, id0, rng):
        rows = []
        for ci, cd in enumerate(center_dims):
            for j in range(per):
                v = [rng.uniform(-0.5, 0.5) for _ in range(dim)]
                v[cd] += 10.0
                rows.append((id0 + ci * per + j, v))
        return rows

    rng = random.Random(42)
    a = spark.createDataFrame(corpus([0, 1, 2, 3], 100, rng),
                              "vec_id long, embedding array<double>")
    idx = str(tmp_path / "ivf_idx")
    r1 = sim.ivf_maintain(spark, a, idx, n_centroids=4,
                          drift_cos_threshold=0.9)
    assert r1["action"] == "built"

    # same distribution, new sample: gate must NOT fire (assign-only)
    a2 = spark.createDataFrame(corpus([0, 1, 2, 3], 100, rng),
                               "vec_id long, embedding array<double>")
    r2 = sim.ivf_maintain(spark, a2, idx, n_centroids=4,
                          drift_cos_threshold=0.9)
    assert r2["action"] == "kept" and r2["mean_cos"] > 0.9

    # drift: clusters move to disjoint dimensions; queries live near
    # the NEW cluster centers
    b = spark.createDataFrame(corpus([8, 9, 10, 11], 100, rng),
                              "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(i, [0.0] * dim) for i in range(4)],
        "vec_id long, embedding array<double>",
    ).select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.when(i == F.col("vec_id") + 8, 10.0).otherwise(0.0),
        ).alias("embedding"),
    )

    def recall(topk, exact):
        got, want = {}, {}
        for r in topk.collect():
            got.setdefault(r.query_id, set()).add(r.cand_id)
        for r in exact.collect():
            want.setdefault(r.query_id, set()).add(r.cand_id)
        return sum(
            len(got.get(q, set()) & w) / len(w) for q, w in want.items()
        ) / len(want)

    exact = sim.cosine_topk(queries, b, k=5)
    # stale path: assign-only refresh with the OLD quantizer — the
    # production mistake the drift gate prevents
    sim.update_ivf_index(b, idx)
    rec_stale = recall(sim.ivf_topk_indexed(spark, idx, queries, k=5,
                                            nprobe=1), exact)

    r3 = sim.ivf_maintain(spark, b, idx, n_centroids=4,
                          drift_cos_threshold=0.9)
    assert r3["action"] == "rebuilt" and r3["mean_cos"] < 0.9
    rec_fresh = recall(sim.ivf_topk_indexed(spark, idx, queries, k=5,
                                            nprobe=1), exact)
    assert rec_fresh >= 0.9, (rec_stale, rec_fresh)
    assert rec_fresh > rec_stale + 0.2, (rec_stale, rec_fresh)


def test_scd2_stream_matches_batch_closed_intervals(spark, sf_dir, tmp_path):
    """The streaming SCD2 compactor must emit exactly the batch twin's
    CLOSED intervals (valid_to IS NOT NULL) — same states, bounds,
    versions, and run sizes; each user's final OPEN interval stays in
    state (it is the batch NULL-valid_to row)."""
    from pyspark.sql import functions as F

    from dbcut_spark.queries_pipeline import events_scd2_state
    from dbcut_spark.sources.parquet import read_table
    from dbcut_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        scd2_stream,
    )

    src = tmp_path / "events_scd2_stream"
    src.mkdir()
    read_table(spark, sf_dir, "events").filter(F.col("user_id") < 60).orderBy(
        "ts", "event_id"
    ).coalesce(1).write.mode("overwrite").parquet(str(src))

    stream = read_event_stream(spark, str(src), max_files_per_trigger=1)
    got_df = run_stream_to_memory(
        spark, scd2_stream(stream), "scd2_stream_test",
        timeout_s=120, output_mode="append",
    )
    got = {
        (
            r["user_id"], r["state"], r["valid_from_us"],
            r["valid_to_us"], r["version"], r["n_events"],
        )
        for r in got_df.collect()
    }

    expected = {
        (
            r["user_id"],
            r["state"],
            int(r["valid_from"].timestamp() * 1_000_000),
            int(r["valid_to"].timestamp() * 1_000_000),
            r["version"],
            r["n_events"],
        )
        for r in events_scd2_state(spark, sf_dir).collect()
        if r["user_id"] < 60 and r["valid_to"] is not None
    }
    assert got, "stream emitted no closed intervals"
    assert got == expected


def test_scd2_apply_delta_matches_full_rebuild(spark, sf_dir):
    """Incremental SCD2 maintenance theorem:
    apply_delta(build(first_half), second_half) == build(everything) —
    covering state continuation across the boundary (version survives,
    n_events accumulates), state changes at the boundary, keys with no
    delta (pass-through), and keys that are brand-new in the delta."""
    from pyspark.sql import functions as F

    from dbcut_spark.operators.scd2 import scd2_apply_delta, scd2_build
    from dbcut_spark.sources.parquet import read_table

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    cut = ev.agg(
        F.expr("percentile_approx(cast(ts as double), 0.5, 10000)")
    ).first()[0]
    # base keys: user_id < 10 with first-half events only; delta adds
    # their second half PLUS users 10..14 wholesale (new in delta —
    # sf0.001 has users 0..14)
    old = ev.filter((F.col("user_id") < 10) & (F.col("ts").cast("double") < cut))
    delta = ev.filter(
        ((F.col("user_id") < 10) & (F.col("ts").cast("double") >= cut))
        | (F.col("user_id") >= 10)
    )
    full = ev

    def rows(df):
        return {
            (
                r["user_id"], r["state"], r["valid_from"], r["valid_to"],
                r["version"], r["n_events"],
            )
            for r in df.collect()
        }

    got = rows(scd2_apply_delta(scd2_build(old), delta))
    want = rows(scd2_build(full))
    assert got == want
    # sanity on the fixture: some user continued an open run across
    # the cut (version survives) and some user is new in the delta
    assert any(u >= 10 for (u, *_rest) in got)
    # ...and at least one base user's open interval continued across
    # the cut with version preserved: every version sequence per user
    # must be gapless 1..k in the merged result
    from collections import defaultdict

    vers = defaultdict(list)
    for (u, _s, _f, _t, v, _n) in got:
        vers[u].append(v)
    for u, vs in vers.items():
        assert sorted(vs) == list(range(1, len(vs) + 1)), (u, sorted(vs))


def test_bpe_apply_merge_greedy_semantics(spark):
    """The fold-based merge application must match reference greedy
    left-to-right BPE on the classic overlap cases."""
    from pyspark.sql import functions as F2

    from dbcut_spark.operators.bpe import apply_merge, apply_merges

    df = spark.createDataFrame(
        [(1, ["a", "a", "a"]), (2, ["a", "a", "a", "a"]),
         (3, ["x", "a", "b", "a", "b"]), (4, ["b", "a"]), (5, [])],
        "id long, syms array<string>",
    )
    got = {
        r["id"]: r["out"]
        for r in df.select(
            "id", apply_merge(F2.col("syms"), "a", "a").alias("out")
        ).collect()
    }
    assert got[1] == ["aa", "a"]          # overlap: greedy takes 1st
    assert got[2] == ["aa", "aa"]
    assert got[5] == []                   # empty survives (no ANSI error)
    got2 = {
        r["id"]: r["out"]
        for r in df.select(
            "id", apply_merge(F2.col("syms"), "a", "b").alias("out")
        ).collect()
    }
    assert got2[3] == ["x", "ab", "ab"]
    assert got2[4] == ["b", "a"]          # (b,a) is not (a,b)
    # chained merges apply in rank order: (a,b)->ab then (ab,ab)->abab
    got3 = df.filter("id = 3").select(
        apply_merges(F2.col("syms"), [("a", "b"), ("ab", "ab")]).alias("out")
    ).collect()[0]["out"]
    assert got3 == ["x", "abab"]


def test_bpe_train_apply_consistency(spark, sf_dir):
    """Applying the learned merge table to the initial symbols must
    reproduce the training-corpus segmentation exactly (the train/apply
    theorem behind docs_bpe_tokenize), and merges must be learned in
    non-increasing pair-count order with deterministic ties."""
    from pyspark.sql import functions as F2

    from dbcut_spark.operators import bpe

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = bpe.word_types(docs, "text")
    # force the DISTRIBUTED trainer: under the driver fast path the
    # returned segmentation is constructed via apply_merges, which
    # would make this theorem a tautology instead of a proof
    merges, seg = bpe.bpe_train(w, 8, max_driver_types=0)
    assert len(merges) == 8
    applied = bpe.initial_symbols(w).withColumn(
        "syms", bpe.apply_merges(F2.col("syms"), [(a, b) for a, b, _ in merges])
    )
    assert (
        applied.select("word", "syms")
        .exceptAll(seg.select("word", "syms"))
        .count()
        == 0
    )
    assert seg.count() == applied.count()
    # training greed: counts never increase as rounds consume mass...
    # NOT strictly true in general BPE (a merge can create a NEW pair
    # with higher count than remaining old ones is impossible: the new
    # pair's count is bounded by the merged pair's count) — so assert it
    counts = [c for _, _, c in merges]
    assert counts == sorted(counts, reverse=True)


def test_bpe_encode_open_vocabulary(spark):
    """bpe_encode must tokenize words NEVER seen at training time
    (character fallback + whatever learned merges apply) and agree with
    the per-word segmentation on seen words."""
    from pyspark.sql import functions as F2

    from dbcut_spark.operators import bpe

    train = spark.createDataFrame(
        [(1, "low lower lowest low low")], ["doc_id", "text"]
    )
    merges, seg = bpe.bpe_train(bpe.word_types(train, "text"), 4)
    mm = [(a, b) for a, b, _ in merges]

    out = {
        r["doc_id"]: r
        for r in bpe.bpe_encode(
            spark.createDataFrame(
                [(10, "low low"), (11, "zzz")], ["doc_id", "text"]
            ),
            "text",
            "doc_id",
            mm,
        ).collect()
    }
    # seen word: matches the training segmentation exactly
    low_seg = {
        r["word"]: r["syms"] for r in seg.collect()
    }["low"]
    assert out[10]["tokens"] == low_seg * 2
    assert out[10]["n_bpe_tokens"] == 2 * len(low_seg)
    # unseen word: decomposes to chars + </w> (no merge matches 'z')
    assert out[11]["tokens"] == ["z", "z", "z", bpe.EOW]
    assert out[11]["n_bpe_tokens"] == 4


def _py_bpe(word_counts, n_merges):
    """Pure-Python reference BPE (Sennrich-style): overlapping pair
    counts weighted by word frequency, argmax with (count desc, pair
    asc) ties, greedy left-to-right application."""
    seqs = {w: list(w) + ["</w>"] for w in word_counts}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for w, syms in seqs.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + word_counts[w]
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        merges.append((a, b, cnt))
        for w, syms in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = out
    return merges, seqs


def test_bpe_train_matches_python_reference_random(spark):
    """Randomized differential: distributed BPE training must equal the
    pure-Python reference merge-for-merge AND segmentation-for-
    segmentation on random corpora (overlap-heavy alphabets on
    purpose: 3-letter words maximize (x, x) pair runs, the case where
    greedy != naive)."""
    import random

    from dbcut_spark.operators import bpe

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        alphabet = "abc"
        words = {}
        for _ in range(30):
            w = "".join(
                rng.choice(alphabet) for _ in range(rng.randint(1, 6))
            )
            words[w] = words.get(w, 0) + rng.randint(1, 50)
        wdf = spark.createDataFrame(
            list(words.items()), "word string, w long"
        )
        ref_merges, ref_seqs = _py_bpe(words, 6)
        # both routing targets must equal the reference merge-for-merge:
        # the driver fast path (default) and the distributed trainer
        # with incremental pair-count maintenance (forced)
        for kwargs in ({}, {"max_driver_types": 0}):
            merges, seg = bpe.bpe_train(wdf, 6, **kwargs)
            assert merges == ref_merges, (seed, kwargs)
            got = {r["word"]: list(r["syms"]) for r in seg.collect()}
            assert got == ref_seqs, (seed, kwargs)


def test_lsh_index_matches_inmemory_random_params(spark, tmp_path):
    """probe_lsh_index == lsh_candidate_pairs_across for random
    (num_hashes, band_rows, n_buckets) — the bucket count is pure
    layout and must never change the candidate set or est_sim."""
    import random

    from pyspark.sql import functions as F2

    from dbcut_spark.operators.dedup import (
        build_lsh_index,
        lsh_candidate_pairs_across,
        minhash_signatures,
        probe_lsh_index,
    )

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "epsi", "zeta", "eta"]
    rows = []
    for i in range(40):
        n = rng.randint(8, 20)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n)),
                     i >= 30))
    df = spark.createDataFrame(rows, "doc_id long, text string, new boolean")
    for num_hashes, band_rows, n_buckets in [(8, 2, 3), (12, 4, 64), (16, 4, 7)]:
        idx = str(tmp_path / f"ix_{num_hashes}_{band_rows}_{n_buckets}")
        build_lsh_index(
            df.filter(~F2.col("new")), idx, "text", "doc_id",
            num_hashes=num_hashes, band_rows=band_rows, n_buckets=n_buckets,
        )
        got = {
            (r["doc_a"], r["doc_b"], r["est_sim"])
            for r in probe_lsh_index(
                spark, idx, df.filter(F2.col("new")), "text", "doc_id"
            ).collect()
        }
        sigs = minhash_signatures(df, "text", "doc_id", num_hashes)
        exp = {
            (r["doc_a"], r["doc_b"], r["est_sim"])
            for r in lsh_candidate_pairs_across(
                sigs, "doc_id",
                df.filter(F2.col("new")).select("doc_id"),
                num_hashes, band_rows,
            ).collect()
        }
        assert got == exp, (num_hashes, band_rows, n_buckets)


def test_bpe_encode_accepts_train_output_directly(spark):
    """The natural composition bpe_train -> bpe_encode must work
    without a hand-written (a, b, cnt) -> (a, b) bridge."""
    from dbcut_spark.operators import bpe

    train = spark.createDataFrame(
        [(1, "low lower low low")], ["doc_id", "text"]
    )
    merges, _ = bpe.bpe_train(bpe.word_types(train, "text"), 3)
    out = bpe.bpe_encode(train, "text", "doc_id", merges).collect()
    assert out and out[0]["n_bpe_tokens"] > 0


def test_build_lsh_index_rejects_empty_reference(spark, tmp_path):
    """A zero-row partitioned write would leave a permanently
    unreadable index — build fails loudly instead."""
    import pytest as _pytest

    from dbcut_spark.operators.dedup import build_lsh_index

    empty = spark.createDataFrame([], "doc_id long, text string")
    with _pytest.raises(ValueError, match="empty"):
        build_lsh_index(empty, str(tmp_path / "ix"), "text", "doc_id")


def test_bpe_merge_table_roundtrip(spark, tmp_path):
    """save_merges/load_merges: the persisted tokenizer artifact must
    reproduce the exact segmentation of the in-memory table."""
    from pyspark.sql import functions as F2

    from dbcut_spark.operators import bpe

    train = spark.createDataFrame(
        [(1, "low lower lowest low newer new")], ["doc_id", "text"]
    )
    merges, seg = bpe.bpe_train(bpe.word_types(train, "text"), 5)
    p = str(tmp_path / "merges.json")
    bpe.save_merges(merges, p)
    loaded = bpe.load_merges(p)
    assert loaded == [(a, b) for a, b, _ in merges]
    applied = bpe.initial_symbols(bpe.word_types(train, "text")).withColumn(
        "syms", bpe.apply_merges(F2.col("syms"), loaded)
    )
    assert (
        applied.select("word", "syms")
        .exceptAll(seg.select("word", "syms"))
        .count()
        == 0
    )


def test_bpe_incremental_trainer_matches_full_recount(spark):
    """Round-9 verdict ask #2 'Done' criterion: the incremental
    pair-count-maintenance trainer must learn the byte-identical merge
    table (and final segmentation) as the full-recount trainer on
    randomized corpora. (Full recount stays the routed default — it
    measured faster; see _bpe_train_distributed's docstring.)"""
    import random

    from dbcut_spark.operators.bpe import (
        _bpe_train_distributed,
        _bpe_train_incremental,
    )

    for seed in (11, 12):
        rng = random.Random(seed)
        words = {}
        for _ in range(25):
            w = "".join(rng.choice("abcd") for _ in range(rng.randint(1, 7)))
            words[w] = words.get(w, 0) + rng.randint(1, 40)
        wdf = spark.createDataFrame(
            list(words.items()), "word string, w long"
        )
        inc_merges, inc_seg = _bpe_train_incremental(wdf, 7)
        ref_merges, ref_seg = _bpe_train_distributed(wdf, 7)
        assert inc_merges == ref_merges, seed
        got = {r["word"]: list(r["syms"]) for r in inc_seg.collect()}
        exp = {r["word"]: list(r["syms"]) for r in ref_seg.collect()}
        assert got == exp, seed


def test_bpe_indexed_trainer_matches_full_recount(spark):
    """Round-10 verdict ask #5 'Done' criterion: the inverted-index
    trainer (partition-pruned pair→word-type lookups, When-gated fold)
    must learn the byte-identical merge table and final segmentation as
    the full-recount trainer on randomized corpora — including a run
    with more requested merges than learnable pairs (early stop) and a
    small bucket count that forces pair collisions within a bucket."""
    import random

    from dbcut_spark.operators.bpe import (
        _bpe_train_distributed,
        _bpe_train_indexed,
    )

    for seed, n_buckets in ((21, 4), (22, 64)):
        rng = random.Random(seed)
        words = {}
        for _ in range(30):
            w = "".join(rng.choice("abcd") for _ in range(rng.randint(1, 7)))
            words[w] = words.get(w, 0) + rng.randint(1, 40)
        wdf = spark.createDataFrame(
            list(words.items()), "word string, w long"
        )
        idx_merges, idx_seg = _bpe_train_indexed(
            wdf, 9, n_buckets=n_buckets
        )
        ref_merges, ref_seg = _bpe_train_distributed(wdf, 9)
        assert idx_merges == ref_merges, seed
        got = {r["word"]: list(r["syms"]) for r in idx_seg.collect()}
        exp = {r["word"]: list(r["syms"]) for r in ref_seg.collect()}
        assert got == exp, seed
    # early stop: a tiny corpus exhausts its pairs before n_merges
    tiny = spark.createDataFrame([("ab", 3)], "word string, w long")
    m1, _ = _bpe_train_indexed(tiny, 50)
    m2, _ = _bpe_train_distributed(tiny, 50)
    assert m1 == m2 and len(m1) < 50


def test_bpe_apply_fold_vs_vectorized_random(spark):
    """Round-9 verdict ask #1 'Done' criterion: the vectorized
    (Pandas-UDF) apply path must produce the byte-identical
    segmentation as the nested-fold form on randomized merge tables
    and symbol sequences — including the strict-rank-order corner where
    a later merge creates an occurrence of an earlier-rank pair (the
    case where a GPT-2-style priority-queue encoder would diverge)."""
    import random

    from pyspark.sql import functions as F2

    from dbcut_spark.operators import bpe

    # the strictness pin: rank0 = (ab, c) is unapplicable until rank1 =
    # (a, b) creates "ab" — by then rank0's turn is over, so "abc" must
    # stay ["ab", "c", ...] and never fuse to ["abc", ...]
    pin = spark.createDataFrame(
        [(0, ["a", "b", "c", bpe.EOW])], "id long, syms array<string>"
    )
    table = [("ab", "c"), ("a", "b")]
    fold = pin.select(
        bpe.apply_merges(F2.col("syms"), table, fold_max=100).alias("out")
    ).collect()[0]["out"]
    vec = pin.select(
        bpe.apply_merges(F2.col("syms"), table, fold_max=0).alias("out")
    ).collect()[0]["out"]
    assert fold == vec == ["ab", "c", bpe.EOW]

    for seed in (21, 22, 23):
        rng = random.Random(seed)
        # random symbol soup, including empties and 1-element arrays
        rows = [
            (i, [rng.choice("abcd") for _ in range(rng.randint(0, 12))])
            for i in range(60)
        ]
        df = spark.createDataFrame(rows, "id long, syms array<string>")
        # random merge table over 1-2 char tokens (need not be trained
        # or even applicable — equivalence must hold for ANY table)
        toks = ["a", "b", "c", "d", "ab", "bc", "cd", "aa", "dd"]
        merges = [
            (rng.choice(toks), rng.choice(toks)) for _ in range(10)
        ]
        fold_rows = {
            r["id"]: r["out"]
            for r in df.select(
                "id",
                bpe.apply_merges(F2.col("syms"), merges, fold_max=100).alias(
                    "out"
                ),
            ).collect()
        }
        vec_rows = {
            r["id"]: r["out"]
            for r in df.select(
                "id",
                bpe.apply_merges(F2.col("syms"), merges, fold_max=0).alias(
                    "out"
                ),
            ).collect()
        }
        assert fold_rows == vec_rows, (seed, merges)


def test_bpe_thousand_merge_train_encode(spark):
    """Round-9 verdict ask #1 scale proof: train a ≥1000-merge table
    (driver fast path — the type table is bounded) and ENCODE under it.
    The apply routes to the vectorized kernel (a 1000-deep fold chain
    is exactly what Catalyst cannot plan) and must match an independent
    strict-rank-order reference applied word by word."""
    import random

    from dbcut_spark.operators import bpe

    rng = random.Random(99)
    alphabet = "abcdefghijkl"
    words = {}
    for _ in range(500):
        w = "".join(rng.choice(alphabet) for _ in range(rng.randint(6, 14)))
        words[w] = words.get(w, 0) + rng.randint(1, 9)
    corpus = " ".join(
        w for w, c in sorted(words.items()) for _ in range(c)
    )
    train = spark.createDataFrame([(1, corpus)], ["doc_id", "text"])
    merges, _ = bpe.bpe_train(bpe.word_types(train, "text"), 1200)
    assert len(merges) >= 1000, len(merges)

    # independent reference: apply each merge at its rank, one greedy
    # left-to-right pass (no shared code with the kernel under test)
    def ref_apply(word):
        syms = list(word) + [bpe.EOW]
        for a, b, _c in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    sample = rng.sample(sorted(words), 12)
    unseen = ["zzzqx", "abetted"]
    enc = spark.createDataFrame(
        [(i, w) for i, w in enumerate(sample + unseen)],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: list(r["tokens"])
        for r in bpe.bpe_encode(enc, "text", "doc_id", merges).collect()
    }
    for i, w in enumerate(sample + unseen):
        assert got[i] == ref_apply(w), w


def test_bpe_encode_wordless_docs_yield_zero_rows(spark):
    """Round-9 ADVICE: documents whose normalized text contains no
    words must come back as (id, 0, []) rows, not vanish."""
    from dbcut_spark.operators import bpe

    df = spark.createDataFrame(
        [(1, "low lower"), (2, "   "), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_bpe_tokens"], list(r["tokens"]))
        for r in bpe.bpe_encode(df, "text", "doc_id", [("l", "o")]).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert out[1][0] > 0
    for d in (2, 3, 4):
        assert out[d] == (0, []), d


def test_bpe_encode_null_id_keeps_real_tokens(spark):
    """A NULL-id document's tokens must survive the wordless-doc
    reattach join: groupBy keys NULL ids into a real aggregate row,
    and a plain equi-join would drop it — regressing (NULL, n>0, toks)
    to (NULL, 0, []). The join is null-safe (round-10 review)."""
    from dbcut_spark.operators import bpe

    df = spark.createDataFrame(
        [(None, "low lower"), (7, "low"), (8, "  ")],
        "doc_id long, text string",
    )
    merges = [("l", "o"), ("lo", "w")]
    out = {
        r["doc_id"]: (r["n_bpe_tokens"], list(r["tokens"]))
        for r in bpe.bpe_encode(df, "text", "doc_id", merges).collect()
    }
    assert set(out) == {None, 7, 8}
    assert out[None][0] > 0 and "low" in out[None][1][0]
    assert out[7][0] > 0
    assert out[8] == (0, [])

    # same contract through the id-mapping layer
    train = spark.createDataFrame([(1, "low lower low")], ["doc_id", "text"])
    m2, seg = bpe.bpe_train(bpe.word_types(train, "text"), 2)
    ids = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe.bpe_encode_ids(
            df, "text", "doc_id", m2, bpe.build_vocab(seg)
        ).collect()
    }
    assert ids[None] > 0 and ids[7] > 0 and ids[8] == 0


def test_bpe_encode_ids_oov_and_wordless(spark):
    """bpe_encode_ids: seen tokens map to the deterministic 1..V vocab
    ids, tokens containing characters absent from training map to the
    reserved OOV id 0, and wordless docs come back as (0, [])."""
    from dbcut_spark.operators import bpe

    train = spark.createDataFrame(
        [(1, "low lower lowest low low")], ["doc_id", "text"]
    )
    merges, seg = bpe.bpe_train(bpe.word_types(train, "text"), 4)
    vocab = bpe.build_vocab(seg)
    vmap = {r["token"]: r["token_id"] for r in vocab.collect()}
    # ids are 1..V in lexicographic token order
    assert sorted(vmap.values()) == list(range(1, len(vmap) + 1))
    assert list(vmap) != sorted(vmap) or vmap[sorted(vmap)[0]] == 1

    out = {
        r["doc_id"]: (r["n_bpe_tokens"], list(r["token_ids"]))
        for r in bpe.bpe_encode_ids(
            spark.createDataFrame(
                [(10, "low"), (11, "zzz"), (12, "  ")], ["doc_id", "text"]
            ),
            "text", "doc_id", merges, vocab,
        ).collect()
    }
    # seen word: every id is its token's vocab id
    seg_low = {r["word"]: list(r["syms"]) for r in seg.collect()}["low"]
    assert out[10] == (len(seg_low), [vmap[t] for t in seg_low])
    # unseen characters: z never appeared at training -> OOV id 0 for
    # each char token, EOW itself IS in vocab
    assert out[11][1][:3] == [0, 0, 0]
    assert out[11][1][3] == vmap[bpe.EOW]
    # wordless doc yields the (0, []) row
    assert out[12] == (0, [])


def test_bpe_apply_null_array_both_forms(spark):
    """A NULL symbol array must stay NULL through BOTH apply forms
    (the fold's aggregate(NULL) is NULL; the vectorized kernel must
    not crash on it)."""
    from pyspark.sql import functions as F2

    from dbcut_spark.operators import bpe

    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, None)], "id long, syms array<string>"
    )
    merges = [("a", "b")]
    for fold_max in (100, 0):
        got = {
            r["id"]: r["out"]
            for r in df.select(
                "id",
                bpe.apply_merges(
                    F2.col("syms"), merges, fold_max=fold_max
                ).alias("out"),
            ).collect()
        }
        assert got[1] == ["ab"], fold_max
        assert got[2] is None, fold_max


def test_text_feature_edge_semantics(spark):
    """occurrence_count counts adjacent repeats and (after collapse)
    newline-separated words; token counts are NULL for NULL text, 0
    for empty — the silent -1/undercount defects of round-10 review."""
    from dbcut_spark.functions.text import (
        bpe_token_count,
        collapse_ws,
        occurrence_count,
        ws_token_count,
    )

    df = spark.createDataFrame(
        [(1, "the the cat the"), (2, "a\nthe b"), (3, "  "), (4, None)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["occ"], r["ws"], r["bpe"])
        for r in df.select(
            "doc_id",
            occurrence_count(collapse_ws(F.col("text")), "the").alias("occ"),
            ws_token_count("text").alias("ws"),
            bpe_token_count("text").alias("bpe"),
        ).collect()
    }
    assert out[1] == (3, 4, 4)   # adjacent 'the the' counts both
    assert out[2] == (1, 3, 3)   # newline-separated stopword counted
    assert out[3][1] == 0        # whitespace-only: zero tokens
    assert out[4] == (None, None, None)  # NULL text: NULL, never -1


def test_second_pass_null_edge_regressions(spark):
    """Round-10 second-pass review: (a) an all-NULL-vector batch is a
    silent drop, never an abort (NULL embeddings are data, not a
    config error); (b) building an LSH index from a non-empty but
    all-NULL-text reference fails loudly instead of writing a
    permanently unreadable zero-partition index; (c) NULL text scores
    NULL quality, not a perfect 1.0 (least() skips NULLs)."""
    import pytest

    # (a) 40 NULL vectors in one slice: dropped, no abort
    rows = [(i, None) for i in range(40)] + [(99, [1.0, 0.0, 0.0, 0.0])]
    nulls = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "vec_id long, embedding array<float>",
    )
    sigs = sim.signatures_vectorized(nulls, "embedding", n_planes=8, dim=4)
    assert sigs.count() == 1  # only the real vector signs

    # (b) all-NULL-text reference refuses at build time
    import tempfile

    ref = spark.createDataFrame([(1, None), (2, None)], "doc_id long, text string")
    with tempfile.TemporaryDirectory() as d:
        with pytest.raises(ValueError, match="no hashable"):
            dd.build_lsh_index(ref, f"{d}/ix", "text", "doc_id")

    # (c) NULL text -> NULL quality score (was 1.0: top of every gate)
    from dbcut_spark.functions.text import quality_score

    df = spark.createDataFrame([(1, "the cat sat"), (2, None)],
                               "doc_id long, text string")
    cols = quality_score("text")
    out = {r["doc_id"]: r for r in df.select(
        "doc_id", *[e.alias(n) for n, e in cols.items()]
    ).collect()}
    assert out[1]["quality_score"] is not None
    assert out[2]["quality_score"] is None
    assert out[2]["mean_word_len"] is None


def test_ivf_quantizer_rides_the_snapshot(spark, sf_dir, tmp_path):
    """The IVF quantizer is stored IN the vectors snapshot's manifest
    properties, so a crash between the vectors publish and the legacy
    _centroids.json sidecar write can no longer pair new assignments
    with an old quantizer: probes read centroids and buckets from one
    atomic commit. Legacy sidecar-only indexes still resolve."""
    import json
    import os

    from dbcut_spark.operators import similarity as sim
    from dbcut_spark.sinks.manifest import snapshot_properties
    from dbcut_spark.sources.parquet import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    cands = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 5)

    idx = str(tmp_path / "ivf")
    sim.build_ivf_index(cands, idx, n_centroids=8, seed=7)
    props = snapshot_properties(os.path.join(idx, "vectors"))
    assert props.get("centroids") and len(props["centroids"]) == 8
    baseline = sorted(
        tuple(r)
        for r in sim.ivf_topk_indexed(
            spark, idx, queries, k=3, nprobe=8
        ).collect()
    )

    # crash window: sidecar diverges from the snapshot (old quantizer
    # left behind) — probes must IGNORE it in favor of the manifest's
    with open(os.path.join(idx, "_centroids.json"), "w") as f:
        json.dump([[0.0] * len(props["centroids"][0])] * 8, f)
    got = sorted(
        tuple(r)
        for r in sim.ivf_topk_indexed(
            spark, idx, queries, k=3, nprobe=8
        ).collect()
    )
    assert got == baseline

    # legacy index: properties absent -> sidecar fallback still works
    import shutil

    from dbcut_spark.sinks import manifest as mf

    legacy = str(tmp_path / "legacy")
    os.makedirs(legacy)
    cents = props["centroids"]
    assign = sim._nearest_centroids_udf(cents, 1)
    mf.publish_snapshot(
        cands.select(
            "vec_id", "embedding",
            F.element_at(assign(F.col("embedding")), 1).alias("cluster_id"),
        ),
        os.path.join(legacy, "vectors"),
        mode="overwrite", partition_by=["cluster_id"],
    )
    with open(os.path.join(legacy, "_centroids.json"), "w") as f:
        json.dump(cents, f)
    legacy_got = sorted(
        tuple(r)
        for r in sim.ivf_topk_indexed(
            spark, legacy, queries, k=3, nprobe=8
        ).collect()
    )
    assert legacy_got == baseline


def test_round11_review_regressions(spark, sf_dir, tmp_path, monkeypatch):
    """Round-11 second review sweep, pinned:
    (1) a compaction racing a committed index append LOSES with a typed
        conflict instead of silently dropping the batch from the index;
    (2) simhash gives NULL-text docs a NULL signature that pairs with
        nothing (empty-STRING docs keep the pairable all-zero sig);
    (3) pq_encode trips the all-dropped guard on a codebook/dim
        mismatch instead of returning empty-but-successful results;
    (4) a query vector LONGER than the codebook dim is dropped, never
        ranked with NULL distances;
    (5) _rf_scratch creates its dirs under SPARK_GRAFT_SCRATCH_DIR."""
    import os

    import pytest

    from dbcut_spark.operators import dedup as dd
    from dbcut_spark.operators import similarity as sim
    from dbcut_spark.sinks import manifest as mf
    from dbcut_spark.sources.parquet import read_table

    # (1) compact-vs-append race
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    dd.build_lsh_index(
        docs.filter(F.col("doc_id") % 2 == 0), idx, "text", "doc_id",
        n_buckets=4,
    )
    dd.lsh_index_append(
        spark, idx, docs.filter((F.col("doc_id") % 2 == 1)).limit(50),
        "text", "doc_id",
    )
    orig = mf.publish_snapshot

    def racing(df, table_path, **kw):
        if table_path.endswith("/exact") and kw.get("expected_parent"):
            monkeypatch.setattr(mf, "publish_snapshot", orig)
            orig(
                spark.createDataFrame([("racerhash",)], "text_hash string"),
                table_path, mode="append",
            )
        return orig(df, table_path, **kw)

    monkeypatch.setattr(mf, "publish_snapshot", racing)
    with pytest.raises(mf.VersionConflictError):
        dd.lsh_index_compact(spark, idx, grace_seconds=0)
    monkeypatch.setattr(mf, "publish_snapshot", orig)
    # the racer's appended hash is still in the live exact table
    assert (
        mf.read_snapshot(spark, idx + "/exact")
        .filter(F.col("text_hash") == "racerhash")
        .count()
        == 1
    )

    # (2) simhash NULL vs empty text
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, "  "), (5, "real words here")],
        "doc_id long, text string",
    )
    sigs = dd.simhash(df, "text", "doc_id")
    by_id = {r["doc_id"]: r["simhash"] for r in sigs.collect()}
    assert by_id[1] is None and by_id[2] is None
    assert by_id[3] == 0 and by_id[4] == 0
    assert by_id[5] not in (None, 0)
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dd.simhash_pairs(sigs, "doc_id", max_hamming=1).collect()
    }
    assert (1, 2) not in pairs and (3, 4) in pairs
    banded = {
        (r["doc_a"], r["doc_b"])
        for r in dd.simhash_pairs_banded(
            sigs, "doc_id", max_hamming=1
        ).collect()
    }
    assert (1, 2) not in banded and (3, 4) in banded

    # (3) pq_encode all-dropped tripwire (guard needs >= 16 non-NULLs)
    emb = read_table(spark, sf_dir, "embeddings").limit(64)
    bad_codebooks = [[[0.0] * 3] * 4 for _ in range(4)]  # dim 12 != data
    with pytest.raises(Exception, match="pq_encode.*every one of"):
        sim.pq_encode(emb, "embedding", "vec_id", bad_codebooks).count()

    # (4) an over-long query vanishes from pq results instead of
    # ranking garbage first
    good = read_table(spark, sf_dir, "embeddings")
    dim = len(good.select("embedding").first()[0])
    cands = good.filter(F.col("vec_id") >= 10).limit(100)
    m = 4
    sub = dim // m
    cb = [
        [[0.1 * (j + 1)] * sub for j in range(4)] for _ in range(m)
    ]
    long_q = good.limit(1).select(
        "vec_id",
        F.concat(F.col("embedding"), F.array(F.lit(0.5))).alias("embedding"),
    )
    out = sim.pq_adc_topk(long_q, cands, "embedding", "vec_id", cb, k=3)
    assert out.count() == 0

    # (5) scratch root honored
    import dbcut_spark.queries_relational as qr

    root = str(tmp_path / "scratch_root")
    os.makedirs(root)
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", root)
    s = qr._rf_scratch()
    assert s.startswith(root + os.sep), s
