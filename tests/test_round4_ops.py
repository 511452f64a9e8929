"""Semantic invariants for the round-4 operators (quality rules, domain
mixing, novelty, funnel/retention, quantiles) — properties the DuckDB
parity test cannot express (it only proves Spark == oracle, not that
either is *sensible*)."""

from pyspark.sql import functions as F

from dbcut_spark.queries import QUERIES


def test_funnel_is_monotone(spark, sf_dir):
    rows = QUERIES["events_funnel"](spark, sf_dir).collect()
    assert [r.stage for r in rows] == ["view", "click", "purchase"]
    users = [r.users for r in rows]
    assert users[0] >= users[1] >= users[2] >= 0


def test_retention_day0_equals_cohort_size(spark, sf_dir):
    """Every user is active at offset 0 of their own cohort, so day-0
    rows must partition the full user population."""
    ret = QUERIES["events_retention"](spark, sf_dir)
    day0 = (
        ret.filter(F.col("day_offset") == 0)
        .agg(F.sum("users").alias("u"))
        .first()
        .u
    )
    n_users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    assert day0 == n_users
    bad = ret.filter((F.col("day_offset") < 0) | (F.col("users") <= 0)).count()
    assert bad == 0


def test_gopher_keep_implies_each_rule(spark, sf_dir):
    df = QUERIES["docs_gopher_rules"](spark, sf_dir)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert df.count() == n_docs
    bad = df.filter(
        F.col("keep")
        & ~(
            F.col("r_wordcount")
            & F.col("r_meanlen")
            & F.col("r_alpha")
            & F.col("r_stop")
        )
    ).count()
    assert bad == 0
    # the rules must discriminate on this corpus: some kept, some dropped
    kept = df.filter("keep").count()
    assert 0 < kept <= n_docs


def test_domain_mix_respects_quota(spark, sf_dir):
    df = QUERIES["docs_domain_mix_temperature"](spark, sf_dir)
    per_src = df.groupBy("source", "quota").agg(F.count("*").alias("n"))
    over = per_src.filter(F.col("n") > F.col("quota")).count()
    assert over == 0
    # budget 200 across sources; floor() may undershoot but never overshoot
    total = df.count()
    assert 0 < total <= 200


def test_ngram_novelty_bounds_and_first_doc(spark, sf_dir):
    df = QUERIES["docs_ngram_novelty"](spark, sf_dir)
    bad = df.filter(
        (F.col("novelty") < 0)
        | (F.col("novelty") > 1)
        | (F.col("novel_grams") > F.col("n_grams"))
    ).count()
    assert bad == 0
    # the earliest document that has any 3-grams is 100% novel
    first = df.orderBy("doc_id").first()
    assert first.novelty == 1.0


def test_length_quantiles_are_ordered(spark, sf_dir):
    df = QUERIES["docs_length_quantiles"](spark, sf_dir)
    bad = df.filter(
        (F.col("p25") > F.col("p50"))
        | (F.col("p50") > F.col("p90"))
        | (F.col("p90") > F.col("p99"))
    ).count()
    assert bad == 0


def test_mg_frequent_items_guarantee_and_pruning(spark):
    """Misra-Gries with a TINY k on skewed data: every true heavy
    hitter survives, the candidate set is far smaller than the domain,
    and the exact recount matches a plain groupBy."""
    import pandas as pd

    from dbcut_spark.operators.sketches import (
        frequent_items_exact,
        mg_frequent_candidates,
    )

    # zipf-ish: value i appears ~ 4000/i times, i in 1..400
    rows = [(f"v{i:03d}",) for i in range(1, 401) for _ in range(4000 // i)]
    df = spark.createDataFrame(rows, ["val"]).repartition(8)
    n = len(rows)

    cands = mg_frequent_candidates(df, "val", k=39)  # guarantees > n/40
    domain = 400
    assert len(cands) < domain  # actually pruned
    truth = {}
    for (v,) in rows:
        truth[v] = truth.get(v, 0) + 1
    heavy = {v for v, c in truth.items() if c > n / 40}
    assert heavy <= set(cands)  # superset guarantee

    got = {
        r.val: r.n_occurrences
        for r in frequent_items_exact(
            df, "val", threshold_fraction=1 / 40, k=39
        ).collect()
    }
    assert got == {v: truth[v] for v in heavy}  # exact, no false positives

    import pytest

    with pytest.raises(ValueError):
        frequent_items_exact(df, "val", threshold_fraction=0.001, k=39)


def test_stateful_funnel_matches_batch(spark, sf_dir, tmp_path):
    """The streaming funnel's final per-user stage must agree with the
    oracle-checked batch events_funnel when events replay in
    chronological micro-batches (3 files picked up oldest-first)."""
    import time as _time

    from dbcut_spark.sources.parquet import read_table
    from dbcut_spark.streaming.events import read_event_stream, stateful_funnel

    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 60)
    src = tmp_path / "funnel_stream"
    src.mkdir()
    ts_splits = ev.selectExpr(
        "percentile(CAST(ts AS DOUBLE), array(0.34D, 0.67D)) AS q"
    ).first().q
    lo, hi = ts_splits
    parts = [
        ev.filter(F.col("ts").cast("double") <= lo),
        ev.filter(
            (F.col("ts").cast("double") > lo) & (F.col("ts").cast("double") <= hi)
        ),
        ev.filter(F.col("ts").cast("double") > hi),
    ]
    for i, p in enumerate(parts):
        p.orderBy("ts").coalesce(1).write.mode("overwrite").parquet(
            str(src / f"b{i}")
        )
        _time.sleep(1.1)  # distinct mtimes -> deterministic pickup order

    stream = read_event_stream(spark, str(src) + "/b*", max_files_per_trigger=1)
    q = (
        stateful_funnel(stream)
        .writeStream.format("memory")
        .queryName("funnel_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("funnel_test")
    # final stage per user = max emitted stage (stages only advance)
    final = got.groupBy("user_id").agg(F.max("stage").alias("stage"))
    stream_counts = {
        s: final.filter(F.col("stage") >= s).count() for s in (1, 2, 3)
    }

    # batch funnel restricted to the same user subset, recomputed inline
    e = ev.select("user_id", "event_type", "ts")
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("fv")
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("fv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("fc"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("fc"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp"))
    )
    assert stream_counts == {1: v.count(), 2: c.count(), 3: p.count()}


def test_pq_codes_and_recall(spark, sf_dir):
    """PQ encode emits one code in [0,16) per (vector, subspace), and
    the ADC-shortlist + exact-re-rank top-5 recalls most of the exact
    top-5 (vectors are unit-norm, so the cosine top-k is the euclidean
    top-k; shortlist-50 recall ≈ 0.9 at this bit rate)."""
    from dbcut_spark.operators import similarity as sim
    from dbcut_spark.queries import QUERIES

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    entry = sim.stored_pq(sf_dir)
    assert entry is not None
    codes = sim.pq_encode(
        e.filter(F.col("vec_id") >= 10), "embedding", "vec_id", entry["codebooks"]
    )
    n_cands = e.filter(F.col("vec_id") >= 10).count()
    assert codes.count() == n_cands * entry["m"]
    bad = codes.filter((F.col("code") < 0) | (F.col("code") >= entry["k"])).count()
    assert bad == 0

    pq = {
        (r.query_id, r.cand_id)
        for r in QUERIES["embedding_pq_topk"](spark, sf_dir).collect()
    }
    exact = {
        (r.query_id, r.cand_id)
        for r in QUERIES["ann_cosine_topk"](spark, sf_dir).collect()
    }
    recall = len(pq & exact) / len(exact)
    assert recall >= 0.8, recall


def test_gapfill_grid_is_dense(spark, sf_dir):
    """The gap-filled frame is exactly types × hours dense, zero-filled
    buckets are flagged, and LOCF never leaves a null after the first
    observation of a type."""
    df = QUERIES["events_hourly_gapfill"](spark, sf_dir)
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_types = e.select("event_type").distinct().count()
    span = e.selectExpr(
        "CAST((unix_timestamp(date_trunc('hour', max(ts)))"
        " - unix_timestamp(date_trunc('hour', min(ts)))) / 3600 + 1 AS INT) AS h"
    ).first().h
    assert df.count() == n_types * span
    assert df.filter(F.col("filled") & (F.col("n_events") != 0)).count() == 0
    # after a type's first observed hour, locf must be non-null
    w_ok = df.filter(~F.col("filled")).groupBy("event_type").agg(
        F.min("hr").alias("first_obs")
    )
    bad = (
        df.join(w_ok, "event_type")
        .filter((F.col("hr") >= F.col("first_obs")) & F.col("locf_avg_value").isNull())
        .count()
    )
    assert bad == 0


def test_ma7_window_semantics(spark, sf_dir):
    """days_in_window never exceeds 7, and a day with a full 7-day
    window has ma7 equal to the mean of its trailing daily revenues."""
    df = QUERIES["orders_daily_ma7"](spark, sf_dir)
    assert df.filter(F.col("days_in_window") > 7).count() == 0
    rows = df.orderBy("d").collect()
    by_day = {r.d: r for r in rows}
    import datetime

    checked = 0
    for r in rows:
        window = [
            by_day[r.d - datetime.timedelta(days=k)]
            for k in range(7)
            if r.d - datetime.timedelta(days=k) in by_day
        ]
        if len(window) == r.days_in_window == 7:
            expect = sum(x.daily_rev for x in window) / 7
            assert abs(r.ma7 - expect) < 1e-3
            checked += 1
            if checked >= 20:
                break
    assert checked >= 5


def test_stateful_funnel_checkpoint_restart(spark, sf_dir, tmp_path):
    """Funnel state must survive a stop/restart from the same
    checkpoint: users whose view arrived before the stop and whose
    click/purchase arrive after must still complete the funnel — the
    state store, not the process, owns the stage timestamps."""
    from dbcut_spark.sources.parquet import read_table
    from dbcut_spark.streaming.events import read_event_stream, stateful_funnel

    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    # early split: most funnels must still be open at the stop point,
    # so completions in run 2 prove state crossed the restart
    mid = ev.selectExpr(
        "percentile(CAST(ts AS DOUBLE), 0.08D) AS q"
    ).first().q

    src = tmp_path / "src"
    ckpt = tmp_path / "ckpt"
    sink = tmp_path / "sink"
    ev.filter(F.col("ts").cast("double") <= mid).orderBy("ts").coalesce(
        1
    ).write.parquet(str(src / "b0"))

    def run_once():
        q = (
            stateful_funnel(
                read_event_stream(spark, str(src) + "/b*", max_files_per_trigger=1)
            )
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got1 = {
        r.user_id
        for r in spark.read.parquet(str(sink)).filter("stage = 3").collect()
    }

    ev.filter(F.col("ts").cast("double") > mid).orderBy("ts").coalesce(
        1
    ).write.parquet(str(src / "b1"))
    run_once()
    spark.catalog.refreshByPath(str(sink))
    got2 = {
        r.user_id
        for r in spark.read.parquet(str(sink)).filter("stage = 3").collect()
    }
    completed = got1 | got2

    # batch truth on the full subset
    e = ev.select("user_id", "event_type", "ts")
    v = e.filter("event_type = 'view'").groupBy("user_id").agg(F.min("ts").alias("fv"))
    c = (
        e.filter("event_type = 'click'").join(v, "user_id")
        .filter(F.col("ts") > F.col("fv")).groupBy("user_id")
        .agg(F.min("ts").alias("fc"))
    )
    p = (
        e.filter("event_type = 'purchase'").join(c, "user_id")
        .filter(F.col("ts") > F.col("fc")).groupBy("user_id")
        .agg(F.min("ts").alias("fp"))
    )
    truth = {r.user_id for r in p.collect()}
    assert completed == truth
    # at least one user completed only thanks to state carried across
    # the restart (their purchase was in batch 2 with the view in batch 1)
    assert got2 - got1, "restart carried no state - test not exercising restart"


def test_purchase_window_clicks_stream_matches_batch(spark, sf_dir, tmp_path):
    """The watermarked stream-stream join must emit exactly the pairs
    the oracle-checked batch interval join produces when events replay
    in chronological micro-batches (inner-join matches emit as both
    sides arrive; the watermark only bounds state, never results)."""
    import time as _time

    from dbcut_spark.queries import QUERIES
    from dbcut_spark.sources.parquet import read_table
    from dbcut_spark.streaming.events import (
        purchase_window_clicks_stream,
        read_event_stream,
    )

    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 80)
    src = tmp_path / "ssj_stream"
    src.mkdir()
    lo, hi = ev.selectExpr(
        "percentile(CAST(ts AS DOUBLE), array(0.34D, 0.67D)) AS q"
    ).first().q
    parts = [
        ev.filter(F.col("ts").cast("double") <= lo),
        ev.filter(
            (F.col("ts").cast("double") > lo) & (F.col("ts").cast("double") <= hi)
        ),
        ev.filter(F.col("ts").cast("double") > hi),
    ]
    for i, p in enumerate(parts):
        p.orderBy("ts").coalesce(1).write.mode("overwrite").parquet(
            str(src / f"b{i}")
        )
        _time.sleep(1.1)  # distinct mtimes -> deterministic pickup order

    stream = read_event_stream(spark, str(src) + "/b*", max_files_per_trigger=1)
    q = (
        purchase_window_clicks_stream(stream)
        .writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.purchase_id, r.click_id, r.delay_us)
        for r in spark.table("ssj_test").collect()
    }

    batch = QUERIES["events_purchase_window_clicks"](spark, sf_dir).filter(
        F.col("user_id") < 80
    )
    want = {
        (r.purchase_id, r.click_id, r.delay_us) for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_remove_repeated_spans_semantics(spark):
    """Shared boilerplate 3-grams vanish, unique prose survives in
    order, a fully-boilerplate doc becomes empty, and short docs
    (< n tokens) can never lose tokens."""
    from dbcut_spark.operators.curation import remove_repeated_spans

    boiler = "subscribe to our newsletter"
    rows = [
        (1, f"alpha beta gamma {boiler} delta"),
        (2, f"{boiler} epsilon zeta"),
        (3, f"eta theta {boiler}"),
        (4, boiler),
        (5, "one two"),
        (6, "unique prose entirely different words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in remove_repeated_spans(
            df, "text", "doc_id", n=3, min_docs=3
        ).collect()
    }
    assert len(out) == 6
    # every token of the boilerplate is covered by a >=3-doc 3-gram
    assert out[1].clean_text == "alpha beta gamma delta"
    assert out[2].clean_text == "epsilon zeta"
    assert out[3].clean_text == "eta theta"
    assert out[4].clean_text == "" and out[4].n_kept == 0
    assert out[4].n_removed == 4
    assert out[5].clean_text == "one two" and out[5].n_removed == 0
    assert out[6].clean_text == rows[5][1] and out[6].n_removed == 0
    for r in out.values():
        assert r.n_kept + r.n_removed == len(
            dict(rows)[r.doc_id].split(" ")
        )


def test_binary_hamming_recall_and_signatures(spark, sf_dir):
    """Sign signatures stay inside their 32-bit halves, Hamming is
    symmetric-bounded [0, 64], and the b1 shortlist + exact re-rank
    recovers most of the brute-force cosine top-5."""
    from dbcut_spark.operators import similarity as sim
    from dbcut_spark.sources.parquet import read_table

    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    c = e.filter(F.col("vec_id") >= 10)

    lo, hi = sim.binary_signatures("embedding", 64)
    sigs = e.select(lo.alias("lo"), hi.alias("hi")).collect()
    for r in sigs:
        assert 0 <= r.lo < 2**32 and 0 <= r.hi < 2**32

    approx = sim.binary_hamming_topk(q, c, "embedding", "vec_id", k=5)
    got = {(r.query_id, r.cand_id) for r in approx.collect()}
    assert all(
        0 <= r.hamming <= 64 for r in approx.collect()
    )
    exact = sim.cosine_topk(q, c, "vec_id", "embedding", k=5)
    want = {(r.query_id, r.cand_id) for r in exact.collect()}
    recall = len(got & want) / len(want)
    assert recall >= 0.6, recall


def test_purchase_window_clicks_stream_left_outer(spark, sf_dir, tmp_path):
    """Left-outer stream-stream join: matched pairs equal the inner
    join's, and null rows appear exactly for purchases with no click in
    window whose eviction bound (p_ts + window) has passed the final
    join watermark — the rows the engine could PROVE unmatched. Rows
    still inside the watermark horizon must NOT produce nulls."""
    import time as _time

    from dbcut_spark.queries import QUERIES
    from dbcut_spark.sources.parquet import read_table
    from dbcut_spark.streaming.events import (
        purchase_window_clicks_stream,
        read_event_stream,
    )

    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 80)
    src = tmp_path / "ssj_outer"
    src.mkdir()
    mid = ev.selectExpr(
        "percentile(CAST(ts AS DOUBLE), 0.5D) AS m"
    ).first().m
    parts = [
        ev.filter(F.col("ts").cast("double") <= mid),
        ev.filter(F.col("ts").cast("double") > mid),
    ]
    for i, p in enumerate(parts):
        p.orderBy("ts").coalesce(1).write.mode("overwrite").parquet(
            str(src / f"b{i}")
        )
        _time.sleep(1.1)

    stream = read_event_stream(spark, str(src) + "/b*", max_files_per_trigger=1)
    q = (
        purchase_window_clicks_stream(stream, how="left_outer")
        .writeStream.format("memory")
        .queryName("ssj_outer_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("ssj_outer_test")

    matched = {
        (r.purchase_id, r.click_id)
        for r in out.filter(F.col("click_id").isNotNull()).collect()
    }
    batch = QUERIES["events_purchase_window_clicks"](spark, sf_dir).filter(
        F.col("user_id") < 80
    )
    want_matched = {(r.purchase_id, r.click_id) for r in batch.collect()}
    assert matched == want_matched

    null_ids = {
        r.purchase_id
        for r in out.filter(F.col("click_id").isNull()).collect()
    }
    # watermark floor: min over both branches of max(event ts) - 2h
    WIN_US, DELAY_US = 1_800_000_000, 7_200_000_000
    branch_max = {
        r.event_type: r.m
        for r in ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.max(F.unix_micros("ts")).alias("m"))
        .collect()
    }
    wm = min(branch_max.values()) - DELAY_US
    unmatched = {
        r.purchase_id
        for r in ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.unix_micros("ts").alias("pus"),
        )
        .collect()
        if r.purchase_id not in {p for p, _ in want_matched}
        and r.pus + WIN_US < wm
    }
    # provably-unmatched purchases all emitted; no matched purchase
    # ever emits a null row
    assert unmatched <= null_ids
    assert not (null_ids & {p for p, _ in want_matched})
    assert len(unmatched) > 0


def _spans_reference(corpus, n=3, min_docs=3):
    """Pure-Python reference for remove_repeated_spans."""
    grams = {}
    for doc_id, text in corpus:
        toks = text.split(" ")
        for i in range(len(toks) - n + 1):
            grams.setdefault(" ".join(toks[i : i + n]), set()).add(doc_id)
    hot = {g for g, ids in grams.items() if len(ids) >= min_docs}
    out = {}
    for doc_id, text in corpus:
        toks = text.split(" ")
        covered = set()
        for i in range(len(toks) - n + 1):
            if " ".join(toks[i : i + n]) in hot:
                covered.update(range(i, i + n))
        kept = [w for i, w in enumerate(toks) if i not in covered]
        out[doc_id] = (" ".join(kept), len(kept), len(toks) - len(kept))
    return out


def test_remove_repeated_spans_differential(spark):
    """Randomized differential: the distributed rewrite must equal the
    pure-Python reference on corpora drawn from a 5-word vocabulary
    (tiny vocab forces heavy 3-gram sharing and overlapping spans)."""
    import random

    from dbcut_spark.operators.curation import remove_repeated_spans

    rng = random.Random(42)
    vocab = ["a", "b", "c", "d", "e"]
    for trial in range(5):
        corpus = [
            (
                i,
                " ".join(
                    rng.choice(vocab) for _ in range(rng.randint(1, 12))
                ),
            )
            for i in range(rng.randint(4, 20))
        ]
        want = _spans_reference(corpus)
        df = spark.createDataFrame(corpus, "doc_id long, text string")
        got = {
            r.doc_id: (r.clean_text, r.n_kept, r.n_removed)
            for r in remove_repeated_spans(df, "text", "doc_id").collect()
        }
        assert got == want, f"trial {trial}: {got} != {want}"


def test_clean_text_edges(spark):
    """Control chars stripped, zero-width deleted, NBSP and whitespace
    runs collapsed, already-clean text untouched, and pure-junk text
    collapses to the empty string."""
    from dbcut_spark.functions.text import clean_text

    rows = [
        (1, "already clean text"),
        (2, "a\x00b\x07c"),                      # controls vanish, no space
        (3, "a​b‌c﻿d"),           # zero-width vanish
        (4, "a\xa0b  c\t\td \n e"),              # NBSP + runs -> single
        (5, "  \t \xa0 ​  "),               # nothing left
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {r.id: r.c for r in df.select("id", clean_text("t").alias("c")).collect()}
    assert got == {
        1: "already clean text",
        2: "abc",
        3: "abcd",
        4: "a b c d e",
        5: "",
        6: "",
    }


def test_leakage_safe_split_cluster_integrity(spark, sf_dir):
    """No near-dup cluster may straddle the split (the whole point),
    and the split must agree with dedup_clusters' labeling."""
    from dbcut_spark.queries import QUERIES

    df = QUERIES["docs_leakage_safe_split"](spark, sf_dir)
    straddle = (
        df.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert straddle == 0
    rows = df.collect()
    assert {r.split for r in rows} == {"train", "holdout"}
    multi = [r for r in rows if r.cluster_size > 1]
    assert multi, "fixture corpus should contain near-dup clusters"


def test_length_batches_shape(spark, sf_dir):
    """Per shard: batch ids dense from 0, full batches of 32 (one
    trailing partial allowed), max_tokens non-increasing over batch_id,
    pad_frac in [0, 1)."""
    from dbcut_spark.queries import QUERIES

    rows = QUERIES["docs_length_batches"](spark, sf_dir).collect()
    shards: dict[str, list] = {}
    for r in rows:
        shards.setdefault(r.source, []).append(r)
    assert len(shards) > 1  # genuinely per-shard, not one global window
    for src, rs in shards.items():
        assert [r.batch_id for r in rs] == list(range(len(rs))), src
        assert all(r.n_docs == 32 for r in rs[:-1]), src
        assert 0 < rs[-1].n_docs <= 32, src
        maxes = [r.max_tokens for r in rs]
        assert maxes == sorted(maxes, reverse=True), src
        assert all(0.0 <= r.pad_frac < 1.0 for r in rs), src


def test_corpus_drift_psi_properties(spark, sf_dir):
    """Per-feature probabilities sum to ~1 on each side, PSI (a
    symmetrized KL) is non-negative, and the hash split of ONE corpus
    shows only sampling noise — far below the 0.2 alert line at sf0.01+
    and bounded even at the 50-doc sf0.001 fixture."""
    from dbcut_spark.queries import QUERIES

    rows = QUERIES["corpus_drift_psi"](spark, sf_dir).collect()
    feats = {}
    for r in rows:
        feats.setdefault(r.feature, []).append(r)
    assert set(feats) == {"tok_len", "source"}
    for f, rs in feats.items():
        assert abs(sum(r.p_ref for r in rs) - 1.0) < 1e-3
        assert abs(sum(r.p_new for r in rs) - 1.0) < 1e-3
        psi = sum(r.psi_term for r in rs)
        assert 0.0 <= psi < 1.0, (f, psi)


def test_every_query_reachable_by_gate_rotation():
    """A registered query missing from both _CORE_GATE and
    _GATE_ROTATION would never earn a driver-side CORRECTNESS row (the
    round-3 verdict's top finding). Guard: full coverage of the
    registry, and the rotation visits everything within ceil(pool /
    slots) rounds."""
    import math

    from dbcut_spark.queries import (
        _CORE_GATE,
        _GATE_ROTATION,
        GATE_WINDOW,
        QUERIES,
    )

    reachable = set(_CORE_GATE) | set(_GATE_ROTATION)
    missing = set(QUERIES) - reachable
    assert not missing, f"never-gated queries: {sorted(missing)}"
    # no dead entries pointing at unregistered names
    dead = reachable - set(QUERIES)
    assert not dead, f"gate lists reference unknown queries: {sorted(dead)}"

    from dbcut_spark.queries import (
        _driver_sampled_before,
        gate_window_for_round,
    )

    core = [q for q in _CORE_GATE if q in QUERIES]
    pool = [q for q in _GATE_ROTATION if q in QUERIES and q not in core]
    slots = GATE_WINDOW - len(core)
    assert slots > 0
    # drive the PRODUCTION window computation across rounds: pure
    # rotation through round 7, never-sampled-first from round 8 on.
    # Simulate the driver feedback loop — each simulated round's window
    # joins the sampled set — and require full registry coverage within
    # a small horizon (pending-first converges in ceil(pool/slots)).
    seen = set()
    for r in range(4, 8):
        window = gate_window_for_round(r)
        assert len(window) == min(GATE_WINDOW, len(QUERIES))
        seen.update(window)
    sampled = _driver_sampled_before(8) | seen
    for r in range(8, 8 + math.ceil(len(pool) / slots) + 1):
        window = gate_window_for_round(r, sampled=sampled)
        assert len(window) == min(GATE_WINDOW, len(QUERIES))
        seen.update(window)
        sampled |= set(window)
        if seen == set(QUERIES):
            break
    assert seen == set(QUERIES), sorted(set(QUERIES) - seen)


def test_drift_psi_stream_matches_batch(spark, sf_dir, tmp_path):
    """Windows emitted by the streaming drift monitor must carry
    exactly the batch query's per-hour PSI values (same smoothing,
    rounding, and DECIMAL term sum); append mode emits every window the
    final watermark passed."""
    import time as _time

    from dbcut_spark.queries import QUERIES
    from dbcut_spark.sources.parquet import read_table
    from dbcut_spark.streaming.events import drift_psi_stream, read_event_stream

    ev = read_table(spark, sf_dir, "events")
    # reference probs: the batch query's smoothed global histogram
    glob = {r.event_type: r.n for r in ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    k, tot = len(glob), sum(glob.values())
    ref_probs = {b: (n + 0.5) / (tot + 0.5 * k) for b, n in glob.items()}

    src = tmp_path / "drift_stream"
    src.mkdir()
    mid = ev.selectExpr("percentile(CAST(ts AS DOUBLE), 0.5D) AS m").first().m
    parts = [
        ev.filter(F.col("ts").cast("double") <= mid),
        ev.filter(F.col("ts").cast("double") > mid),
    ]
    for i, p in enumerate(parts):
        p.orderBy("ts").coalesce(1).write.mode("overwrite").parquet(
            str(src / f"b{i}")
        )
        _time.sleep(1.1)

    stream = read_event_stream(spark, str(src) + "/b*", max_files_per_trigger=1)
    q = (
        drift_psi_stream(stream, ref_probs)
        .writeStream.format("memory")
        .queryName("drift_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.hour_start: (r.n_types, r.psi)
        for r in spark.table("drift_test").collect()
    }
    assert got, "no windows emitted"

    want = {
        r.hour_start: (r.n_types, r.psi)
        for r in QUERIES["events_hourly_drift_psi"](spark, sf_dir).collect()
    }
    for hr, vals in got.items():
        assert want[hr] == vals, (hr, vals, want[hr])
    # everything the watermark passed must have been emitted
    max_ts = ev.agg(F.max(F.unix_micros("ts")).alias("m")).first().m
    wm_us = max_ts - 7_200_000_000
    emitted_expect = {
        hr for hr in want
        if (hr.timestamp() + 3600) * 1_000_000 < wm_us
    }
    assert emitted_expect <= set(got)


def test_winsorized_invariants(spark, sf_dir):
    """Clip bounds ordered, ~1% clipped on each side (exact percentile
    definition bounds it by ceil/floor of 1%), and the clipped mean
    lies inside [p01, p99]."""
    from dbcut_spark.queries import QUERIES

    for r in QUERIES["events_value_winsorized"](spark, sf_dir).collect():
        assert r.p01 <= r.p99
        assert 0 <= r.n_clipped_low <= r.n * 0.011 + 1
        assert 0 <= r.n_clipped_high <= r.n * 0.011 + 1
        assert r.p01 <= r.mean_clipped <= r.p99


def test_tokenize_ids_consistency(spark, sf_dir):
    """Id sequences are length-consistent with the doc token count,
    OOV ids are exactly the 0 entries, and in-vocab ids agree with
    vocab_build's numbering."""
    from dbcut_spark.queries import QUERIES

    rows = QUERIES["docs_tokenize_ids"](spark, sf_dir).collect()
    vocab = {
        r.token_id: r.tok for r in QUERIES["vocab_build"](spark, sf_dir).collect()
    }
    assert rows
    for r in rows[:50]:
        ids = [int(x) for x in r.token_ids.split(" ")]
        assert len(ids) == r.n_tokens
        assert sum(1 for i in ids if i == 0) == r.n_oov
        assert all(0 <= i <= 100 for i in ids)
    # spot-check the mapping against the actual text
    doc = {
        d.doc_id: d.text
        for d in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(5)
        .collect()
    }
    by_id = {r.doc_id: r for r in rows}
    for did, text in doc.items():
        toks = text.strip().lower().split(" ")
        ids = [int(x) for x in by_id[did].token_ids.split(" ")]
        for t, i in zip(toks, ids):
            if i != 0:
                assert vocab[i] == t


def test_pq_encode_null_and_ragged_vectors(spark, sf_dir):
    """Null / wrong-length embeddings can't be encoded: they emit no
    code rows (null array -> posexplode skips), while valid rows in
    the same Arrow batch encode normally."""
    from dbcut_spark.operators import similarity as sim
    from dbcut_spark.sources.parquet import read_table

    entry = sim.stored_pq(sf_dir)
    good = (
        read_table(spark, sf_dir, "embeddings")
        .limit(3)
        .select("vec_id", "embedding")
    )
    bad = spark.createDataFrame(
        [(1001, None), (1002, [0.5, 0.25])],
        "vec_id long, embedding array<float>",
    )
    codes = sim.pq_encode(
        good.unionByName(bad), "embedding", "vec_id", entry["codebooks"]
    )
    rows = codes.collect()
    ids = {r.vec_id for r in rows}
    assert 1001 not in ids and 1002 not in ids
    assert len(rows) == 3 * len(entry["codebooks"])


def test_binary_signatures_rejects_odd_dim():
    import pytest

    from dbcut_spark.operators import similarity as sim

    for dim in (5, 63, 0, 66):
        with pytest.raises(ValueError):
            sim.binary_signatures("embedding", dim)


def test_drift_psi_stream_flags_unseen_type(spark, tmp_path):
    """A brand-new event type (absent from ref_probs) must spike the
    PSI via the residual OTHER bucket instead of silently deflating
    the known buckets."""
    import datetime as dt

    from dbcut_spark.streaming.events import drift_psi_stream, read_event_stream

    base = dt.datetime(2024, 1, 1, 0, 30)
    rows = []
    for i in range(50):
        rows.append((i, base, 100 + i, "click", 1.0, "{}"))
    for i in range(50, 100):
        rows.append((i, base, 100 + i, "brand_new_type", 1.0, "{}"))
    # sentinel far ahead so the watermark passes the window
    rows.append((999, base + dt.timedelta(hours=6), 1, "click", 1.0, "{}"))
    src = tmp_path / "unseen_stream"
    src.mkdir()
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).orderBy("ts").coalesce(1).write.parquet(str(src / "b0"))

    ref_probs = {"click": 0.5, "view": 0.5}
    q = (
        drift_psi_stream(read_event_stream(spark, str(src) + "/b*"), ref_probs)
        .writeStream.format("memory")
        .queryName("unseen_drift")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {r.hour_start: r for r in spark.table("unseen_drift").collect()}
    first = out[base.replace(minute=0)]
    assert first.n_unseen == 50
    assert first.psi > 0.2, first.psi  # above the standard alert line


def test_asof_null_timestamps_excluded(spark):
    """Null-time RIGHT rows never match (their carry would corrupt
    every earlier left row); null-time LEFT rows keep left-outer
    semantics with NULL picks."""
    from dbcut_spark.operators.asof import asof_join_backward, asof_join_forward

    left = spark.createDataFrame(
        [(1, 100, "l1"), (1, None, "l2"), (1, 5, "l3")],
        "k long, t long, lbl string",
    ).select("k", F.timestamp_micros("t").alias("ts"), "lbl")
    right = spark.createDataFrame(
        [(1, None, 901), (1, 50, 902)], "k long, t long, rid long"
    ).select("k", F.timestamp_micros("t").alias("ts"), "rid")
    out = {
        r.lbl: r.got
        for r in asof_join_backward(
            left, right, ["k"], "ts", "ts", {"rid": "got"}, "rid"
        ).collect()
    }
    # l1 (t=100) matches rid=902 (t=50); l3 (t=5) precedes all real
    # rights -> NULL (the null-time right row must NOT leak in); the
    # null-time left row gets NULL picks
    assert out == {"l1": 902, "l2": None, "l3": None}
    fwd = {
        r.lbl: r.got
        for r in asof_join_forward(
            left, right, ["k"], "ts", "ts", {"rid": "got"}, "rid"
        ).collect()
    }
    assert fwd == {"l1": None, "l2": None, "l3": 902}


def test_range_join_inverted_intervals_dropped(spark):
    """end < start intervals can't explode bins or match points."""
    from dbcut_spark.operators.range_join import (
        interval_overlap_join,
        point_in_interval_join,
    )

    pts = spark.createDataFrame([(1, 55)], "k long, t long")
    iv = spark.createDataFrame(
        [(1, 50, 60, "ok"), (1, 1_000_000_000, 0, "inverted")],
        "k long, s long, e long, tag string",
    )
    got = point_in_interval_join(pts, iv, ["k"], "t", "s", "e", bin_us=100)
    assert [r.tag for r in got.collect()] == ["ok"]
    a = iv.select("k", F.col("s").alias("a_s"), F.col("e").alias("a_e"),
                  F.col("tag").alias("a_tag"))
    b = iv.select("k", F.col("s").alias("b_s"), F.col("e").alias("b_e"),
                  F.col("tag").alias("b_tag"))
    ov = interval_overlap_join(a, b, ["k"], "a_s", "a_e", "b_s", "b_e", 100)
    assert [(r.a_tag, r.b_tag) for r in ov.collect()] == [("ok", "ok")]


def test_simhash_empty_docs_get_zero_signature(spark):
    """Empty/whitespace docs keep a defined all-zero signature and can
    pair with each other instead of vanishing."""
    from dbcut_spark.operators.dedup import simhash, simhash_pairs

    df = spark.createDataFrame(
        [(1, "real words here"), (2, ""), (3, "   ")],
        "doc_id long, text string",
    )
    sigs = simhash(df, "text", "doc_id")
    got = {r.doc_id: r.simhash for r in sigs.collect()}
    assert set(got) == {1, 2, 3}
    assert got[2] == 0 and got[3] == 0
    pairs = {(r.doc_a, r.doc_b) for r in
             simhash_pairs(sigs, "doc_id", max_hamming=0).collect()}
    assert (2, 3) in pairs


def test_kmv_ignores_nulls(spark):
    from dbcut_spark.operators.sketches import kmv_distinct

    vals = [(1, str(i)) for i in range(40)] + [(1, None)] * 5
    df = spark.createDataFrame(vals, "g long, v string")
    r = kmv_distinct(df, "g", "v", k=64).first()
    assert r.est_distinct == 40.0  # exact below k; NULL adds nothing


def test_hash_sample_full_fraction_is_identity(spark, sf_dir):
    from dbcut_spark.operators.sampling import hash_sample
    from dbcut_spark.sources.parquet import read_table

    d = read_table(spark, sf_dir, "documents")
    assert hash_sample(d, "doc_id", 1.0).count() == d.count()


def test_lsh_band_divisibility_guards(spark, sf_dir):
    import pytest

    from dbcut_spark.operators import similarity as sim
    from dbcut_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures
    from dbcut_spark.sources.parquet import read_table

    d = read_table(spark, sf_dir, "documents").limit(5)
    sigs = minhash_signatures(d, "text", "doc_id", num_hashes=16)
    with pytest.raises(ValueError):
        lsh_candidate_pairs(sigs, "doc_id", num_hashes=16, band_rows=5)
    e = read_table(spark, sf_dir, "embeddings").limit(5)
    with pytest.raises(ValueError):
        sim.lsh_ann_topk(e, e, n_planes=16, band_bits=5)


def test_parse_limit_zero_is_zero():
    """`limit: 0` must return zero rows, not disable the limit (the
    0 == False equality trap)."""
    from dbcut_spark.config import normalize_query

    spec = normalize_query({"from": "orders", "limit": 0})
    assert spec.limit == 0
    spec2 = normalize_query({"from": "orders", "backref_limit": 0})
    assert spec2.backref_limit == 0
    assert normalize_query({"from": "orders", "limit": "no"}).limit is None
    assert normalize_query({"from": "orders", "limit": False}).limit is None


def test_render_value_mysql_backslash():
    from dbcut_spark.sinks.sqldump import render_value

    assert render_value("a\\'", "mysql") == "'a\\\\'''"
    assert render_value("path\\n", "mysql") == "'path\\\\n'"
    # sqlite / postgres take backslash literally - unchanged
    assert render_value("a\\", "sqlite") == "'a\\'"
    assert render_value("a\\", "postgresql") == "'a\\'"


def test_dump_sql_distributed_nullable_ints(spark, tmp_path):
    """Nullable integer columns must render as NULL / integer literals,
    never `nan` / floats (the Arrow->pandas float64 widening)."""
    from dbcut_spark.sinks.sqldump import dump_sql_distributed

    df = spark.createDataFrame(
        [(1, 10, "x"), (2, None, "y")], "id long, v long, s string"
    )
    out = str(tmp_path / "dump")
    dump_sql_distributed(df, "t", out, dialect="sqlite")
    stmts = sorted(r.value for r in spark.read.text(out).collect())
    assert any("(1, 10, 'x')" in s for s in stmts), stmts
    assert any("(2, NULL, 'y')" in s for s in stmts), stmts
    assert not any("nan" in s or "10.0" in s for s in stmts), stmts


def test_asof_attribution_stream_matches_batch(spark, sf_dir, tmp_path):
    """The watermark-gated streaming as-of join must emit EXACTLY the
    oracle-checked batch events_asof_attribution rows once the
    watermark passes every purchase: chronological 3-file replay plus a
    far-future sentinel click that drags the watermark past all real
    events and flushes the pending tail."""
    import time as _time

    from dbcut_spark.sources.parquet import read_table
    from dbcut_spark.streaming.events import (
        asof_attribution_stream,
        read_event_stream,
    )

    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 60)
    src = tmp_path / "asof_stream"
    src.mkdir()
    lo, hi = ev.selectExpr(
        "percentile(CAST(ts AS DOUBLE), array(0.34D, 0.67D)) AS q"
    ).first().q
    parts = [
        ev.filter(F.col("ts").cast("double") <= lo),
        ev.filter(
            (F.col("ts").cast("double") > lo) & (F.col("ts").cast("double") <= hi)
        ),
        ev.filter(F.col("ts").cast("double") > hi),
    ]
    sentinel = spark.createDataFrame(
        [(99_999_999, -1, "click", 0.0, "{}")],
        "event_id long, user_id long, event_type string, value double, props string",
    ).select(
        "event_id",
        (F.to_timestamp(F.lit("2031-01-01 00:00:00"))).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    for i, p in enumerate(parts + [sentinel.select(*parts[0].columns)]):
        p.orderBy("ts").coalesce(1).write.mode("overwrite").parquet(
            str(src / f"b{i}")
        )
        _time.sleep(1.1)

    stream = read_event_stream(spark, str(src) + "/b*", max_files_per_trigger=1)
    q = (
        asof_attribution_stream(stream)
        .writeStream.format("memory")
        .queryName("asof_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.purchase_id, r.user_id): (r.last_click_id, r.gap_us)
        for r in spark.table("asof_stream_test").collect()
    }

    from dbcut_spark.operators.asof import asof_join_backward

    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.unix_micros("ts").alias("click_us")
    )
    j = asof_join_backward(
        p, c, on=["user_id"], left_time="ts", right_time="ts",
        pick={"event_id": "last_click_id", "click_us": "last_click_us"},
        tiebreak="event_id",
    )
    want = {
        (r.purchase_id, r.user_id): (
            r.last_click_id,
            None
            if r.last_click_us is None
            else r.gap_us,
        )
        for r in j.select(
            "purchase_id",
            "user_id",
            "last_click_id",
            "last_click_us",
            (F.unix_micros("ts") - F.col("last_click_us")).alias("gap_us"),
        ).collect()
    }
    assert len(got) == len(want) > 0
    assert got == want


def test_asof_attribution_stream_checkpoint_restart(spark, sf_dir, tmp_path):
    """As-of stream state (pending purchases + click history) must
    survive a stop/restart from the same checkpoint: purchases buffered
    before the stop flush after it with the correct click, including
    clicks that arrived before the stop — the state store owns both
    buffers. Exactly-once: no purchase is emitted twice across runs."""
    from dbcut_spark.operators.asof import asof_join_backward
    from dbcut_spark.sources.parquet import read_table
    from dbcut_spark.streaming.events import (
        asof_attribution_stream,
        read_event_stream,
    )

    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    mid = ev.selectExpr(
        "percentile(CAST(ts AS DOUBLE), 0.5D) AS q"
    ).first().q

    src = tmp_path / "src"
    ckpt = tmp_path / "ckpt"
    sink = tmp_path / "sink"
    ev.filter(F.col("ts").cast("double") <= mid).orderBy("ts").coalesce(
        1
    ).write.parquet(str(src / "b0"))

    def run_once():
        q = (
            asof_attribution_stream(
                read_event_stream(spark, str(src) + "/b*", max_files_per_trigger=1)
            )
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    spark.catalog.refreshByPath(str(sink))
    n1 = spark.read.parquet(str(sink)).count()

    # second half plus a far-future sentinel click to flush the tail
    late = ev.filter(F.col("ts").cast("double") > mid)
    sentinel = spark.range(1).select(
        F.lit(99_999_999).alias("event_id"),
        F.to_timestamp(F.lit("2031-01-01 00:00:00")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("click").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    late.orderBy("ts").coalesce(1).write.parquet(str(src / "b1"))
    sentinel.select(*late.columns).coalesce(1).write.parquet(str(src / "b2"))
    run_once()
    spark.catalog.refreshByPath(str(sink))
    out = spark.read.parquet(str(sink)).collect()

    # exactly-once: every purchase emitted exactly once across both runs
    ids = [r.purchase_id for r in out]
    assert len(ids) == len(set(ids))
    assert len(out) > n1  # the restart actually emitted the buffered tail

    got = {
        (r.purchase_id, r.user_id): (r.last_click_id, r.gap_us) for r in out
    }
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.unix_micros("ts").alias("click_us")
    )
    j = asof_join_backward(
        p, c, on=["user_id"], left_time="ts", right_time="ts",
        pick={"event_id": "last_click_id", "click_us": "last_click_us"},
        tiebreak="event_id",
    )
    want = {
        (r.purchase_id, r.user_id): (
            r.last_click_id,
            None if r.last_click_us is None else r.gap_us,
        )
        for r in j.select(
            "purchase_id", "user_id", "last_click_id", "last_click_us",
            (F.unix_micros("ts") - F.col("last_click_us")).alias("gap_us"),
        ).collect()
    }
    assert got == want


def test_cdc_chunks_shift_robust(spark):
    """The property CDC exists for: inserting characters near the start
    of a near-duplicate moves every fixed-stride window but only the
    chunks around the edit, so most chunks still match across the two
    versions — while a fixed-stride 20-char window signal on the same
    pair collapses."""
    import hashlib

    from dbcut_spark.operators.dedup import cdc_chunk_rows

    base = " ".join(
        hashlib.md5(f"w{i}".encode()).hexdigest()[:6] for i in range(400)
    )
    edited = "zzz " + base  # 4-char insertion at the front
    df = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    ch = cdc_chunk_rows(df, "text", "doc_id").collect()
    by_doc = {1: set(), 2: set()}
    for r in ch:
        by_doc[r.doc_id].add(r.chunk)
    shared = by_doc[1] & by_doc[2]
    # most chunks survive the shift (only the chunks around the edit
    # differ); a fixed-stride window would share ~0 of its windows
    assert len(shared) / len(by_doc[1]) > 0.8, (
        len(shared), len(by_doc[1]), len(by_doc[2]))
    # chunks tile the document exactly (the md5-word corpus makes every
    # chunk unique, so the distinct set covers the full text)
    assert sum(len(c) for c in by_doc[1]) == len(base)
    assert all(c in base.lower() for c in by_doc[1])


def test_asof_attribution_stream_out_of_order_within_batches(spark, sf_dir, tmp_path):
    """The watermark-gating claim under DISORDER: rows shuffled inside
    each replay file (the watermark only advances between batches, so
    every in-batch ordering is admitted) must still produce exactly the
    batch as-of result — no emit-on-arrival shortcut can pass this."""
    import time as _time

    from dbcut_spark.operators.asof import asof_join_backward
    from dbcut_spark.sources.parquet import read_table
    from dbcut_spark.streaming.events import (
        asof_attribution_stream,
        read_event_stream,
    )

    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 60)
    src = tmp_path / "asof_ooo"
    src.mkdir()
    lo, hi = ev.selectExpr(
        "percentile(CAST(ts AS DOUBLE), array(0.34D, 0.67D)) AS q"
    ).first().q
    parts = [
        ev.filter(F.col("ts").cast("double") <= lo),
        ev.filter(
            (F.col("ts").cast("double") > lo) & (F.col("ts").cast("double") <= hi)
        ),
        ev.filter(F.col("ts").cast("double") > hi),
    ]
    sentinel = spark.range(1).select(
        F.lit(99_999_999).alias("event_id"),
        F.to_timestamp(F.lit("2031-01-01 00:00:00")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("click").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    for i, p in enumerate(parts + [sentinel.select(*parts[0].columns)]):
        # deterministic SHUFFLE inside the file: order by a hash of the
        # id, not by time — maximal in-batch disorder
        p.orderBy(F.md5(F.col("event_id").cast("string"))).coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / f"b{i}"))
        _time.sleep(1.1)

    stream = read_event_stream(spark, str(src) + "/b*", max_files_per_trigger=1)
    q = (
        asof_attribution_stream(stream)
        .writeStream.format("memory")
        .queryName("asof_ooo_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.purchase_id, r.user_id): (r.last_click_id, r.gap_us)
        for r in spark.table("asof_ooo_test").collect()
    }

    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.unix_micros("ts").alias("click_us")
    )
    j = asof_join_backward(
        p, c, on=["user_id"], left_time="ts", right_time="ts",
        pick={"event_id": "last_click_id", "click_us": "last_click_us"},
        tiebreak="event_id",
    )
    want = {
        (r.purchase_id, r.user_id): (
            r.last_click_id,
            None if r.last_click_us is None else r.gap_us,
        )
        for r in j.select(
            "purchase_id", "user_id", "last_click_id", "last_click_us",
            (F.unix_micros("ts") - F.col("last_click_us")).alias("gap_us"),
        ).collect()
    }
    assert len(got) == len(want) > 0
    assert got == want


def test_centroid_drift_calibration(spark, sf_dir):
    """Null-hypothesis calibration on the hash-split corpus: the
    synthetic per-label embeddings are near-isotropic, so each half's
    centroid is sampling noise with norm ≈ 1/sqrt(n) and the cosine
    between two independent noise vectors is small — the norms are
    what tell a reader whether the cosine is even informative. A
    CONSTRUCTED clustered frame (center + small noise) must instead
    report cosine ≈ 1: that is the drift-detection regime."""
    import hashlib
    import math

    rows = QUERIES["embedding_centroid_drift"](spark, sf_dir).collect()
    assert len(rows) == 10 and [r.label for r in rows] == sorted(
        r.label for r in rows
    )
    for r in rows:
        assert r.n_ref > 0 and r.n_new > 0
        # isotropic null: centroid norm within ~3x of the 1/sqrt(n)
        # noise floor, cosine well inside (-1, 1) noise band
        for norm, n in ((r.ref_norm, r.n_ref), (r.new_norm, r.n_new)):
            assert 0 < norm < 3.0 / math.sqrt(n), (r.label, norm, n)
        assert abs(r.centroid_cos) < 0.9

    # clustered regime: unit center direction + 5% noise -> cos ~ 1
    def vec(i):
        h = hashlib.md5(f"n{i}".encode()).digest()
        noise = [(b - 127.5) / 127.5 * 0.05 for b in h]
        return [1.0 + noise[j % 16] for j in range(64)]

    from dbcut_spark.queries_pipeline import embedding_centroid_drift

    df = spark.createDataFrame(
        [(i, vec(i), 0) for i in range(60)],
        "vec_id long, embedding array<double>, label int",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(f"{tmp}/embeddings.parquet")
        out = embedding_centroid_drift(spark, tmp).collect()
    [r] = out
    assert r.centroid_cos > 0.999, r
    assert r.ref_norm > 5  # far above the 1/sqrt(n) noise floor


def test_pmi_bigrams_properties(spark, sf_dir):
    """Every reported bigram meets min support, counts are consistent
    (pair count cannot exceed either unigram count), and the PMI of a
    reported top collocation is positive (it co-occurs more than
    independence predicts)."""
    rows = QUERIES["docs_pmi_bigrams"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 50
    for r in rows:
        assert r.n_ab >= 5
        assert r.n_ab <= r.n_a and r.n_ab <= r.n_b
        assert " " in r.bigram
    assert rows[0].pmi > 0  # the top collocation beats independence


def test_round7_gate_window_pinned():
    """The round-7 window was published when CORRECTNESS_r06 landed;
    later edits to the gate lists must not reorder it (new queries are
    append-only at the rotation tail — see the comment in queries.py).
    This literal pin turns an accidental mid-list insert into a test
    failure instead of a silently shifted driver gate."""
    from dbcut_spark.queries import gate_window_for_round

    window = gate_window_for_round(7)
    assert window[26:] == [
        "ann_recall_eval", "dedup_incremental", "pii_scan",
        "docs_pack_sequences", "docs_weighted_sample", "corpus_curate",
        "corpus_stats", "vocab_build", "tfidf_top_terms",
        "substring_dup_frac", "ivf_cluster_profile", "events_enriched",
        "events_json_extract", "docs_truncate_tokens",
        "docs_source_quota", "embedding_jl_distortion",
        "multimodal_frame_sample", "embedding_semdedup",
        "shingle_distinct_kmv", "events_hourly_anomaly",
        "docs_bigram_logprob", "corpus_diff", "events_top_users_salted",
        "events_asof_next_purchase",
    ]


def test_round8_gate_window_pinned():
    """Round 8 switches to the never-sampled-first rule (round-7
    verdict item 1): the 14 queries with no driver row in r01-r07 take
    the rotation slots first, the round-8 rotation slice (offset 72)
    fills the rest. Literal pin — published once CORRECTNESS_r07
    landed; later gate-list edits must keep this window byte-identical
    (new queries append at the rotation tail AND debut via the pending
    rule, so this round-8 window itself is only valid while the pool
    additions stay behind the fill slice)."""
    from dbcut_spark.queries import gate_window_for_round

    window = gate_window_for_round(8)
    assert window[26:40] == [
        "tpcds_rollup_priority", "tpcds_cube_lineitem",
        "tpcds_yoy_nation", "tpcds_moving_avg", "tpcds_intersect_buyers",
        "tpcds_except_browsers", "tpcds_top_spenders",
        "tpcds_above_avg_orders", "tpcds_channel_rollup",
        "docs_mixture_weights", "tpcds_grouping_sets",
        "tpcds_pivot_status", "tpch_rf_refresh_partitioned",
        "docs_quantile_sketch",
    ]
    # round-8 additions debut right after the round-7 backlog; any
    # remaining slots continue the rotation slice
    tail = window[40:]
    assert len(window) == 50
    from dbcut_spark.queries import _GATE_ROTATION

    r8_new = [q for q in _GATE_ROTATION if q in _ROUND8_ADDITIONS]
    assert tail[: len(r8_new)] == r8_new


# queries first registered in round 8 (kept in sync with the
# _GATE_ROTATION tail; the pin above proves they debut in round 8's
# driver window instead of waiting a rotation lap)
_ROUND8_ADDITIONS: list[str] = [
    "events_approx_distinct_users",
    "docs_approx_length_quantiles",
    "include_multi__region",
    "include_multi__nation",
    "include_multi__customer",
    "include_multi__supplier",
    "docs_hybrid_rrf",
    "events_scd2_state",
    "events_scd2_incremental",
]


# queries first registered in round 9 (append-only _GATE_ROTATION tail)
_ROUND9_ADDITIONS: list[str] = [
    "dedup_incremental_indexed",
    "docs_bpe_vocab",
    "docs_bpe_tokenize",
    "events_scd2_asof",
    "docs_bpe_compression",
    "docs_quality_logistic",
]


# queries first registered in round 10 (append-only _GATE_ROTATION tail)
_ROUND10_ADDITIONS: list[str] = [
    "docs_bpe_encode_unseen",
    "orders_manifest_snapshot",
    "docs_bpe_vocab50",
    "backref_cap_salted__orders",
    "dedup_ingest_sequential",
    "docs_bpe_token_ids",
    "docs_bpe_tokenize50",
]


def test_round10_additions_debut_in_round10_window():
    """The r01-r09 driver-row union covers the whole pre-round-10
    registry (round-9 verdict), so round 10's never-sampled-first rule
    must place exactly the round-10 additions at the head of the
    rotation slots."""
    from dbcut_spark.queries import _GATE_ROTATION, gate_window_for_round

    window = gate_window_for_round(10)
    assert len(window) == 50
    r10_new = [q for q in _GATE_ROTATION if q in _ROUND10_ADDITIONS]
    assert set(r10_new) <= set(window), (
        "a round-10 addition missed its own debut window"
    )
    assert window[26 : 26 + len(r10_new)] == r10_new


def test_failed_driver_row_reenters_gate_window():
    """A driver CORRECTNESS row that failed (``err`` or a ``*_match``
    false) does not count as sampled: round 11's only
    ``orders_manifest_skipping`` row failed, so the query must re-enter
    the window until it passes once."""
    from dbcut_spark.queries import (
        _driver_sampled_before,
        gate_window_for_round,
    )

    assert "orders_manifest_skipping" not in _driver_sampled_before(13)
    assert "orders_manifest_skipping" in gate_window_for_round(13)


def test_round9_additions_debut_in_round9_window():
    """The r01-r08 driver-row union covers the whole pre-round-9
    registry (round-8 verdict), so round 9's never-sampled-first rule
    must place exactly the round-9 additions at the head of the
    rotation slots — every new query earns a driver CORRECTNESS row in
    its debut round."""
    from dbcut_spark.queries import _GATE_ROTATION, gate_window_for_round

    window = gate_window_for_round(9)
    assert len(window) == 50
    r9_new = [q for q in _GATE_ROTATION if q in _ROUND9_ADDITIONS]
    assert set(r9_new) <= set(window), (
        "a round-9 addition missed its own debut window"
    )
    # and they sit before any rotation fill (pending-first ordering)
    assert window[26 : 26 + len(r9_new)] == r9_new


def test_stream_cdc_merge_matches_batch(spark, sf_dir, tmp_path):
    """Streaming CDC merge (foreachBatch + partition-pruned upsert)
    must land the same final table as applying the change batches in
    batch mode — including intra-batch last-writer-wins, deletes via
    the op column, and convergence across micro-batch boundaries."""
    import os as _os

    from pyspark.sql import functions as F2

    from dbcut_spark.streaming.merge import apply_cdc_batch, stream_upsert_parquet

    target = str(tmp_path / "t.parquet")
    base = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(200)
    )
    base.write.parquet(target)
    expected_target = str(tmp_path / "expected.parquet")
    base.write.parquet(expected_target)

    # three CDC batches: updates, inserts, deletes + a conflicting pair
    cdc_dir = tmp_path / "cdc"
    cdc_dir.mkdir()
    keys = [r.o_orderkey for r in base.orderBy("o_orderkey").limit(30).collect()]
    b1 = spark.createDataFrame(
        [(k, 1, 111.0, "U", 1) for k in keys[:10]]
        + [(-1, 1, 1.0, "U", 1), (-1, 1, 2.0, "U", 2)],  # conflict: seq 2 wins
        ["o_orderkey", "o_custkey", "o_totalprice", "op", "seq"],
    )
    b2 = spark.createDataFrame(
        [(-100 - i, 2, 5.0, "U", 1) for i in range(5)]
        + [(k, 0, 0.0, "D", 1) for k in keys[10:20]],
        ["o_orderkey", "o_custkey", "o_totalprice", "op", "seq"],
    )
    b1.coalesce(1).write.parquet(str(cdc_dir / "b1"))
    b2.coalesce(1).write.parquet(str(cdc_dir / "b2"))

    # batch-mode expected state
    for b in (b1, b2):
        apply_cdc_batch(
            b, expected_target, ["o_orderkey"], op_col="op",
            order_within_batch="seq",
        )
    expected = {
        tuple(r)
        for r in spark.read.parquet(expected_target)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .collect()
    }
    assert (-1, 1, 2.0) in expected  # last-writer-wins took seq=2

    # streaming mode over the same files as micro-batches
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(cdc_dir) + "/b*")
    )
    q = stream_upsert_parquet(
        stream, target, ["o_orderkey"],
        checkpoint=str(tmp_path / "ckpt"),
        op_col="op", order_within_batch="seq",
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = {
        tuple(r)
        for r in spark.read.parquet(target)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .collect()
    }
    assert got == expected
    assert _os.path.exists(str(tmp_path / "ckpt"))


def test_stream_cdc_merge_restart_converges_partitioned(
    spark, tmp_path, monkeypatch
):
    """Round-7 verdict item 6 — checkpoint-restart on a PARTITIONED
    target: the stream dies AFTER a batch's merge applied but BEFORE
    Structured Streaming committed its offset (the worst-case crash
    window), the restart replays that batch, and the idempotent MERGE
    converges to exactly the batch-mode state — partition layout
    intact."""
    import os as _os

    import dbcut_spark.streaming.merge as merge_mod
    from dbcut_spark.streaming.merge import apply_cdc_batch, stream_upsert_parquet

    target = str(tmp_path / "t.parquet")
    base = spark.createDataFrame(
        [(i, 2020 + (i % 2), float(i)) for i in range(1, 21)],
        ["id", "year", "v"],
    )
    base.write.partitionBy("year").parquet(target)
    expected_target = str(tmp_path / "expected.parquet")
    base.write.partitionBy("year").parquet(expected_target)

    cdc_dir = tmp_path / "cdc"
    cdc_dir.mkdir()
    b0 = spark.createDataFrame(
        [(i, 2020 + (i % 2), 100.0 + i, "U") for i in range(1, 6)]
        + [(21, 2021, 21.0, "U"), (22, 2020, 22.0, "U")],
        ["id", "year", "v", "op"],
    )
    b1 = spark.createDataFrame(
        # overlaps b0's rows (3..5) so the replay really re-merges, and
        # deletes one base row + one b0-inserted row
        [(i, 2020 + (i % 2), 200.0 + i, "U") for i in range(3, 9)]
        + [(10, 2020, 0.0, "D"), (21, 2021, 0.0, "D")],
        ["id", "year", "v", "op"],
    )
    b0.coalesce(1).write.parquet(str(cdc_dir / "b0"))
    b1.coalesce(1).write.parquet(str(cdc_dir / "b1"))

    for b in (b0, b1):
        apply_cdc_batch(b, expected_target, ["id"], op_col="op")
    expected = {
        tuple(r) for r in spark.read.parquet(expected_target).collect()
    }

    # run 1: the handler crashes AFTER applying micro-batch 1's merge —
    # its offset never commits, so the restart must replay it
    real = apply_cdc_batch

    def crashing(batch, path, pk, *args, **kwargs):
        out = real(batch, path, pk, *args, **kwargs)
        crashing.seen += 1
        if crashing.arm and crashing.seen == 2:
            raise RuntimeError("injected crash after merge, before commit")
        return out

    crashing.arm = True
    crashing.seen = 0
    monkeypatch.setattr(merge_mod, "apply_cdc_batch", crashing)

    def start():
        stream = (
            spark.readStream.schema(b0.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(cdc_dir) + "/b*")
        )
        return stream_upsert_parquet(
            stream, target, ["id"],
            checkpoint=str(tmp_path / "ckpt"), op_col="op",
        )

    q = start()
    try:
        q.awaitTermination(120)
    except Exception:
        pass  # the injected crash surfaces here
    if q.isActive:
        q.stop()
    assert q.exception() is not None, "fault injection did not fire"

    # run 2: same checkpoint, fault disarmed — the uncommitted batch
    # replays and the double-applied merge converges
    crashing.arm = False
    q2 = start()
    q2.awaitTermination(120)
    if q2.isActive:
        q2.stop()
    got = {tuple(r) for r in spark.read.parquet(target).collect()}
    assert got == expected
    # partition layout survived both the crash and the replay
    from dbcut_spark.sinks.insert_ignore import detect_partition_cols

    assert detect_partition_cols(target) == ["year"]


def test_render_value_non_finite_floats_are_null():
    """SQL has no portable NaN/Infinity literal — repr() emitted `nan`
    and aborted the load; both dump modes now agree on NULL."""
    from dbcut_spark.sinks.sqldump import render_value

    assert render_value(float("nan")) == "NULL"
    assert render_value(float("inf")) == "NULL"
    assert render_value(float("-inf")) == "NULL"
    assert render_value(1.5) == "1.5"


def test_distributed_dump_preserves_big_ints(spark, tmp_path):
    """BIGINTs above 2^53 survive the distributed dump exactly: the
    Arrow->pandas float64 widening of nullable int columns used to
    corrupt 2^53+1 into ...992."""
    from dbcut_spark.sinks.sqldump import dump_sql_distributed

    big = 2**53 + 1
    df = spark.createDataFrame(
        [(big, 1.0), (None, float("nan"))], "id long, v double"
    )
    out = str(tmp_path / "dump")
    dump_sql_distributed(df, "t", out)
    text = "\n".join(
        open(f"{out}/{f}").read()
        for f in __import__("os").listdir(out)
        if f.startswith("part-")
    )
    assert str(big) in text, text
    assert "nan" not in text.lower().replace("null", ""), text
    assert "NULL" in text


def test_hourly_anomaly_warmup_must_fit_trail(spark, sf_dir):
    import pytest as _pytest

    from dbcut_spark.streaming.events import (
        read_event_stream,
        stateful_hourly_anomaly,
    )

    stream = read_event_stream(spark, sf_dir)
    with _pytest.raises(ValueError, match="warmup"):
        stateful_hourly_anomaly(stream, warmup=30, trail=24)


def test_scd2_stream_upsert_maintains_table(spark, sf_dir, tmp_path):
    """Round-9 composition (verdict ask #7): scd2_stream's closed
    intervals wired through the partition-pruned upsert must maintain
    the SAME SCD2 parquet the batch build and the incremental
    scd2_apply_delta produce over the identical micro-batch split —
    closed intervals only (each user's open interval lives in stream
    state). The table is created partitioned by state, so steady-state
    micro-batches exercise upsert_parquet's pruned path."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    from pyspark.sql import functions as F2

    from dbcut_spark.operators.scd2 import scd2_apply_delta, scd2_build
    from dbcut_spark.sinks.insert_ignore import detect_partition_cols
    from dbcut_spark.sources.parquet import read_table
    from dbcut_spark.streaming.events import (
        read_event_stream,
        scd2_stream_upsert,
    )

    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F2.col("user_id") < 40)
        .select("user_id", "ts", "event_id", "event_type", "value")
    )
    # three time slices = three micro-batches; slicing by ts keeps the
    # per-user cross-batch ordering contract by construction
    cuts = [r[0] for r in ev.selectExpr(
        "percentile_approx(ts, array(0.34, 0.67), 10000) as p"
    ).selectExpr("explode(p)").collect()]
    slices = [
        ev.filter(F2.col("ts") <= F2.lit(cuts[0])),
        ev.filter((F2.col("ts") > F2.lit(cuts[0])) & (F2.col("ts") <= F2.lit(cuts[1]))),
        ev.filter(F2.col("ts") > F2.lit(cuts[1])),
    ]
    src = tmp_path / "scd2_src"
    src.mkdir()
    base_t = 1_700_000_000
    for i, sl in enumerate(slices):
        stage = str(tmp_path / f"stage_{i}")
        sl.orderBy("ts", "event_id").coalesce(1).write.parquet(stage)
        part = _glob.glob(_os.path.join(stage, "part-*.parquet"))[0]
        dst = str(src / f"slice_{i}.parquet")
        _shutil.move(part, dst)
        # strictly increasing mtimes pin micro-batch order = slice order
        _os.utime(dst, (base_t + 10 * i, base_t + 10 * i))

    target = str(tmp_path / "scd2_table.parquet")
    q = scd2_stream_upsert(
        read_event_stream(spark, str(src), max_files_per_trigger=1),
        target,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    got = {
        (
            r["user_id"], r["state"], r["valid_from_us"],
            r["valid_to_us"], r["version"], r["n_events"],
        )
        for r in spark.read.parquet(target).collect()
    }

    def closed(df):
        return {
            (
                r["user_id"],
                r["state"],
                int(r["valid_from"].timestamp() * 1_000_000),
                int(r["valid_to"].timestamp() * 1_000_000),
                r["version"],
                r["n_events"],
            )
            for r in df.collect()
            if r["valid_to"] is not None
        }

    full = closed(scd2_build(ev))
    inc = closed(
        scd2_apply_delta(
            scd2_apply_delta(scd2_build(slices[0]), slices[1]), slices[2]
        )
    )
    assert got, "stream wrote no closed intervals"
    assert got == full == inc
    # composition really goes through the PARTITIONED (pruned) upsert
    assert detect_partition_cols(target) == ["state"]


def test_scd2_stream_upsert_empty_first_batches(spark, tmp_path):
    """Micro-batches that close no interval (first events, or a
    continuing state) must NOT create the table: a zero-row partitioned
    write loses the partition column from the on-disk schema and every
    later batch would fail schema-drift (round-9 self-review fix). The
    table appears with the FIRST closed interval."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    from pyspark.sql import types as T2

    from dbcut_spark.sinks.insert_ignore import detect_partition_cols
    from dbcut_spark.streaming.events import (
        read_event_stream,
        scd2_stream_upsert,
    )

    schema = T2.StructType(
        [
            T2.StructField("user_id", T2.LongType()),
            T2.StructField("event_id", T2.LongType()),
            T2.StructField("event_type", T2.StringType()),
            T2.StructField("ts", T2.TimestampType()),
            T2.StructField("value", T2.DoubleType()),
        ]
    )

    def rows(*tups):
        import datetime

        return [
            (u, e, et, datetime.datetime(2024, 1, 1, 0, 0, s), 1.0)
            for (u, e, et, s) in tups
        ]

    src = tmp_path / "src"
    src.mkdir()
    base_t = 1_700_000_000
    slices = [
        rows((1, 0, "x", 1)),              # batch 0: nothing closes
        rows((1, 1, "x", 2)),              # batch 1: still nothing
        rows((1, 2, "y", 3)),              # batch 2: closes x@[1,3)
    ]
    for i, sl in enumerate(slices):
        stage = str(tmp_path / f"st_{i}")
        spark.createDataFrame(sl, schema).coalesce(1).write.parquet(stage)
        part = _glob.glob(_os.path.join(stage, "part-*.parquet"))[0]
        dst = str(src / f"s{i}.parquet")
        _shutil.move(part, dst)
        _os.utime(dst, (base_t + 10 * i, base_t + 10 * i))

    target = str(tmp_path / "t.parquet")
    q = scd2_stream_upsert(
        read_event_stream(spark, str(src), max_files_per_trigger=1),
        target,
        checkpoint=str(tmp_path / "ck"),
    )
    q.awaitTermination(120)
    got = spark.read.parquet(target).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["user_id"], r["state"], r["version"], r["n_events"]) == (
        1, "x", 1, 2,
    )
    # created partitioned despite the empty leading batches
    assert detect_partition_cols(target) == ["state"]


def test_packing_guards_and_duplicate_id_determinism(spark):
    """budget/batch_size must be validated up front (a zero from a
    config typo otherwise NULLs or aborts mid-shuffle), and offsets
    must be reproducible even when duplicate ids carry UNEQUAL token
    counts — (md5(id), id) alone was a total tie there (round-10
    review)."""
    import pytest

    from dbcut_spark.operators.packing import length_batches, pack_sequences

    df = spark.createDataFrame(
        [("d1", "s0", 100), ("d1", "s0", 7), ("d2", "s0", 3)],
        "doc_id string, source string, n_tokens long",
    )
    with pytest.raises(ValueError, match="budget"):
        pack_sequences(df, "doc_id", "n_tokens", "source", budget=0)
    with pytest.raises(ValueError, match="batch_size"):
        length_batches(df, "doc_id", "n_tokens", "source", batch_size=-1)

    def offs(frame):
        return sorted(
            (r["doc_id"], r["n_tokens"], r["start_off"])
            for r in pack_sequences(
                frame, "doc_id", "n_tokens", "source", budget=64
            ).collect()
        )

    base = offs(df)
    for n in (1, 3, 17):
        assert offs(df.repartition(n)) == base


def test_cdc_same_batch_delete_and_upsert_requires_order(spark, tmp_path):
    """Without an ordering column, a PK carrying both a delete and an
    upsert in ONE micro-batch is unresolvable — deletes applied first
    meant the upsert ALWAYS won, silently resurrecting rows whose true
    CDC order was insert-then-delete (round-10 review). The merge must
    refuse; with order_within_batch it resolves last-writer-wins."""
    import pytest

    from dbcut_spark.streaming.merge import apply_cdc_batch

    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a", "U", 1)],
                          "id long, v string, op string, seq long") \
        .drop("op", "seq").write.parquet(path)
    batch = spark.createDataFrame(
        [(1, "new", "U", 2), (1, None, "D", 3), (2, "b", "U", 1)],
        "id long, v string, op string, seq long",
    )
    with pytest.raises(ValueError, match="order_within_batch"):
        apply_cdc_batch(batch.drop("seq"), path, ["id"], op_col="op")
    # with the ordering column, the DELETE (seq 3) wins for id=1
    apply_cdc_batch(
        batch, path, ["id"], op_col="op", order_within_batch="seq"
    )
    got = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert got == [(2, "b")]
    # delete-then-insert in one batch resolves to the INSERT
    batch2 = spark.createDataFrame(
        [(2, None, "D", 10), (2, "reborn", "U", 11)],
        "id long, v string, op string, seq long",
    )
    apply_cdc_batch(
        batch2, path, ["id"], op_col="op", order_within_batch="seq"
    )
    got = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert got == [(2, "reborn")]
