"""The programmatic façade must behave exactly like the CLI path: same
closure rows, idempotent load, nested docs, SQL dump."""

from dbcut_spark.api import Engine

QUERY = {
    "from": "customer",
    "where": {"c_mktsegment": "BUILDING"},
    "limit": 5,
    "join_depth": 2,
    "backref_depth": 1,
    "backref_limit": 3,
    "exclude": ["events", "part", "supplier"],
}


def test_engine_extract_load_roundtrip(spark, sf_dir, tmp_path):
    eng = Engine(sf_dir, spark=spark)
    plan = eng.plan(QUERY)
    assert "customer" in plan.tree.render()

    frames = eng.extract(QUERY)
    assert frames["customer"].count() == 5
    assert set(frames) >= {"customer", "nation", "region", "orders"}

    dest = str(tmp_path / "target")
    counts = eng.load(frames, dest)
    assert counts["customer"] == 5
    # idempotent second load
    frames2 = eng.extract(QUERY)
    counts2 = eng.load(frames2, dest)
    assert counts2["customer"] == 0

    docs = eng.nested_json(QUERY)
    assert docs.count() == 5

    stmts = list(eng.sql_dump(QUERY))
    assert stmts[0] == "BEGIN;" and stmts[-1] == "COMMIT;"
    assert any("INSERT OR IGNORE" in s for s in stmts)


def test_engine_sql_dump_carries_catalog_defaults(spark, sf_dir):
    """Reflected server defaults in the catalog must reach the dump DDL
    (verbatim SQL expressions, current-timestamp rewritten) — the
    end-to-end path for the reference's server_default preservation."""
    eng = Engine(sf_dir, spark=spark)
    # the Engine shares the module-level TPCH_CATALOG singleton —
    # restore the mutated specs so no defaults leak into later tests
    saved = {
        t: dict(eng.catalog.table(t).defaults) for t in ("customer", "nation")
    }
    try:
        eng.catalog.table("customer").defaults = {
            "c_mktsegment": "'BUILDING'",
            "c_acctbal": "0.0",
        }
        eng.catalog.table("nation").defaults = {"n_name": "current_timestamp()"}
        stmts = list(eng.sql_dump(QUERY))
        ddl = {s.split('"')[1]: s for s in stmts if s.startswith("CREATE TABLE")}
        assert "\"c_mktsegment\" TEXT DEFAULT 'BUILDING'" in ddl["customer"]
        assert '"c_acctbal" DOUBLE PRECISION DEFAULT 0.0' in ddl["customer"]
        assert '"n_name" TEXT DEFAULT CURRENT_TIMESTAMP' in ddl["nation"]
        assert "current_timestamp()" not in ddl["nation"]
    finally:
        for t, d in saved.items():
            eng.catalog.table(t).defaults = d


def test_load_tables_helper(spark, sf_dir):
    """session.load_tables loads the harness tables as a name->frame
    dict and silently skips absent files."""
    from dbcut_spark.session import load_tables

    frames = load_tables(spark, sf_dir, ["region", "nation", "no_such"])
    assert set(frames) == {"region", "nation"}
    assert frames["region"].count() == 5


def test_engine_upsert_and_delete_keys(spark, sf_dir, tmp_path):
    """The beyond-reference mutation surface through the Engine facade:
    MERGE parents-first, delete children-first, per-table counts."""
    from pyspark.sql import functions as F2

    from dbcut_spark.api import Engine

    eng = Engine(sf_dir, spark=spark, config={"cache": str(tmp_path / "c")})
    dest = str(tmp_path / "tgt")
    frames = eng.extract({"from": "nation", "limit": 10, "join_depth": 1,
                          "backref_depth": 0})
    eng.load(frames, dest)

    loaded = spark.read.parquet(f"{dest}/nation.parquet")
    delta = {
        "nation": loaded.orderBy("n_nationkey")
        .limit(3)
        .withColumn("n_name", F2.lit("PATCHED"))
    }
    res = eng.upsert(delta, dest)
    assert res["nation"] == (3, 0)
    got = spark.read.parquet(f"{dest}/nation.parquet")
    assert got.filter(F2.col("n_name") == "PATCHED").count() == 3

    keys = {"nation": got.limit(2).select("n_nationkey")}
    deleted = eng.delete_keys(keys, dest)
    assert deleted["nation"] == 2
    assert spark.read.parquet(f"{dest}/nation.parquet").count() == 8


def test_engine_compact(spark, sf_dir, tmp_path):
    from dbcut_spark.api import Engine
    from dbcut_spark.sinks.compact import data_file_stats

    eng = Engine(sf_dir, spark=spark, config={"cache": str(tmp_path / "c")})
    dest = str(tmp_path / "tgt")
    frames = eng.extract({"from": "nation", "limit": 25, "join_depth": 0,
                          "backref_depth": 0})
    # two appends fragment the target: an insert writes one file per
    # write task, and a 25-row frame is a single task after AQE
    nation = frames["nation"]
    eng.load({"nation": nation.filter("n_nationkey < 12")}, dest)
    eng.load({"nation": nation.filter("n_nationkey >= 12")}, dest)
    path = f"{dest}/nation.parquet"
    assert data_file_stats(path)[0] >= 2
    # threshold mode: already-healthy average skips the rewrite
    skip = eng.compact(dest, min_frag_mb=0.0000001)
    assert skip["nation"]["skipped"] is True
    assert data_file_stats(path)[0] >= 2
    stats = eng.compact(dest)
    assert stats["nation"]["files_after"] == 1
    assert spark.read.parquet(path).count() == 25


def test_engine_sync_and_replicate(spark, sf_dir, tmp_path):
    """Engine facade twins of cli sync/replicate."""
    from dbcut_spark.sinks.manifest import read_snapshot

    eng = Engine(sf_dir, spark=spark)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 10), (2, 20)], "id int, cur int"
    ).write.parquet(src)
    tgt = str(tmp_path / "tgt")
    r = eng.sync(src, tgt, "cur", pk=["id"])
    assert r["mode"] == "bootstrap" and r["rows"] == 2
    assert eng.sync(src, tgt, "cur", pk=["id"])["mode"] == "noop"
    dst = str(tmp_path / "replica")
    r2 = eng.replicate(tgt, dst)
    assert r2["mode"] == "bootstrap" and r2["rows"] == 2
    assert sorted(
        x["id"] for x in read_snapshot(spark, dst).collect()
    ) == [1, 2]
    import pytest as _pt

    with _pt.raises(ValueError, match="jdbc"):
        eng.sync(src, tgt, "cur", table="nope")
