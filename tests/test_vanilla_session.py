"""Harness-session contract: every correctness-critical behavior must
hold on a VANILLA SparkSession (no repo confs), because the driver's
correctness gate builds its own session — round 1 lost 5 events_*
queries to a conf (`nanosAsLong`) that only `dbcut_spark.session`
set.

The subprocess is deliberate: `getOrCreate()` inside this pytest
process would reuse the repo-configured session and hide the bug.
"""

import json
import subprocess
import sys

SCRIPT = r"""
import json, sys
from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[4]").appName("vanilla-contract").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

sys.path.insert(0, "/root/repo")
import __spark_entry__ as entry

out = {}
qs = entry.queries()
# one representative per family that could plausibly depend on session
# state: ns-timestamp reads, windows+state, md5 hashing, driver-side
# union-find + composed joins, artifact-loaded centroids, JSON
# extraction, exact percentiles
for name in [
    "events_hourly",
    "events_sessionize",
    "tpch_q1",
    "dedup_simhash",
    "corpus_curate",
    "ann_ivf_topk",
    "events_json_extract",
    "corpus_stats",
]:
    df = qs[name](spark, "/root/testdata/sf0.001")
    out[name] = {"rows": df.count(), "cols": df.columns}

# Timezone contract: the harness machine may run in any zone; hour
# buckets must still equal the naive (wall-clock) parquet timestamps
# the DuckDB oracle sees. Collect one boundary value to check.
from pyspark.sql import functions as F

hourly = qs["events_hourly"](spark, "/root/testdata/sf0.001")
# date_format renders in the session timezone (pinned UTC by
# read_table), so this string is the wall-clock bucket the plan
# computed — independent of the driver-side collect() conversion,
# which uses the OS zone and is not part of the engine contract.
probe = hourly.agg(
    F.min(F.date_format("hour_start", "yyyy-MM-dd HH:mm:ss")).alias("h")
).first()["h"]
out["_tz_probe"] = {"hour_start": probe}

# entry() must also run on a vanilla session (the driver smoke-check)
edf = entry.entry(spark)
out["entry"] = {"rows": edf.count(), "cols": edf.columns}
print("RESULT:" + json.dumps(out))
"""


def test_queries_run_on_vanilla_session():
    # TZ is pinned to a non-UTC zone to model a harness machine that is
    # not running in UTC: read_table must pin spark.sql.session.timeZone
    # itself or every hour/date/window bucket shifts vs the naive DuckDB
    # oracle timestamps (ADVICE round 2).
    import os

    env = dict(os.environ, TZ="America/Anchorage")
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert proc.returncode == 0, f"stderr tail:\n{proc.stderr[-3000:]}"
    line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT:")][0]
    out = json.loads(line[len("RESULT:"):])
    for name, info in out.items():
        if name.startswith("_"):
            continue
        assert info["rows"] >= 0, name
    assert out["events_hourly"]["rows"] > 0
    assert out["corpus_curate"]["rows"] > 0
    assert out["ann_ivf_topk"]["rows"] > 0
    assert out["entry"]["rows"] >= 0

    # The wall-clock hour bucket the oracle computes on naive timestamps.
    import duckdb

    expected = duckdb.sql(
        "SELECT CAST(min(date_trunc('hour', ts)) AS VARCHAR) "
        "FROM read_parquet('/root/testdata/sf0.001/events.parquet')"
    ).fetchone()[0]
    got = out["_tz_probe"]["hour_start"]
    assert got == expected, f"tz-shifted hour bucket: spark={got} oracle={expected}"


def test_default_driver_memory_is_half_of_physical_at_most_48g():
    from dbcut_spark.session import default_driver_memory

    assert default_driver_memory(15 * 2**30) == "7680m"
    assert default_driver_memory(96 * 2**30) == "49152m"
    assert default_driver_memory(512 * 2**30) == "49152m"
