"""Replay property of the parquet insert-ignore writer: any sequence of
batches drawn from a small key space — empty, all-duplicate and
overlapping batches, with crash leftovers planted between calls —
reads back as the first-writer-wins union by PK."""

from __future__ import annotations

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from dbcut_spark.sinks.insert_ignore import insert_ignore_parquet

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("batch", T.LongType()),
    ]
)

# one step: the batch's keys (duplicates and the empty list allowed),
# whether to replay the previous batch's keys instead (an all-duplicate
# batch), and whether to plant a crash leftover before the call
STEP = st.tuples(
    st.lists(st.integers(0, 7), max_size=6),
    st.booleans(),
    st.booleans(),
)


def _parquet_files(path: str) -> int:
    return sum(1 for n in os.listdir(path) if n.endswith(".parquet"))


def _plant_torn_staging(path: str) -> None:
    """A staged rewrite that died mid-write: ``.__staging__`` holding a
    partial part-file and no ``_SUCCESS`` marker."""
    staged = path + ".__staging__"
    os.makedirs(staged, exist_ok=True)
    with open(os.path.join(staged, "part-00000-torn.parquet"), "wb") as f:
        f.write(b"PAR1")


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(steps=st.lists(STEP, min_size=1, max_size=5))
def test_insert_ignore_replay_is_first_writer_wins(
    spark, tmp_path_factory, steps
):
    path = str(tmp_path_factory.mktemp("ii") / "tbl")
    expected: dict[int, int] = {}  # key -> index of its first batch
    returned = 0
    prev: list[int] = []
    for i, (keys, replay, plant) in enumerate(steps):
        if replay:
            keys = prev
        prev = keys
        existed = os.path.exists(path)
        if plant and existed:
            _plant_torn_staging(path)
        files_before = _parquet_files(path) if existed else 0
        df = spark.createDataFrame([(k, i) for k in keys], SCHEMA)
        n = insert_ignore_parquet(spark, df, path, ["k"])
        assert not os.path.exists(path + ".__staging__")
        returned += n
        for k in keys:
            expected.setdefault(k, i)
        # a zero-row call on an existing table leaves no stub behind
        # (first contact keeps its stub: it carries the schema)
        if n == 0 and existed:
            assert _parquet_files(path) == files_before
    got = spark.read.parquet(path).collect()
    assert sorted((r.k, r.batch) for r in got) == sorted(expected.items())
    assert returned == len(expected)
