"""r12 optimization pins for functions/spread.spread_small: fires only on
provably-small inputs, never changes results, and leaves big/unknown
inputs untouched."""

from __future__ import annotations

import pytest




@pytest.fixture(scope="module")
def small_df(spark):
    return spark.range(100).selectExpr(
        "id AS doc_id", "concat('word a b c d ', id) AS text"
    )


def test_spread_fires_on_small_input(spark, small_df):
    from xcube_geodb_spark.functions.spread import spread_small

    out = spread_small(small_df)
    par = spark.sparkContext.defaultParallelism
    # r13 sizing: a tiny estimate floors at defaultParallelism (every
    # core busy, half the r12 task count) and never exceeds 2x
    n = out.rdd.getNumPartitions()
    assert par <= n <= 2 * par


def test_spread_partition_cap_env(monkeypatch, spark, small_df):
    from xcube_geodb_spark.functions.spread import spread_small

    # the hard cap binds below parallelism when forced
    monkeypatch.setenv("SPARK_GRAFT_SPREAD_MAX_PARTS", "3")
    assert spread_small(small_df).rdd.getNumPartitions() == 3
    monkeypatch.delenv("SPARK_GRAFT_SPREAD_MAX_PARTS")
    # byte-keyed term: with a 1-byte task grain the 2x-parallelism cap
    # binds again (estimate >> 2*par bytes)
    monkeypatch.setenv("SPARK_GRAFT_SPREAD_TASK_BYTES", "1")
    par = spark.sparkContext.defaultParallelism
    assert spread_small(small_df).rdd.getNumPartitions() == 2 * par


@pytest.mark.parametrize(
    "name", ["SPARK_GRAFT_SPREAD_MAX_PARTS", "SPARK_GRAFT_SPREAD_TASK_BYTES"]
)
def test_spread_malformed_env_falls_back_to_default(
    monkeypatch, spark, small_df, name
):
    from xcube_geodb_spark.functions.spread import spread_small

    want = spread_small(small_df).rdd.getNumPartitions()
    for bad in ("lots", "2.5", ""):
        monkeypatch.setenv(name, bad)
        assert spread_small(small_df).rdd.getNumPartitions() == want


def test_spread_malformed_threshold_env_falls_back(monkeypatch, small_df):
    from xcube_geodb_spark.functions.spread import spread_small

    monkeypatch.setenv("SPARK_GRAFT_SPREAD_SMALL_BYTES", "256MB")
    assert spread_small(small_df) is not small_df  # default 256 MB bound


def test_spread_nonpositive_cap_clamps_to_one_partition(monkeypatch, small_df):
    from xcube_geodb_spark.functions.spread import spread_small

    for cap in ("0", "-4"):
        monkeypatch.setenv("SPARK_GRAFT_SPREAD_MAX_PARTS", cap)
        assert spread_small(small_df).rdd.getNumPartitions() == 1
    monkeypatch.delenv("SPARK_GRAFT_SPREAD_MAX_PARTS")
    assert spread_small(small_df, partitions=0).rdd.getNumPartitions() == 1


def test_spread_skips_big_estimate(small_df):
    from xcube_geodb_spark.functions.spread import spread_small

    out = spread_small(small_df, threshold=0)  # nothing is <= 0 bytes
    assert out is small_df


def test_spread_preserves_rows(small_df):
    from xcube_geodb_spark.functions.spread import spread_small

    a = sorted((r["doc_id"], r["text"]) for r in small_df.collect())
    b = sorted(
        (r["doc_id"], r["text"])
        for r in spread_small(small_df, partitions=7).collect()
    )
    assert a == b


def test_spread_threshold_env_override(monkeypatch, small_df):
    from xcube_geodb_spark.functions import spread

    monkeypatch.setenv("SPARK_GRAFT_SPREAD_SMALL_BYTES", "1")
    assert spread.spread_small(small_df) is small_df


def test_shingle_table_unchanged_by_spread(spark, small_df):
    """The dedup entry spread must not alter shingle sets."""
    from xcube_geodb_spark.functions.dedup import shingle_table

    rows = {
        r["doc_id"]: r["sh"] for r in shingle_table(small_df).collect()
    }
    assert rows[0] == ["word a b", "a b c", "b c d", "c d 0"]
    assert len(rows) == 100
