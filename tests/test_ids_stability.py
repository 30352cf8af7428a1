"""Regression pins for the shuffle-free sequential-id assigner (r12
optimization): ids must stay dense and complete however the upstream plan
is partitioned, INCLUDING plans whose final stage AQE may coalesce
differently between the offset-count job and the write job (the r11
window-based assigner and the first r12 rewrite both relied on cross-job
partition-layout stability; the cache-pinned form does not)."""

import os
import tempfile
from unittest import mock

import pytest
from pyspark.sql import functions as F

from xcube_geodb_spark.operators.ids import (
    assign_sequential_ids,
    assign_sequential_ids_counted,
)


def _checked(df, start, expect_n):
    out, n, cached = assign_sequential_ids_counted(df, start=start)
    try:
        rows = out.select("id").collect()
    finally:
        if cached is not None:
            cached.unpersist()
    ids = sorted(r["id"] for r in rows)
    assert n == expect_n
    assert ids == list(range(start, start + expect_n))
    return out


class TestSequentialIds:
    def test_offsets_switch_at_the_partition_bound(self, spark):
        """Up to ``_OFFSET_MAP_MAX_ENTRIES`` partitions the offsets attach
        as a literal map; one partition more takes the broadcast join.
        Both assign the same ids."""
        import xcube_geodb_spark.operators.ids as ids_mod

        df = spark.range(0, 500, 1, 6).select(F.col("id").alias("v"))

        def run(bound):
            with mock.patch.object(ids_mod, "_OFFSET_MAP_MAX_ENTRIES", bound):
                out, _n, cached = assign_sequential_ids_counted(df, start=5)
            try:
                plan = out._jdf.queryExecution().executedPlan().toString()
                return {r["v"]: r["id"] for r in out.collect()}, "Join" in plan
            finally:
                cached.unpersist()

        at_bound, at_joins = run(6)
        below, below_joins = run(5)
        assert not at_joins and below_joins
        assert below == at_bound
        assert sorted(at_bound.values()) == list(range(5, 505))

    def test_narrow_plan(self, spark):
        df = spark.range(0, 1000, 1, 7).select(F.col("id").alias("v"))
        _checked(df, start=11, expect_n=1000)

    def test_aggregated_plan_with_shuffle(self, spark):
        # an aggregate upstream: its post-shuffle stage is what AQE
        # coalesces; the assigner must not lose rows to a partition-layout
        # disagreement between its count job and the consuming job
        df = (
            spark.range(0, 5000, 1, 16)
            .select((F.col("id") % 997).alias("k"), F.col("id").alias("v"))
            .groupBy("k")
            .agg(F.count("v").alias("c"), F.sum("v").alias("s"))
        )
        _checked(df, start=1, expect_n=997)

    def test_empty_batch(self, spark):
        df = spark.range(0).select(F.col("id").alias("v"))
        out, n, cached = assign_sequential_ids_counted(df, start=5)
        assert n == 0 and cached is None
        assert out.count() == 0
        assert "id" in out.columns

    def test_wrapper_matches_counted(self, spark):
        df = spark.range(0, 100, 1, 3).select(F.col("id").alias("v"))
        out = assign_sequential_ids(df, start=3)
        ids = sorted(r["id"] for r in out.select("id").collect())
        assert ids == list(range(3, 103))

    def test_insert_of_aggregated_batch_keeps_every_row(self, spark):
        # end-to-end pin of the bug the smoke caught: inserting an
        # aggregated (shuffle-bearing) Spark batch into a collection must
        # write every row exactly once with dense ids
        from xcube_geodb_spark.catalog import GeoDBCatalog
        from xcube_geodb_spark.operators.dml import insert_into_collection

        wh = tempfile.mkdtemp(prefix="geodb_ids_")
        cat = GeoDBCatalog(spark, wh, user="t")
        cat.create_database("t")
        cat.create_collection(
            "agg", {"k": "bigint", "c": "bigint"}, database="t"
        )
        batch = (
            spark.range(0, 3000, 1, 16)
            .select((F.col("id") % 499).alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        n = insert_into_collection(cat, "agg", batch, database="t")
        assert n == 499
        got = cat.load_df("agg", "t")
        assert got.count() == 499
        ids = sorted(r["id"] for r in got.select("id").collect())
        assert ids == list(range(1, 500))
