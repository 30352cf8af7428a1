"""r13 commit-path fixed-cost optimizations: result-equality pins.

Two driver-latency rewrites must be bit-identical to the spellings they
replace:

- ``zorder_key_sql`` (one parsed expression) vs ``zorder_key`` (Column
  API) — same interleaved-bit key for every coordinate, including
  out-of-bounds clamps and NULLs.
- the literal ``element_at(map(...))`` id-offset attach vs the
  broadcast-join fallback — same dense sequence, same row->id mapping,
  stable across re-evaluations of the same cached batch.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import spark  # noqa: F401  (session fixture)


def test_zorder_key_sql_matches_column_api(spark):
    from xcube_geodb_spark.plans.layout import zorder_key, zorder_key_sql

    import random

    rnd = random.Random(7)
    rows = [
        (rnd.uniform(-200.0, 200.0), rnd.uniform(-100.0, 100.0))
        for _ in range(2000)
    ]
    # exact bounds, the origin, out-of-bounds clamps, NULL, non-finite
    rows += [
        (-180.0, -90.0),
        (180.0, 90.0),
        (0.0, 0.0),
        (181.0, -91.0),
        (-999.0, 999.0),
        (None, 5.0),
        (float("nan"), 1.0),
        (float("inf"), float("-inf")),
    ]
    df = spark.createDataFrame(rows, "x double, y double").repartition(7)
    col_keys = [
        r["k"]
        for r in df.select(
            zorder_key(F.col("x"), F.col("y")).alias("k")
        ).collect()
    ]
    sql_keys = [
        r["k"]
        for r in df.select(F.expr(zorder_key_sql("x", "y")).alias("k")).collect()
    ]
    assert col_keys == sql_keys
    # non-default bounds/bits agree too
    b = (-10.0, -5.0, 10.0, 5.0)
    col_keys = [
        r["k"]
        for r in df.select(
            zorder_key(F.col("x"), F.col("y"), bounds=b, bits=8).alias("k")
        ).collect()
    ]
    sql_keys = [
        r["k"]
        for r in df.select(
            F.expr(zorder_key_sql("x", "y", bounds=b, bits=8)).alias("k")
        ).collect()
    ]
    assert col_keys == sql_keys


def test_id_offsets_literal_map_matches_broadcast_join(spark):
    import xcube_geodb_spark.operators.ids as ids_mod

    src = (
        spark.range(0, 3000)
        .select(F.col("id").alias("v"))
        .repartition(5)
    )
    out, n, cache = ids_mod.assign_sequential_ids_counted(src, start=11)
    try:
        assert n == 3000
        rows = {r["v"]: r["id"] for r in out.collect()}
        assert sorted(rows.values()) == list(range(11, 11 + 3000))
        # re-evaluation reproduces the same mapping (cache-pinned layout)
        rows2 = {r["v"]: r["id"] for r in out.collect()}
        assert rows == rows2
    finally:
        if cache is not None:
            cache.unpersist()

    # force the broadcast-join fallback; identical mapping
    old = ids_mod._OFFSET_MAP_MAX_ENTRIES
    ids_mod._OFFSET_MAP_MAX_ENTRIES = 0
    try:
        out_bj, n_bj, cache_bj = ids_mod.assign_sequential_ids_counted(
            src, start=11
        )
        try:
            assert n_bj == 3000
            rows_bj = {r["v"]: r["id"] for r in out_bj.collect()}
            assert rows_bj == rows
        finally:
            if cache_bj is not None:
                cache_bj.unpersist()
    finally:
        ids_mod._OFFSET_MAP_MAX_ENTRIES = old


def test_id_offsets_fallback_plan_has_no_python_workers(spark):
    """The Arrow-backed fallback must not put a Python-worker stage on the
    offsets side (the r12 regression this round removed): no
    BatchEvalPython/ArrowEvalPython anywhere in the id-attach plan."""
    import xcube_geodb_spark.operators.ids as ids_mod

    src = spark.range(0, 100).repartition(3)
    old = ids_mod._OFFSET_MAP_MAX_ENTRIES
    ids_mod._OFFSET_MAP_MAX_ENTRIES = 0
    try:
        out, _n, cache = ids_mod.assign_sequential_ids_counted(src, start=1)
        try:
            # the r12 regression put a Python-worker stage (BatchEvalPython
            # over a pickled RDD) on the offsets side; the Arrow-backed
            # fallback must keep the whole id-attach plan Python-free
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "EvalPython" not in plan
        finally:
            if cache is not None:
                cache.unpersist()
    finally:
        ids_mod._OFFSET_MAP_MAX_ENTRIES = old
