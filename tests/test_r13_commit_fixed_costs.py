"""r13 commit-path fixed-cost optimizations: result-equality pins.

Two driver-latency rewrites must be bit-identical to the spellings they
replace:

- the commit path's key (quantized coordinates projected once, one
  parsed interleave expression over them) vs ``zorder_key`` (Column
  API) — same interleaved-bit key for every coordinate, including
  out-of-bounds clamps, NULLs, NaN, +-inf and the bounds' edges.
- the literal ``element_at(map(...))`` id-offset attach vs the
  broadcast-join fallback — same dense sequence, same row->id mapping,
  stable across re-evaluations of the same cached batch.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import spark  # noqa: F401  (session fixture)


def _sql_keys(df, bounds=(-180.0, -90.0, 180.0, 90.0), bits=16):
    """Keys as the commit path builds them: the quantized coordinates
    projected once as columns, the interleave over their references."""
    from xcube_geodb_spark.plans.layout import (
        zorder_interleave_sql,
        zorder_quantize_sql,
    )

    xmin, ymin, xmax, ymax = bounds
    q = df.withColumns(
        {
            "__qx": F.expr(zorder_quantize_sql("x", xmin, xmax, bits)),
            "__qy": F.expr(zorder_quantize_sql("y", ymin, ymax, bits)),
        }
    )
    return [
        r["k"]
        for r in q.select(
            F.expr(zorder_interleave_sql("__qx", "__qy", bits)).alias("k")
        ).collect()
    ]


def test_zorder_key_sql_matches_column_api(spark):
    from xcube_geodb_spark.plans.layout import zorder_key

    import random

    rnd = random.Random(7)
    rows = [
        (rnd.uniform(-200.0, 200.0), rnd.uniform(-100.0, 100.0))
        for _ in range(2000)
    ]
    inf = float("inf")
    nan = float("nan")
    # exact bounds, the origin, out-of-bounds clamps, NULL, non-finite
    rows += [
        (-180.0, -90.0),
        (180.0, 90.0),
        (0.0, 0.0),
        (-0.0, -0.0),
        (181.0, -91.0),
        (-999.0, 999.0),
        (None, 5.0),
        (None, None),
        (nan, 1.0),
        (nan, nan),
        (inf, -inf),
        (-inf, inf),
        (inf, nan),
        # one ULP inside and outside each bound
        (179.99999999999997, 89.99999999999999),
        (180.00000000000003, 90.00000000000001),
        (-179.99999999999997, -89.99999999999999),
        (-180.00000000000003, -90.00000000000001),
    ]
    # quantization cell edges, where rounding decides the level
    rows += [
        (-180.0 + 360.0 * k / 65536, -90.0 + 180.0 * k / 65536)
        for k in (1, 2, 255, 256, 32767, 32768, 65535)
    ]
    df = spark.createDataFrame(rows, "x double, y double").repartition(7)
    col_keys = [
        r["k"]
        for r in df.select(
            zorder_key(F.col("x"), F.col("y")).alias("k")
        ).collect()
    ]
    assert col_keys == _sql_keys(df)
    # non-default bounds/bits agree too
    b = (-10.0, -5.0, 10.0, 5.0)
    col_keys = [
        r["k"]
        for r in df.select(
            zorder_key(F.col("x"), F.col("y"), bounds=b, bits=8).alias("k")
        ).collect()
    ]
    assert col_keys == _sql_keys(df, bounds=b, bits=8)


def test_commit_clustering_orders_by_zorder_key(spark, tmp_path):
    """The commit path's clustering (catalog._apply_clustering) orders rows
    by the Column-API key and drops its temporary key columns."""
    from xcube_geodb_spark.catalog import GeoDBCatalog
    from xcube_geodb_spark.plans.layout import zorder_key

    import random

    cat = GeoDBCatalog(spark, str(tmp_path / "wh"), user="z")
    cat.create_database("z")
    cat.create_collection("c", {"v": "int"}, database="z")
    m = cat.meta("c", "z")
    rnd = random.Random(3)
    rows = []
    for i in range(500):
        x, y = rnd.uniform(-185.0, 185.0), rnd.uniform(-95.0, 95.0)
        rows.append((i, x, y, x + rnd.uniform(0, 2), y + rnd.uniform(0, 2)))
    rows += [(500, float("nan"), 0.0, 1.0, 1.0), (501, None, None, None, None)]
    df = spark.createDataFrame(rows, "v long, __xmin double, __ymin double, __xmax double, __ymax double")
    clustered, cached = cat._apply_clustering(df, m, local_batch=True)
    assert cached is None
    assert clustered.columns == df.columns
    got = [r["v"] for r in clustered.collect()]
    keyed = df.select(
        "v",
        zorder_key(
            (F.col("__xmin") + F.col("__xmax")) / 2,
            (F.col("__ymin") + F.col("__ymax")) / 2,
        ).alias("k"),
    ).collect()
    keys = {r["v"]: r["k"] for r in keyed}
    assert sorted(got) == list(range(502))
    assert [keys[v] for v in got] == sorted(keys.values())


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


def test_zorder_key_arrow_matches_the_commit_key(spark):
    """The numpy key of the envelope centres, which sorts a driver-lane
    rewrite, equals the key the commit path clusters a Spark batch by."""
    import random

    import pyarrow as pa

    from xcube_geodb_spark.plans.layout import (
        zorder_interleave_sql,
        zorder_key_arrow,
        zorder_quantize_sql,
    )

    rnd = random.Random(11)
    rows = []
    for _ in range(2000):
        x, y = rnd.uniform(-200.0, 200.0), rnd.uniform(-100.0, 100.0)
        rows.append((x, x + rnd.uniform(0, 3), y, y + rnd.uniform(0, 3)))
    odd = [
        -180.0, 180.0, 0.0, -0.0, 181.0, -999.0, None, float("nan"),
        float("inf"), -float("inf"), 1e14, -1e14, 1e17, -1e17, 1e308,
        179.99999999999997, 180.00000000000003, -90.00000000000001,
        *(-180.0 + 360.0 * k / 65536 for k in (1, 255, 32768, 65535)),
    ]
    rows += [(a, a, b, b) for a in odd for b in odd[::-1]]
    names = ["__xmin", "__xmax", "__ymin", "__ymax"]
    df = spark.createDataFrame(rows, ", ".join(f"{n} double" for n in names))
    q = df.withColumns(
        {
            "__qx": F.expr(zorder_quantize_sql("(__xmin + __xmax) / 2", -180.0, 180.0)),
            "__qy": F.expr(zorder_quantize_sql("(__ymin + __ymax) / 2", -90.0, 90.0)),
        }
    )
    want = [r["k"] for r in q.select(F.expr(zorder_interleave_sql("__qx", "__qy")).alias("k")).collect()]
    table = pa.table({n: pa.array([r[i] for r in rows], pa.float64()) for i, n in enumerate(names)})
    assert zorder_key_arrow(table).tolist() == want
