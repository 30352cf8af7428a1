"""r12 optimization pins: the vectorized single-ring-polygon envelope
fast path must be bit-identical to the per-row parse_wkb slow path, and
the small-commit decision must only fire when the batch's decoded size is
proved within the bound."""

from __future__ import annotations

import math
from types import SimpleNamespace

import pandas as pd
import pytest

from xcube_geodb_spark.geometry.geom import envelope, parse_wkb, parse_wkt, to_wkb


def _wkb(wkt: str) -> bytes:
    return to_wkb(parse_wkt(wkt))


WKTS = [
    "POINT (3.5 -7.25)",
    "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",  # square, 5 pts
    "POLYGON ((-1.5 2, 3 2.75, 2 9, -4 6.125, -1.5 2))",
    # 7-point ring (different byte length than the squares)
    "POLYGON ((0 0, 1 -2, 3 -1, 4 1, 2 3, -1 2, 0 0))",
    # polygon with a hole -> must take the general path
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 3 2, 3 3, 2 3, 2 2))",
    "LINESTRING (0 1, 5 -3, 2 2)",
    "MULTIPOINT ((1 1), (-2 5))",
    "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 2 2))",
]


def test_envelope_udf_fastpath_matches_slow_path():
    from xcube_geodb_spark.geometry.udfs import envelope_udf

    wkbs = [_wkb(w) for w in WKTS] + [None]
    # big-endian-ish corruption guard: flip the byte-order byte of one
    # square so the header check must reject it into the general path
    # (parse_wkb raises or handles it the same either way -> compare
    # only well-formed LE values here)
    fn = envelope_udf.func
    got = fn(pd.Series(wkbs, dtype=object))
    for i, b in enumerate(wkbs):
        if b is None:
            assert all(v is None or (isinstance(v, float) and math.isnan(v))
                       for v in got.iloc[i])
            continue
        exp = envelope(parse_wkb(b))
        assert tuple(got.iloc[i]) == pytest.approx(exp, abs=0.0), WKTS[i]


def test_envelope_udf_fastpath_mixed_lengths_order():
    """Rows of several distinct ring lengths interleaved: the per-length
    grouping must scatter results back to the right rows."""
    from xcube_geodb_spark.geometry.udfs import envelope_udf

    wkts = []
    for k in range(1, 21):
        if k % 3 == 0:
            wkts.append(f"POINT ({k} {-k})")
        elif k % 3 == 1:
            wkts.append(
                f"POLYGON (({k} 0, {k + 2} 0, {k + 2} 3, {k} 3, {k} 0))"
            )
        else:  # 6-point ring
            wkts.append(
                f"POLYGON (({k} 0, {k + 1} -1, {k + 3} 0, {k + 3} 2, "
                f"{k} 2, {k} 0))"
            )
    wkbs = [_wkb(w) for w in wkts]
    got = envelope_udf.func(pd.Series(wkbs, dtype=object))
    for i, b in enumerate(wkbs):
        assert tuple(got.iloc[i]) == envelope(parse_wkb(b)), wkts[i]


def _stub_spark(max_result_size=1 << 30, broken=False):
    """Mimics spark.sparkContext._jsc.sc().conf().getSizeAsBytes()."""

    def get_size_as_bytes(key, default):
        if broken:
            raise RuntimeError("no conf")
        assert key == "spark.driver.maxResultSize"
        return max_result_size

    conf = SimpleNamespace(getSizeAsBytes=get_size_as_bytes)
    sc = SimpleNamespace(conf=lambda: conf)
    return SimpleNamespace(
        sparkContext=SimpleNamespace(_jsc=SimpleNamespace(sc=lambda: sc))
    )


def test_fits_driver_write_bounds_bytes(monkeypatch):
    from xcube_geodb_spark.operators import dml
    from xcube_geodb_spark.operators.dml import fits_driver_write

    spark = _stub_spark()
    assert fits_driver_write(spark, 0)  # an empty batch fits
    assert fits_driver_write(spark, 256 << 20)  # bound inclusive
    assert not fits_driver_write(spark, (256 << 20) + 1)
    # a quarter of spark.driver.maxResultSize caps the bound ...
    assert not fits_driver_write(_stub_spark(400 << 20), (100 << 20) + 1)
    # ... unless the result size is unlimited (0)
    assert fits_driver_write(_stub_spark(0), 256 << 20)
    assert not fits_driver_write(_stub_spark(broken=True), 0)  # unprovable
    monkeypatch.setattr(dml, "DRIVER_BYTES", 10)
    assert not fits_driver_write(spark, 11)


def test_small_rewrite_bounds(tmp_path, monkeypatch):
    """A rewrite fits the driver when the decoded size of its touched
    files does, read from their files (no manifest stat needed)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from xcube_geodb_spark.operators import dml
    from xcube_geodb_spark.operators.dml import files_fit_driver
    from xcube_geodb_spark.operators.stats import file_arrow_bytes

    for name, n in (("a", 40), ("b", 50), ("c", 80)):
        pq.write_table(
            pa.table({"id": pa.array(range(n), pa.int64())}),
            tmp_path / f"{name}.parquet",
        )
    size = {f: file_arrow_bytes(str(tmp_path / f"{f}.parquet")) for f in "abc"}
    assert size["a"] < size["b"] < size["c"]
    catalog = SimpleNamespace(
        spark=_stub_spark(), _coll_dir=lambda coll, db: str(tmp_path)
    )

    def fits(*files):
        return files_fit_driver(
            catalog, "t", "public", [f"{f}.parquet" for f in files]
        )

    monkeypatch.setattr(dml, "DRIVER_BYTES", size["a"] + size["b"])
    assert fits("a", "b")  # bound inclusive
    assert not fits("a", "c")
    assert not fits("a", "b", "c")
    assert fits()  # nothing touched
    catalog.spark = _stub_spark(4 * size["a"])  # maxResultSize / 4
    assert fits("a") and not fits("b")


def test_single_task_append_bounds(spark, monkeypatch):
    """The counted append measures its batch's decoded size in the id
    count job; the measure bounds what ``toArrow`` collects and decides
    the single-task driver write."""
    from xcube_geodb_spark.operators import dml
    from xcube_geodb_spark.operators.dml import _arrow_row_bytes, fits_driver_write
    from xcube_geodb_spark.operators.ids import assign_sequential_ids_measured

    df = spark.createDataFrame(
        [
            (i, f"name {i % 3}" * (i % 5), bytes(i % 7), [float(i)] * (i % 4),
             ["x" * (i % 6)] if i % 2 else None, i % 2 == 0)
            for i in range(200)
        ],
        "v long, s string, b binary, a array<double>, t array<string>, f boolean",
    )
    out, n, nbytes, cached = assign_sequential_ids_measured(
        df, _arrow_row_bytes(df.schema) + 17
    )
    try:
        assert n == 200
        assert nbytes >= out.toArrow().nbytes
        assert fits_driver_write(spark, nbytes)
        monkeypatch.setattr(dml, "DRIVER_BYTES", nbytes - 1)
        assert not fits_driver_write(spark, nbytes)
    finally:
        cached.unpersist()


def test_pandas_batch_size_bound_counts_array_elements(spark):
    """pandas memory counts a list cell without its elements; the pandas
    insert's size bound must still cover what ``toArrow`` collects."""
    import numpy as np

    from xcube_geodb_spark.operators.dml import _pandas_arrow_bytes

    schema = "v long, s string, t array<string>, e array<double>"
    pdf = pd.DataFrame(
        {
            "v": range(50),
            "s": ["x" * (i % 4) for i in range(50)],
            "t": [["y" * 500] * (i % 3) if i % 5 else None for i in range(50)],
            "e": [np.full(64, float(i)) for i in range(50)],
        }
    )
    df = spark.createDataFrame(pdf, schema)
    assert pdf.memory_usage(deep=True, index=False).sum() < df.toArrow().nbytes
    assert _pandas_arrow_bytes(pdf, df.schema) >= df.toArrow().nbytes
