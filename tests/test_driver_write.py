"""Small commits write their parquet files on the driver
(``catalog.write_local_parquet``): the files must read back exactly as the
distributed Spark write's do, split like ``maxRecordsPerFile``, leave no
output-committer debris, and cost one Spark job per commit."""

from __future__ import annotations

import datetime as dt
import math
import os
from unittest import mock

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from xcube_geodb_spark.catalog import _PG_TO_SPARK, _atomic_write_json
from xcube_geodb_spark.client import GeoDBSparkClient
from xcube_geodb_spark.geometry.geom import envelope, parse_wkt, to_wkb
from xcube_geodb_spark.operators import dml

NAN, INF = float("nan"), float("inf")

# edge values per Spark type; row i takes value i % len of each list
_VALUES = {
    T.LongType(): [0, -1, 2**62, -(2**63), None],
    T.ShortType(): [0, -32768, 32767, None],
    T.IntegerType(): [0, -(2**31), 2**31 - 1, None],
    T.DoubleType(): [0.0, -0.0, NAN, INF, -INF, 1e-308, 7.5, None],
    T.FloatType(): [0.0, NAN, INF, -INF, 3.0e38, 6.5, None],
    T.DateType(): [
        dt.date(1500, 1, 1),  # before the 1582 Gregorian switch
        dt.date(1582, 10, 10),
        dt.date(1970, 1, 1),
        dt.date(9999, 12, 31),
        None,
    ],
    T.TimestampType(): [
        dt.datetime(1500, 1, 1),  # outside pandas' datetime64[ns] (1677-2262)
        dt.datetime(1900, 1, 1, 0, 0, 0),
        dt.datetime(2200, 1, 1, 12, 34, 56, 789012),  # after 2100
        dt.datetime(1970, 1, 1),
        None,
    ],
    T.StringType(): ["", "Ljubljana — čćžšđ 東京 🌍", "plain", None],
    T.BooleanType(): [True, False, None],
    T.BinaryType(): [b"", b"\x00\xff\x01", None],
    T.ArrayType(T.FloatType()): [[], [1.0, NAN, INF], None, [None, 2.5]],
    T.ArrayType(T.DoubleType()): [[-INF, NAN], [], None, [None, 0.5]],
    T.ArrayType(T.LongType()): [[], [1, None, -5], None],
    T.ArrayType(T.StringType()): [[], ["", "ä", None], None],
}
_GEOMS = [
    "POINT (14.5 46.05)",
    "POLYGON ((14 46, 14.1 46, 14.1 46.1, 14 46.1, 14 46))",
    None,
    "LINESTRING (13 45, 13.5 45.5)",
]


def _props() -> dict[str, str]:
    """One property per distinct Spark type of the PG type map."""
    out: dict[str, str] = {}
    seen = set()
    for pg, st in _PG_TO_SPARK.items():
        if st.simpleString() not in seen:
            seen.add(st.simpleString())
            out[f"c_{len(out)}"] = pg
    return out


def _client(spark, tmp_path) -> GeoDBSparkClient:
    # the user's own database "dw" comes with the client
    return GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh"), user="dw")


def _source(spark, cat, props, n=40):
    """Every row of the collection schema, system columns included."""
    m = cat.meta("ref", "dw")
    schema = m.spark_schema(include_system=True)
    rows = []
    for i in range(n):
        wkt = _GEOMS[i % len(_GEOMS)]
        g = parse_wkt(wkt) if wkt else None
        env = [None] * 4 if g is None else list(envelope(g))
        row = {
            "id": i + 1,
            "created_at": dt.datetime(2024, 5, 1, 8, 0, i % 60),
            "modified_at": None if i % 3 else dt.datetime(2024, 5, 2),
            "geometry": to_wkb(g, srid=0) if g is not None else None,
            "__xmin": env[0],
            "__ymin": env[1],
            "__xmax": env[2],
            "__ymax": env[3],
        }
        for f in schema.fields:
            if f.name in props:
                vals = _VALUES[f.dataType]
                row[f.name] = vals[i % len(vals)]
        rows.append(tuple(row[f.name] for f in schema.fields))
    return spark.createDataFrame(rows, schema)


def _comparable(pdf: pd.DataFrame) -> pd.DataFrame:
    """Cells as reprs: NaN, +-inf, -0.0, bytes and arrays compare exactly."""
    out = pdf.copy()
    if "geometry" in out.columns:
        out["geometry"] = out["geometry"].map(
            lambda g: None if g is None else to_wkb(g, srid=0)
        )
    for c in out.columns:
        out[c] = out[c].map(
            lambda v: repr(list(v)) if hasattr(v, "__len__") and not isinstance(
                v, (str, bytes, bytearray)
            ) else repr(v)
        )
    return out


def _data_entries(cat, coll, db):
    root = os.path.join(cat._coll_dir(coll, db), "data")
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            yield os.path.relpath(os.path.join(d, name), root)


def _written_by_spark(path: str) -> bool:
    return b"org.apache.spark.version" in (
        pq.ParquetFile(path).metadata.metadata or {}
    )


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn`` runs, from the status tracker."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    fn()
    bus.waitUntilEmpty()
    return len(set(sc.statusTracker().getJobIdsForGroup(None)) - before)


def test_driver_write_reads_back_as_spark_write(spark, tmp_path):
    c = _client(spark, tmp_path)
    cat = c.catalog
    props = _props()
    for name in ("ref", "drv", "spk"):
        c.create_collection(name, props, database="dw")
    src = _source(spark, cat, props)
    cat.commit_version("drv", "dw", src, max_id=40, local_batch=True)
    cat.commit_version("spk", "dw", src, max_id=40, local_batch=False)

    drv_files = cat.meta("drv", "dw").files
    assert len(drv_files) == 1
    assert not _written_by_spark(os.path.join(cat._coll_dir("drv", "dw"), drv_files[0]))
    a = c.get_collection("drv", database="dw").sort_values("id", ignore_index=True)
    b = c.get_collection("spk", database="dw").sort_values("id", ignore_index=True)
    assert len(a) == 40
    assert list(a.columns) == list(b.columns)
    pd.testing.assert_frame_equal(_comparable(a), _comparable(b))

    # footer and manifest stats may not hide a row: NaN orders above
    # every number in Spark SQL, so a NaN row matches ``> v``
    dbl, real, date, ts = (
        next(k for k, v in props.items() if _PG_TO_SPARK[v] == t)
        for t in (T.DoubleType(), T.FloatType(), T.DateType(), T.TimestampType())
    )
    for q in (
        f"{dbl}=gt.5",
        f"{real}=gt.5",
        f"{dbl}=lt.1",
        f"{date}=lt.1600-01-01",
        f"{ts}=gt.2100-01-01",
    ):
        a = c.get_collection("drv", q, database="dw").sort_values("id", ignore_index=True)
        b = c.get_collection("spk", q, database="dw").sort_values("id", ignore_index=True)
        assert len(a), q
        pd.testing.assert_frame_equal(_comparable(a), _comparable(b))


def test_nan_row_is_not_pruned_by_driver_written_stats(spark, tmp_path):
    """NaN orders above every number in Spark SQL, so ``x > 5`` selects
    the NaN row. Min/max without it ([1, 2]) would let manifest pruning
    and parquet pushdown drop the file."""
    c = _client(spark, tmp_path)
    c.create_collection("n", {"x": "float", "r": "real"}, database="dw")
    schema = c.catalog.meta("n", "dw").spark_schema(include_system=True)
    rows = [(1.0, 1.0), (NAN, 2.0), (2.0, NAN)]  # pandas would make NaN NULL
    batch = spark.createDataFrame(
        [(i, None, None, None, x, r, None, None, None, None) for i, (x, r) in enumerate(rows)],
        schema,
    )
    c.catalog.commit_version("n", "dw", batch, max_id=3, local_batch=True)
    for q in ("x=gt.5", "r=gt.5"):
        got = c.get_collection("n", q, database="dw")
        assert len(got) == 1, q
        assert math.isnan(got[q[0]].iloc[0])


def test_driver_write_splits_at_max_file_rows(spark, tmp_path):
    c = _client(spark, tmp_path)
    cat = c.catalog
    c.create_collection("s", {"v": "int"}, database="dw")
    m = cat.meta("s", "dw")
    m.d["max_file_rows"] = 7
    _atomic_write_json(m.path, m.d)
    src = spark.createDataFrame(
        [(i, None, None, None, i, None, None, None, None) for i in range(1, 31)],
        cat.meta("s", "dw").spark_schema(include_system=True),
    )
    cat.commit_version("s", "dw", src, max_id=30, local_batch=True)
    files = cat.meta("s", "dw").files
    assert [f.rsplit("-", 1)[1] for f in files] == [
        f"c{i:03d}.snappy.parquet" for i in range(5)
    ]
    assert len({os.path.dirname(f) for f in files}) == 1
    cdir = cat._coll_dir("s", "dw")
    assert [pq.ParquetFile(os.path.join(cdir, f)).metadata.num_rows for f in files] == [
        7, 7, 7, 7, 2
    ]
    got = c.get_collection("s", database="dw")
    assert sorted(got["v"]) == list(range(1, 31))


def test_driver_write_empty_batch_writes_no_file(spark, tmp_path):
    """A batch of no rows commits a version with no file on the collect
    and Spark lanes (the schema-only file Spark writes is removed), as an
    empty pandas insert does on the driver lane; reads still return every
    declared column."""
    c = _client(spark, tmp_path)
    cat = c.catalog
    c.create_collection("e", {"v": "int", "t": "text"}, database="dw")
    empty = spark.createDataFrame(
        [], cat.meta("e", "dw").spark_schema(include_system=True)
    )
    cat.commit_version("e", "dw", empty, local_batch=True)
    cat.commit_version("e", "dw", empty, local_batch=False)
    c.insert_into_collection("e", pd.DataFrame({"v": [], "t": []}), database="dw")
    versions = c.get_collection_versions("e", database="dw")[1:]
    om = [v["operationMetrics"] for v in versions]
    assert [o["lane"] for o in om] == ["collect", "spark", "driver"]
    assert [(o["files_added"], o["rows_added"], o["bytes_added"]) for o in om] == [(0, 0, 0)] * 3
    assert cat.meta("e", "dw").files == []
    assert [e for e in _data_entries(cat, "e", "dw") if e.endswith(".parquet")] == []
    got = c.get_collection("e", database="dw")
    assert len(got) == 0
    assert list(got.columns) == ["id", "created_at", "modified_at", "geometry", "v", "t"]


def test_batch_over_byte_bound_takes_distributed_write(spark, tmp_path, monkeypatch):
    c = _client(spark, tmp_path)
    cat = c.catalog
    c.create_collection("b", {"v": "int"}, database="dw")
    batch = pd.DataFrame({"geometry": ["POINT (1 1)"] * 20, "v": range(20)})
    c.insert_into_collection("b", batch, database="dw")
    monkeypatch.setattr(dml, "DRIVER_BYTES", 100)  # a 20-row frame is more than that
    c.insert_into_collection("b", batch, database="dw")
    cdir = cat._coll_dir("b", "dw")
    files = cat.meta("b", "dw").files
    by_spark = [_written_by_spark(os.path.join(cdir, f)) for f in files]
    assert by_spark[0] is False and len(by_spark) > 1 and all(by_spark[1:])
    assert len(c.get_collection("b", database="dw")) == 40


def test_small_commits_run_one_job_and_leave_no_debris(spark, tmp_path):
    c = _client(spark, tmp_path)
    cat = c.catalog
    c.create_collection("j", {"v": "int", "name": "text"}, database="dw")
    batch = pd.DataFrame(
        {
            "geometry": [f"POINT ({i % 17} {i % 13})" for i in range(300)],
            "v": range(300),
            "name": [f"n{i}" for i in range(300)],
        }
    )
    c.insert_into_collection("j", batch, database="dw")  # warm the path
    # the pandas insert builds its batch on the driver: no job at all
    assert _jobs(spark, lambda: c.insert_into_collection("j", batch, database="dw")) == 0
    assert len(cat.meta("j", "dw").files) == 2
    # all touch one file: ids 301..600 live in the second insert's file.
    # On the driver lane the rewrite runs no job; forced onto the Spark
    # lane, it is one collect job
    assert _jobs(
        spark,
        lambda: c.update_collection("j", {"v": -1}, "id=gte.301&id=lte.320", database="dw"),
    ) == 0
    assert _jobs(
        spark,
        lambda: c.delete_from_collection("j", "id=gte.321&id=lte.330", database="dw"),
    ) == 0
    with mock.patch.object(dml, "driver_rewrite_filter", lambda *a, **k: None):
        assert _jobs(
            spark,
            lambda: c.update_collection("j", {"v": -2}, "id=gte.331&id=lte.340", database="dw"),
        ) == 1
        assert _jobs(
            spark,
            lambda: c.delete_from_collection("j", "id=gte.341&id=lte.350", database="dw"),
        ) == 1
    got = c.get_collection("j", database="dw")
    assert len(got) == 580
    assert (got.loc[got["id"].between(301, 320), "v"] == -1).all()
    assert (got.loc[got["id"].between(331, 340), "v"] == -2).all()
    leftovers = [
        e
        for e in _data_entries(cat, "j", "dw")
        if e.endswith(".crc") or "_SUCCESS" in e or "_temporary" in e
    ]
    assert leftovers == []


def test_pandas_insert_parses_each_geometry_once(spark, tmp_path, monkeypatch):
    c = _client(spark, tmp_path)
    c.create_collection("g", {"v": "int"}, database="dw")
    calls = []
    orig = dml._parse_geometry_value

    def counting(v):
        calls.append(v)
        return orig(v)

    monkeypatch.setattr(dml, "_parse_geometry_value", counting)
    wkts = ["POINT (1 2)", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", None]
    c.insert_into_collection(
        "g", pd.DataFrame({"geometry": wkts, "v": [1, 2, 3]}), database="dw"
    )
    assert calls == wkts
    got = c.get_collection("g", database="dw").sort_values("id")
    assert [None if g is None else to_wkb(g, srid=0) for g in got["geometry"]] == [
        None if w is None else to_wkb(parse_wkt(w), srid=0) for w in wkts
    ]
    env = c.catalog.load_df("g", "dw", include_system=True).orderBy("id").collect()
    assert [(r["__xmin"], r["__ymax"]) for r in env] == [(1.0, 2.0), (0.0, 1.0), (None, None)]


@pytest.mark.parametrize("with_nan", [False, True])
def test_dictionary_choice_follows_parquet_mr(with_nan, tmp_path):
    """Dictionary only where dictionary + index bytes beat plain bytes;
    a NaN-holding float column carries no min/max statistics."""
    import pyarrow as pa

    from xcube_geodb_spark.catalog import write_local_parquet

    n = 1000
    t = pa.table(
        {
            "few": pa.array([float(i % 5) for i in range(n)]),
            "unique": pa.array([float(i) for i in range(n)]),
            "text_few": pa.array(["abcdefgh"[: i % 3 + 1] for i in range(n)]),
            "text_unique": pa.array([f"value-{i}" for i in range(n)]),
            "all_null": pa.array([None] * n, pa.float64()),
            "flag": pa.array([i % 2 == 0 for i in range(n)]),
            "nan": pa.array([NAN if with_nan and i == 3 else 1.5 for i in range(n)]),
        }
    )
    (name,) = write_local_parquet(t, str(tmp_path), 10_000)
    md = pq.ParquetFile(os.path.join(str(tmp_path), name)).metadata
    rg = md.row_group(0)
    enc = {
        rg.column(i).path_in_schema: "RLE_DICTIONARY" in rg.column(i).encodings
        for i in range(md.num_columns)
    }
    assert enc == {
        "few": True,
        "unique": False,
        "text_few": True,
        "text_unique": False,
        "all_null": False,
        "flag": False,
        "nan": True,
    }
    nan_stats = rg.column(6).statistics
    assert (nan_stats is None or not nan_stats.has_min_max) == with_nan
    assert md.metadata is None or b"ARROW:schema" not in md.metadata


def test_rewrite_of_dictionary_heavy_file_is_sized_decoded(spark, tmp_path, monkeypatch):
    """A low-cardinality text column costs bits per row on disk and its
    full length per row in Arrow: the rewrite decision sizes the decoded
    batch, so a bound between the two sends the rewrite to the distributed
    write. Files written by Spark (no driver-write stats of any kind) take
    the driver path when they fit."""
    from xcube_geodb_spark.operators.stats import file_arrow_bytes

    c = _client(spark, tmp_path)
    cat = c.catalog
    c.create_collection("d", {"label": "text", "tags": "text[]"}, database="dw")
    schema = cat.meta("d", "dw").spark_schema(include_system=True)
    labels = ["a" * 300, "b" * 300, "c" * 300]
    src = spark.createDataFrame(
        [
            tuple(
                {
                    "id": i + 1,
                    "label": labels[i % 3],
                    "tags": [labels[i % 2]] * 2,
                }.get(f.name)
                for f in schema.fields
            )
            for i in range(4000)
        ],
        schema,
    )
    cat.commit_version("d", "dw", src, max_id=4000, local_batch=False)
    cdir = cat._coll_dir("d", "dw")
    [f] = cat.meta("d", "dw").files
    path = os.path.join(cdir, f)
    assert _written_by_spark(path)
    md = pq.ParquetFile(path).metadata
    encoded = sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
    decoded = spark.read.parquet(path).toArrow().nbytes
    assert decoded > 20 * encoded  # ~2.4 MB of text in a few KB
    assert file_arrow_bytes(path) >= decoded

    # fits: the one-file rewrite runs on the driver with no job, and the
    # new file is driver-written
    assert _jobs(spark, lambda: c.delete_from_collection("d", "id=eq.1", database="dw")) == 0
    [f] = cat.meta("d", "dw").files
    assert not _written_by_spark(os.path.join(cdir, f))
    # a bound above the encoded but below the decoded size: distributed
    monkeypatch.setattr(dml, "DRIVER_BYTES", 10 * encoded)
    c.delete_from_collection("d", "id=eq.2", database="dw")
    assert all(
        _written_by_spark(os.path.join(cdir, f)) for f in cat.meta("d", "dw").files
    )
    got = c.get_collection("d", database="dw")
    assert len(got) == 3998
    assert sorted(set(got["label"])) == labels
