"""A pandas insert that fits the driver builds its batch as an Arrow table
in-process (``dml.driver_insert_batch``: PySpark's own pandas-to-Arrow
converter, the one ``createDataFrame`` uses) and commits it with no Spark
job; anything else goes through ``createDataFrame`` and the collect or
Spark write. These tests check that both lanes write the same collection
over generated pandas batches (frames with dtypes, every file's rows in
file order, its footer stats), that the driver lane runs no job, and every
exit to the Spark path."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from test_read_lane import DB, _jobs, _same, collect_insert, driver_bound
from xcube_geodb_spark.client import GeoDBSparkClient
from xcube_geodb_spark.errors import GeoDBError
from xcube_geodb_spark.geometry.geom import parse_wkt, to_geojson, to_wkb
from xcube_geodb_spark.operators.stats import file_column_stats

NAN, INF = float("nan"), float("inf")

# one property of every type a collection can declare
_PROPS = {
    "v": "int", "i4": "int4", "sm": "smallint", "score": "float", "r": "real",
    "name": "text", "ts": "timestamp", "d": "date", "flag": "bool", "raw": "bytea",
    "ai": "int[]", "at": "text[]", "af": "real[]", "ad": "float8[]",
}


def _last(client, coll) -> dict:
    return client.catalog.list_versions(coll, DB)[-1]


def _stamp(v):
    return None if v is None else "set"


def _written(client, coll) -> list:
    """Each file the last commit added: its rows in file order (cells as
    reprs, so NaN, -0.0 and bytes compare exactly) and its footer stats,
    ``created_at`` compared by NULL-ness."""
    cat = client.catalog
    cdir = cat._coll_dir(coll, DB)
    m = cat.meta(coll, DB)
    before = set(cat.meta_at_version(coll, DB, m.version - 1).files)
    out = []
    for f in m.files:
        if f in before:
            continue
        path = os.path.join(cdir, f)
        rows = pq.read_table(path).to_pylist()
        rows = [repr({**r, "created_at": _stamp(r["created_at"])}) for r in rows]
        stats = {
            k: [_stamp(x) for x in v] if k == "created_at" else v
            for k, v in file_column_stats(path).items()
        }
        out.append((rows, stats))
    return out


def _frame(client, coll):
    f = client.get_collection(coll, "order=id", database=DB)
    return f.assign(created_at=f["created_at"].isna(), modified_at=f["modified_at"].isna())


def _both_lanes(client, coll, pdf) -> str:
    """Insert ``pdf`` on the collect lane, then on the default lane from
    the same snapshot (a restore in between): both write the same rows in
    the same files and order, with the same stats. Returns the default
    lane's ``lane``."""
    cat = client.catalog
    base = cat.meta(coll, DB).version
    with collect_insert():
        client.insert_into_collection(coll, pdf, database=DB)
    om = _last(client, coll)["operationMetrics"]
    assert om["lane"] == "collect" and om["rows_added"] == len(pdf)
    want = _frame(client, coll), _written(client, coll)
    cat.restore_collection(coll, DB, base)
    client.insert_into_collection(coll, pdf, database=DB)
    om = _last(client, coll)["operationMetrics"]
    assert om["rows_added"] == len(pdf)
    _same(_frame(client, coll), want[0])
    assert _written(client, coll) == want[1]
    return om["lane"]


# -- generated batches ---------------------------------------------------------


def _geometries(rng, n):
    """Each cell in one of the spellings an insert accepts."""
    out = []
    for i in range(n):
        x, y = rng.uniform(-10, 10, 2)
        wkt = f"POINT ({x} {y})" if i % 3 else (
            f"POLYGON (({x} {y}, {x + 1} {y}, {x + 1} {y + 1}, {x} {y + 1}, {x} {y}))"
        )
        wkb = to_wkb(parse_wkt(wkt), srid=0)
        out.append([wkt, wkb, wkb.hex(), to_geojson(parse_wkt(wkt)), None][int(rng.integers(0, 5))])
    return out


def _column(rng, name, n):
    """A pandas column for property ``name``, in one of the dtypes a
    caller hands over, with NULLs and edge values."""
    pick = int(rng.integers(0, 3))

    def cells(values):
        return [values[int(k)] for k in rng.integers(0, len(values), n)]

    if name in ("v", "i4", "sm"):
        top = {"v": 2**62, "i4": 2**31 - 1, "sm": 2**15 - 1}[name]
        ints = cells([0, -1, 7, top, -top - 1])
        if pick == 0:  # nullable extension array
            return pd.array([None if i % 5 == 1 else v for i, v in enumerate(ints)],
                            dtype={"v": "Int64", "i4": "Int32", "sm": "Int16"}[name])
        if pick == 1 and name != "v":  # floats into an integral column
            return [NAN if i % 4 == 2 else float(v) for i, v in enumerate(ints)]
        return np.array(ints, dtype=np.int64)
    if name == "score":
        if pick == 0:  # ints into a DOUBLE column
            return np.array(cells([0, 3, -(2**40), 2**52]), dtype=np.int64)
        return cells([0.5, -0.0, 0.0, NAN, INF, -INF, None, 1e-308, -2.5])
    if name == "r":
        return cells([0.5, -0.0, NAN, INF, -INF, None, 1.25])
    if name == "name":
        return cells(["", "plain", "Ljubljana — čćžšđ 東京 🌍", None, "quick brown fox"])
    if name == "ts":
        if pick == 0:  # outside 1677-2262, as object cells
            return cells([dt.datetime(1500, 1, 1), dt.datetime(2500, 6, 1, 12, 0, 0, 5), None,
                          dt.datetime(2020, 1, 2, 3, 4, 5, 678901)])
        if pick == 1:  # mixed ISO spellings
            return cells(["2020-01-02", "2020-01-02T03:04:05", "2021-12-31 23:59:59.123456", None])
        return cells([pd.Timestamp("2019-05-06 07:08:09"), None, pd.Timestamp("1970-01-01")])
    if name == "d":
        if pick == 0:  # outside 1677-2262, as object cells
            return cells([dt.date(1500, 1, 1), dt.date(9999, 12, 31), None, dt.date(2020, 2, 29)])
        if pick == 1:
            return cells(["2020-01-02", "1999-12-31T00:00:00", None])
        return cells([dt.date(1970, 1, 1), dt.date(2024, 5, 1), None])
    if name == "flag":
        return cells([True, False, None]) if pick else np.array(cells([True, False]), dtype=bool)
    if name == "raw":
        return cells([b"", b"\x00\xff\x01", None, bytes(range(40))])
    if name == "ai":
        return cells([[], [1, None, -5], None, [2**62]])
    if name == "at":
        return cells([[], ["", "ä", None], None, ["x"]])
    if name == "af":
        return cells([[], [1.0, NAN, INF], None, [None, -0.0]])
    if name == "ad":
        return cells([[-INF, NAN], [], None, [None, 0.5, -0.0]])
    if name == "late":
        return np.arange(n, dtype=np.int64) * 3
    raise AssertionError(name)


def _batch(rng, props, n, geometry=True):
    """A pandas batch over a random subset of ``props`` (missing columns
    are NULL), with or without a geometry column, column names in any
    case."""
    cols = [p for p in props if rng.random() < 0.8]
    frame = {"geometry": _geometries(rng, n)} if geometry else {}
    for p in cols:
        frame[p.upper() if rng.random() < 0.2 else p] = _column(rng, p, n)
    return pd.DataFrame(frame)


@pytest.mark.parametrize("seed", [1, pytest.param(2, marks=pytest.mark.slow)])
def test_insert_lanes_agree_over_generated_batches(spark, tmp_path, seed):
    rng = np.random.default_rng(seed)
    c = GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh"), user=DB)
    c.create_collection("i", _PROPS, database=DB)
    c.create_index("i", "name", database=DB, kind="bloom")
    c.create_index("i", "at", database=DB, kind="bloom")
    c.create_collection("f", {"body": "text", "v": "int"}, database=DB)
    c.create_index("f", "body", database=DB, kind="fts")
    props, total = list(_PROPS), 0
    for b in range(8):
        if b == 3:
            c.add_property("i", "late", "int", database=DB)
            props.append("late")
        pdf = _batch(rng, props, int(rng.integers(1, 40)), geometry=b % 4 != 1)
        assert _both_lanes(c, "i", pdf) == "driver", list(pdf.columns)
        total += len(pdf)
        text = pd.DataFrame({"body": [None, "The quick brown fox", "jumps over", ""][: b % 4 + 1]})
        assert _both_lanes(c, "f", text) == "driver"
    assert _both_lanes(c, "i", pd.DataFrame({"v": pd.array([], dtype="Int64")})) == "driver"
    assert _last(c, "i")["operationMetrics"]["files_added"] == 0
    assert len(c.get_collection("i", database=DB)) == total
    assert c.get_collection("f", "body=fts.fox&order=id", database=DB)["body"].tolist() == [
        "The quick brown fox"
    ] * 6


# -- jobs and exits ------------------------------------------------------------


def _points(n, start=0):
    return pd.DataFrame({
        "geometry": [f"POINT ({i % 17} {i % 13})" for i in range(start, start + n)],
        "v": range(start, start + n),
    })


def test_fitting_insert_runs_no_job(spark, tmp_path):
    c = GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh"), user=DB)
    c.create_collection("j", {"v": "int"}, database=DB)
    c.insert_into_collection("j", _points(300), database=DB)  # warm
    assert _jobs(spark, lambda: c.insert_into_collection("j", _points(300, 300), database=DB)) == 0
    assert _last(c, "j")["operationMetrics"]["lane"] == "driver"
    with collect_insert():
        assert _jobs(spark, lambda: c.insert_into_collection("j", _points(300, 600), database=DB)) == 1
    assert _last(c, "j")["operationMetrics"]["lane"] == "collect"
    assert c.get_collection("j", "order=id", database=DB)["v"].tolist() == list(range(900))


def _lane_of(c, coll, pdf, **kw) -> str:
    c.insert_into_collection(coll, pdf, database=DB, **kw)
    return _last(c, coll)["operationMetrics"]["lane"]


def test_inserts_that_take_the_spark_path(spark, tmp_path):
    """An upsert, a batch over the bound, a CHECK constraint, a btree
    index and a column PySpark's Arrow converter refuses each leave the
    driver lane; every row still lands."""
    c = GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh"), user=DB)
    c.create_collection("x", {"v": "int", "ts": "timestamp"}, database=DB)
    assert _lane_of(c, "x", _points(5)) == "driver"
    assert _lane_of(c, "x", pd.DataFrame({"id": [1], "v": [9]}), upsert=True) == "spark"
    with driver_bound(100):
        assert _lane_of(c, "x", _points(5)) == "spark"
    # nanoseconds do not fit Spark's microseconds: the safe Arrow cast
    # refuses them, and createDataFrame converts row by row instead
    ns = pd.DataFrame({"v": [1], "ts": [pd.Timestamp("2020-01-01 00:00:00.000000001")]})
    assert _lane_of(c, "x", ns) == "collect"
    c.add_constraint("x", "v_small", "v < 1000", database=DB)
    assert _lane_of(c, "x", _points(5)) == "collect"
    with pytest.raises(GeoDBError, match="CHECK"):
        c.insert_into_collection("x", _points(1, 5000), database=DB)
    c.drop_constraint("x", "v_small", database=DB)
    assert _lane_of(c, "x", _points(5)) == "driver"
    c.create_index("x", "v", database=DB)  # btree
    assert _lane_of(c, "x", _points(5)) == "collect"
    got = c.get_collection("x", "order=id", database=DB)
    assert len(got) == 26 and got.loc[got["id"] == 1, "v"].item() == 9  # the upsert replaced id 1
    assert got.loc[got["id"] == 11, "ts"].item() == pd.Timestamp("2020-01-01")


@pytest.mark.parametrize("kind, options", [
    ("lsh", {"dim": 4, "n_bits": 3}),
    ("ivfpq", {
        "centroids": [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]],
        "codebooks": [[[1.0, 0.0], [0.0, 1.0]], [[1.0, 0.0], [0.0, 1.0]]],
    }),
])
def test_ann_layouts_take_the_spark_path(spark, tmp_path, kind, options):
    c = GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh"), user=DB)
    c.create_collection("e", {"emb": "float[]", "v": "int"}, database=DB)
    c.create_index("e", "emb", database=DB, kind=kind, options=options)
    rng = np.random.default_rng(1)
    emb = pd.DataFrame({"emb": [list(map(float, rng.uniform(0, 1, 4))) for _ in range(20)], "v": range(20)})
    assert _lane_of(c, "e", emb) == "collect"
    cat = c.catalog
    [f] = cat.meta("e", DB).files
    assert "__annbucket" in pq.read_schema(os.path.join(cat._coll_dir("e", DB), f)).names
