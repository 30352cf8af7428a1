"""One-file deletes and literal updates rewrite on the driver: the touched
file is read with pyarrow, filtered by the query's pyarrow lowering and
handed to the commit as an Arrow table, with no Spark job. Every other
rewrite reads the touched files with Spark. These tests check that both
lanes write the same collection over generated histories (frames, the id
order inside each rewritten file, its footer stats), that the driver lane
runs no job, every exit to the Spark lane, the ``operationMetrics`` of the
version history, and that the envelope columns always derive from the
geometry."""

from __future__ import annotations

import contextlib
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from test_read_lane import (
    DB, _grammar_query, _history, _jobs, _lone_files, _same, _square, collect_insert, driver_bound, spark_lane,
    spark_rewrite,
)
from xcube_geodb_spark.catalog import SYSTEM_COLUMNS
from xcube_geodb_spark.client import GeoDBSparkClient
from xcube_geodb_spark.errors import GeoDBError
from xcube_geodb_spark.operators.stats import file_column_stats


def _last(cat, coll) -> dict:
    return cat.list_versions(coll, DB)[-1]


def _written(cat, coll) -> list:
    """The files the last commit added: each one's ids in file order and
    its footer stats, ``modified_at`` left out."""
    cdir = cat._coll_dir(coll, DB)
    m = cat.meta(coll, DB)
    before = set(cat.meta_at_version(coll, DB, m.version - 1).files)
    out = []
    for f in m.files:
        if f not in before:
            path = os.path.join(cdir, f)
            stats = {k: v for k, v in file_column_stats(path).items() if "modified_at" not in k}
            out.append((pq.read_table(path, columns=["id"])["id"].to_pylist(), stats))
    return out


def _frame(client, coll):
    f = client.get_collection(coll, "order=id", database=DB)
    return f.assign(modified_at=f["modified_at"].isna())


def _both_lanes(client, coll, edit) -> str:
    """``edit`` on the Spark lane, then on the driver lane from the same
    snapshot (a restore in between): both write the same rows, in the same
    file order, with the same stats. The history goes on from the driver's
    commit. Returns the driver commit's lane, None when the files' stats
    prove that no row matches (no commit)."""
    cat = client.catalog
    base = cat.meta(coll, DB).version
    with spark_rewrite():
        edit()
    if cat.meta(coll, DB).version == base:
        edit()
        assert cat.meta(coll, DB).version == base
        return None
    assert _last(cat, coll)["operationMetrics"]["lane"] == "collect"
    want = _frame(client, coll), _written(cat, coll)
    cat.restore_collection(coll, DB, base)
    edit()
    lane = _last(cat, coll)["operationMetrics"]["lane"]
    _same(_frame(client, coll), want[0])
    assert _written(cat, coll) == want[1]
    return lane


# the fixed edits: (filter inside one file, SET values or None for a delete)
_EDITS = [
    ("score=not.gt.0.5", None),  # `not.` over NULL and NaN
    ("score=not.eq.NaN&v=not.lt.20", {"score": 3}),  # an int on a DOUBLE column
    ("or=(flag.is.true,name.gt.n3)", {"name": "renamed", "flag": False}),
    ("late=is.null", {"late": 5, "v": None}),  # a property added mid-history
    ("not.and=(v.gt.10,score.lt.2)", {"ts": None, "ai": None, "raw": None, "d": None}),
    ("v=not.lt.100", {"v": 1}),  # matches nothing in the kept file
    ("flag=is.false", {"score": float("nan"), "i4": -(2**31), "sm": 2**15 - 1}),
    ("", None),  # empties the file
]
_SETS = [None, {"score": -0.0}, {"v": 7, "name": None}, {"flag": True}, {"late": -1}]


@pytest.mark.parametrize("seed", [1, pytest.param(2, marks=pytest.mark.slow)])
def test_rewrite_lanes_agree_over_generated_histories(spark, tmp_path, seed):
    client = GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh"), user=DB)
    rng = _history(client, "h", seed=seed, batches=5, rows=25)
    edits = [*_EDITS, *((_grammar_query(rng).split("&order=")[0], _SETS[i % len(_SETS)]) for i in range(6))]
    emptied, lanes = 0, []
    for i, (where, values) in enumerate(edits):
        lone = _lone_files(client.catalog, "h")
        assert lone, i
        lo, hi = lone[i % len(lone)]
        query = f"id=gte.{lo}&id=lte.{hi}" + (f"&{where}" if where else "")
        if values is None:
            lane = _both_lanes(client, "h", lambda: client.delete_from_collection("h", query, database=DB))
        else:
            lane = _both_lanes(client, "h", lambda: client.update_collection("h", values, query, database=DB))
        assert lane == "driver" or lane is None and i >= len(_EDITS), (where, values)
        lanes.append(lane)
        if lane is not None:  # a rewrite that empties its file writes none
            om = _last(client.catalog, "h")["operationMetrics"]
            emptied += om["files_added"] == 0 and om["rows_removed"] > 0
    assert emptied and "driver" in lanes[len(_EDITS):]


def test_rewrite_lanes_agree_after_a_btree_index_is_removed(spark, tmp_path):
    """A file written under a btree index is in that property's order;
    once the index is removed, both lanes write its rewrite in Z-order,
    split at ``max_file_rows`` into the same files."""
    c = GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh"), user=DB)
    c.create_collection("b", {"v": "int", "x": "double"}, database=DB)
    c.create_index("b", "v", database=DB)  # btree
    rng = np.random.default_rng(5)
    xy = rng.uniform(0, 1, (60, 2))
    c.insert_into_collection("b", pd.DataFrame({
        "geometry": [f"POINT ({x} {y})" for x, y in xy], "v": rng.permutation(60), "x": xy[:, 0],
    }), database=DB)
    c.remove_index("b", "v", database=DB)
    c.catalog.commit_meta_change("b", DB, lambda m: {"max_file_rows": 20}, operation="SET TBLPROPERTIES")
    (lo, hi), = _lone_files(c.catalog, "b")
    assert _both_lanes(c, "b", lambda: c.update_collection(
        "b", {"x": -1}, f"id=gte.{lo}&id=lte.{hi}&v=lt.30", database=DB)) == "driver"
    assert len(_written(c.catalog, "b")) == 3


# -- jobs and exits -----------------------------------------------------------


@pytest.fixture()
def quarters(spark, tmp_path):
    """Four files of 50 squares, one per quarter of the unit square."""
    c = GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh"), user=DB)
    c.create_collection("q", {"v": "int", "name": "text", "d": "date", "x": "double"}, database=DB)
    rng = np.random.default_rng(3)
    for i in range(4):
        xy = rng.uniform(0, 0.5, (50, 2)) + [i % 2 / 2, i // 2 / 2]
        c.insert_into_collection("q", pd.DataFrame({
            "geometry": [_square(x, y, 0.004) for x, y in xy],
            "v": range(50), "name": [f"n{j}" for j in range(50)], "x": rng.uniform(0, 1, 50),
        }), database=DB)
    return c


def test_driver_rewrites_run_no_job(spark, quarters):
    """A one-file delete or literal update runs no Spark job on the driver
    lane; the same edit forced onto the Spark lane runs one (the collect)."""
    edits = {
        "delete": lambda i: quarters.delete_from_collection("q", f"id=eq.{i}", database=DB),
        "update": lambda i: quarters.update_collection(
            "q", {"v": 100, "x": 2, "name": "z"}, f"id=gte.{i}&id=lte.{i + 3}", database=DB),
    }
    for name, edit in edits.items():
        assert _jobs(spark, lambda: edit(5)) == 0, name
        assert _last(quarters.catalog, "q")["operationMetrics"]["lane"] == "driver", name
        with spark_rewrite():
            assert _jobs(spark, lambda: edit(60)) == 1, name
        assert _last(quarters.catalog, "q")["operationMetrics"]["lane"] == "collect", name
    got = quarters.get_collection("q", "id=lte.70&order=id", database=DB)
    assert 5 not in got["id"].tolist() and 60 not in got["id"].tolist()
    assert (got.set_index("id").loc[[6, 7, 8, 61, 62, 63], "name"] == "z").all()
    assert got.set_index("id").loc[[6, 61], "modified_at"].notna().all()


def _lane_of(client, coll, edit) -> str:
    edit()
    return _last(client.catalog, coll)["operationMetrics"]["lane"]


@pytest.mark.parametrize("edit, lane", [
    (lambda c: c.delete_from_collection("q", "v=eq.7", database=DB), "collect"),  # four files touched
    (lambda c: c.update_collection("q", {"geometry": "POINT (0.1 0.1)"}, "id=eq.3", database=DB), "collect"),
    (lambda c: c.delete_from_collection("q", "id=eq.3&name=like.n*", database=DB), "collect"),
    (lambda c: c.delete_from_collection("q", "id=eq.3&name=fts.n3", database=DB), "collect"),
    (lambda c: c.update_collection("q", {"d": "2020-01-02"}, "id=eq.3", database=DB), "collect"),
    (lambda c: c.update_collection("q", {"v": True}, "id=eq.3", database=DB), "collect"),
    (lambda c: c.update_collection("q", {"name": 5}, "id=eq.3", database=DB), "collect"),
])
def test_other_rewrites_take_the_spark_lane(quarters, edit, lane):
    assert _lane_of(quarters, "q", lambda: edit(quarters)) == lane


def test_rewrite_over_the_bound_takes_the_spark_lane(quarters):
    with driver_bound(0):
        assert _lane_of(quarters, "q", lambda: quarters.delete_from_collection(
            "q", "id=eq.3", database=DB)) == "spark"
    assert 3 not in quarters.get_collection("q", "id=lte.5", database=DB)["id"].tolist()


def test_constraints_and_btree_take_the_spark_lane(quarters):
    quarters.add_constraint("q", "v_small", "v < 1000", database=DB)
    assert _lane_of(quarters, "q", lambda: quarters.update_collection(
        "q", {"v": 5}, "id=eq.3", database=DB)) == "collect"
    with pytest.raises(GeoDBError, match="CHECK"):
        quarters.update_collection("q", {"v": 5000}, "id=eq.3", database=DB)
    quarters.drop_constraint("q", "v_small", database=DB)
    assert _lane_of(quarters, "q", lambda: quarters.update_collection(
        "q", {"v": 6}, "id=eq.3", database=DB)) == "driver"
    quarters.create_index("q", "x", database=DB)  # btree
    assert _lane_of(quarters, "q", lambda: quarters.delete_from_collection(
        "q", "id=eq.4", database=DB)) == "collect"


@pytest.mark.parametrize("kind, options, physical", [
    ("lsh", {"dim": 4, "n_bits": 3}, {"__annbucket"}),
    ("ivfpq", {
        "centroids": [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]],
        "codebooks": [[[1.0, 0.0], [0.0, 1.0]], [[1.0, 0.0], [0.0, 1.0]]],
    }, {"__annbucket", "__pqcode"}),
])
def test_ann_layouts_take_the_spark_lane(spark, tmp_path, kind, options, physical):
    c = GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh"), user=DB)
    c.create_collection("e", {"emb": "float[]", "v": "int"}, database=DB)
    c.create_index("e", "emb", database=DB, kind=kind, options=options)
    rng = np.random.default_rng(1)
    c.insert_into_collection("e", pd.DataFrame({
        "emb": [list(map(float, rng.uniform(0, 1, 4))) for _ in range(20)], "v": range(20),
    }), database=DB)
    assert _lane_of(c, "e", lambda: c.update_collection("e", {"v": 100}, "id=eq.3", database=DB)) == "collect"
    assert _lane_of(c, "e", lambda: c.delete_from_collection("e", "id=eq.4", database=DB)) == "collect"
    cat = c.catalog
    for f in cat.meta("e", DB).files:
        assert physical <= set(pq.read_schema(os.path.join(cat._coll_dir("e", DB), f)).names)
    assert sorted(c.get_collection("e", "v=gte.19&order=id", database=DB)["v"]) == [19, 100]


# -- IS TRUE / IS FALSE ---------------------------------------------------------


@pytest.mark.parametrize("lane", ["driver", "spark"])
def test_is_true_and_is_false_are_never_null(spark, tmp_path, lane):
    """PostgREST sends ``is.true``/``is.false`` as PG's IS TRUE / IS
    FALSE, which are FALSE, never NULL, on a NULL cell: ``b=not.is.true``
    reads, updates and deletes the row whose ``b`` is NULL, on both read
    lanes and both rewrite lanes. Such a leaf gives no interval
    constraint, so file pruning keeps the file of the NULL row."""
    from xcube_geodb_spark.filters import parse_query

    c = GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh"), user=DB)
    c.create_collection("b", {"b": "bool", "v": "int"}, database=DB)
    for k, flags in enumerate(([True, True], [True, False, None])):
        c.insert_into_collection("b", pd.DataFrame({
            "geometry": [f"POINT ({k} {k})"] * len(flags), "b": flags, "v": range(len(flags)),
        }), database=DB)
    assert parse_query("b=not.is.true&id=gte.3").constraints() == [("id", "gte", 3)]
    reads = {
        "b=not.is.true": [4, 5], "b=not.is.false": [1, 2, 3, 5], "b=is.true": [1, 2, 3],
        "b=is.false": [4], "not.or=(b.is.true,b.is.false)": [5], "b=is.null": [5],
    }
    with contextlib.nullcontext() if lane == "driver" else spark_lane():
        for q, want in reads.items():
            got = c.get_collection("b", f"{q}&order=id", database=DB)
            assert got["id"].tolist() == want, q
            assert got.attrs["read"]["lane"] == lane, q
    rewrites = "driver" if lane == "driver" else "collect"
    with contextlib.nullcontext() if lane == "driver" else spark_rewrite():
        c.update_collection("b", {"v": -1}, "b=not.is.false&id=gte.3", database=DB)
        assert _last(c.catalog, "b")["operationMetrics"]["lane"] == rewrites
        c.delete_from_collection("b", "b=not.is.true&id=gte.3", database=DB)
        assert _last(c.catalog, "b")["operationMetrics"]["lane"] == rewrites
    got = c.get_collection("b", "order=id", database=DB)
    assert got["id"].tolist() == [1, 2, 3]
    assert got["v"].tolist() == [0, 1, -1]


# -- the version history ------------------------------------------------------


def test_history_records_operation_metrics(spark, tmp_path):
    """Each commit's ``files_added``/``files_removed``/``bytes_added`` and
    ``rows_added``/``rows_removed`` are its manifest delta, and ``lane``
    is the write it took: a pandas insert and a one-file delete on the
    driver, a forced collect insert, a multi-file update collected, a
    forced Spark write, a compaction; a schema change and a restore write
    no file and have no lane."""
    c = GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh"), user=DB)
    c.create_collection("o", {"v": "int"}, database=DB)
    def insert(k):
        pdf = pd.DataFrame({"geometry": [f"POINT ({k} {k + i / 100})" for i in range(10)], "v": range(10)})
        return lambda: c.insert_into_collection("o", pdf, database=DB)

    plain = contextlib.nullcontext
    ops = [
        (insert(1), "INSERT", "driver", plain),
        (insert(2), "INSERT", "collect", collect_insert),
        (insert(3), "INSERT", "spark", spark_lane),
        (lambda: c.delete_from_collection("o", "id=eq.3", database=DB), "DELETE", "driver", plain),
        (lambda: c.update_collection("o", {"v": 1}, "id=gte.5&id=lte.15&v=eq.2", database=DB),
         "UPDATE", "collect", plain),
        (lambda: c.update_collection("o", {"v": 5}, "id=eq.12", database=DB), "UPDATE", "driver", plain),
        (lambda: c.update_collection("o", {"v": 6}, "id=eq.13", database=DB), "UPDATE", "spark", spark_lane),
        (lambda: c.insert_into_collection(
            "o", pd.DataFrame({"id": [1], "v": [9]}), upsert=True, database=DB), "UPSERT", "spark", plain),
        (lambda: c.optimize_collection("o", database=DB), "OPTIMIZE", "collect", plain),
        (lambda: c.add_property("o", "late", "int", database=DB), "ADD COLUMNS", None, plain),
        (lambda: c.restore_collection("o", 2, database=DB), "RESTORE", None, plain),
    ]
    for op, _, _, ctx in ops:
        with ctx():
            op()
    cat = c.catalog
    cdir = cat._coll_dir("o", DB)
    versions = c.get_collection_versions("o", database=DB)
    assert versions[0]["operation"] is None
    got = [(v["operation"], v["operationMetrics"]["lane"]) for v in versions[1:]]
    assert got == [(name, lane) for _, name, lane, _ in ops]
    for v in versions[1:]:
        before = set(cat.meta_at_version("o", DB, v["version"] - 1).files)
        after = set(cat.meta_at_version("o", DB, v["version"]).files)
        om = v["operationMetrics"]
        assert om["files_added"] == len(after - before), v
        assert om["files_removed"] == len(before - after), v
        assert om["bytes_added"] == sum(os.path.getsize(os.path.join(cdir, f)) for f in after - before), v
        assert om["rows_added"] == sum(_rows(cdir, f) for f in after - before), v
        assert om["rows_removed"] == sum(_rows(cdir, f) for f in before - after), v
        assert om["duration_ms"] >= 0
    assert versions[-1]["operationMetrics"]["files_added"] > 0  # restored, not written
    assert [v["operationMetrics"]["rows_added"] for v in versions[1:4]] == [10, 10, 10]
    assert versions[4]["operationMetrics"]["rows_removed"] - versions[4]["operationMetrics"]["rows_added"] == 1


def _rows(cdir, f) -> int:
    return pq.ParquetFile(os.path.join(cdir, f)).metadata.num_rows


# -- system columns -----------------------------------------------------------


@pytest.mark.parametrize("lane", ["driver", "spark"])
def test_envelopes_derive_from_the_geometry(spark, tmp_path, lane):
    """An update may not SET an envelope column (a bbox read would lose
    the row), and a pandas insert drops caller-supplied envelope columns
    (a NULL geometry has NULL envelopes)."""
    c = GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh"), user=DB)
    c.create_collection("t", {"v": "int"}, database=DB)
    with contextlib.nullcontext() if lane == "driver" else spark_lane():
        c.insert_into_collection(
            "t", pd.DataFrame({"geometry": ["POINT (1 1)", "POINT (5 5)"], "v": [1, 2]}), database=DB)
        for col in SYSTEM_COLUMNS:
            with pytest.raises(GeoDBError, match="Unknown property in update"):
                c.update_collection("t", {col: 100.0}, "id=eq.1", database=DB)
        c.update_collection("t", {"v": 10}, "id=eq.1", database=DB)
        assert _last(c.catalog, "t")["operationMetrics"]["lane"] == lane
        c.insert_into_collection("t", pd.DataFrame({
            "v": [3], "__xmin": [1.0], "__ymin": [1.0], "__xmax": [1.0], "__ymax": [1.0],
        }), database=DB)
        c.insert_into_collection("t", pd.DataFrame({
            "geometry": ["POINT (1.5 1.5)"], "v": [4], "__xmin": [50.0], "__xmax": [50.0],
        }), database=DB)
    box = c.get_collection_by_bbox("t", (0, 0, 2, 2), database=DB)
    assert sorted(box["id"]) == [1, 4] and box.set_index("id").loc[1, "v"] == 10
    env = c.catalog.load_df("t", DB, include_system=True).orderBy("id").select(*SYSTEM_COLUMNS).collect()
    assert list(env[2]) == [None] * 4
    assert list(env[3]) == [1.5] * 4
