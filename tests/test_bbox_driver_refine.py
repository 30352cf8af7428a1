"""Client bbox, count and knn reads refine on the driver.

The client collects the envelope pre-filter's candidates (read on the
driver when the pruned files are small, else in one Spark job) and applies
the exact kernel, the sort and (for knn) the top-k on the driver. These
tests pin that the result is the frame the DataFrame operators produce,
row for row and dtype for dtype, on a multi-file collection with awkward
geometries, and that the reads run the number of Spark jobs they should
on each lane, with no Python worker in any plan."""

import math
import struct
from unittest import mock

import numpy as np
import pandas as pd
import pytest

from xcube_geodb_spark.client import GeoDBSparkClient
from xcube_geodb_spark.geometry.geom import parse_wkt, to_wkb
from xcube_geodb_spark.geometry.predicates import COMPARISON_MODES
from xcube_geodb_spark.operators import dml, spatial

DB = "refiner"
COLL = "mix"
NAN = float("nan")


def _point_wkb(x, y):
    return struct.pack("<BIdd", 1, 1, x, y)


def _ring_wkb(ring):
    return struct.pack("<BII", 1, 3, 1) + struct.pack("<I", len(ring)) + b"".join(
        struct.pack("<dd", x, y) for x, y in ring
    )


def _square(x, y, h):
    return to_wkb(
        parse_wkt(
            f"POLYGON (({x - h} {y - h}, {x + h} {y - h}, {x + h} {y + h}, "
            f"{x - h} {y + h}, {x - h} {y - h}))"
        ),
        srid=0,
    )


def _specials():
    """Geometries the fast paths and the envelope shortcut must not get
    wrong, one per row."""
    wkt = [
        # 93-byte out-and-back degenerate ring (zero area)
        "POLYGON ((0 0, 2 0, 2 2, 2 0, 0 0))",
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 3 1, 3 3, 1 3, 1 1))",
        "LINESTRING (0 0, 3 3)",
        "LINESTRING (5 0, 5 4, 6 4)",
        "MULTIPOINT ((1 1), (7 7))",
        "MULTILINESTRING ((0 5, 2 5), (6 6, 7 7))",
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((6 6, 8 6, 8 8, 6 8, 6 6)))",
        "GEOMETRYCOLLECTION (POINT (2 2), LINESTRING (6 0, 8 2))",
    ]
    geoms = [to_wkb(parse_wkt(w), srid=0) for w in wkt]
    geoms += [
        _point_wkb(0.0, -0.0),
        _point_wkb(-0.0, 1.0),
        _ring_wkb([(-0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (-0.0, 0.0)]),
        _point_wkb(NAN, 1.0),
        _point_wkb(1.0, NAN),
        _ring_wkb([(0.0, 0.0), (NAN, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)]),
        to_wkb(parse_wkt("MULTIPOINT ((1 1), (2 2))"), srid=0)[:-16]
        + struct.pack("<dd", NAN, 2.0),
        None,
    ]
    return geoms


@pytest.fixture(scope="module")
def client(spark, tmp_path_factory):
    c = GeoDBSparkClient(
        spark, warehouse=str(tmp_path_factory.mktemp("wh")), user=DB
    )
    c.create_collection(
        COLL, {"v": "int", "w": "int4", "name": "text", "flag": "bool", "score": "float"}
    )
    rng = np.random.default_rng(7)
    grid = []
    for i in range(120):
        x, y = rng.uniform(-1, 9, 2)
        grid.append(_point_wkb(x, y) if i % 3 == 0 else _square(x, y, rng.uniform(0.05, 0.6)))
    batches = [grid[:60], _specials(), grid[60:]]
    n = 0
    for b, geoms in enumerate(batches):
        k = len(geoms)
        c.insert_into_collection(
            COLL,
            pd.DataFrame(
                {
                    "geometry": geoms,
                    # NULLs in an integral and a boolean column only in the
                    # last file: a refined subset without them must come
                    # back int64/bool, as toPandas gives it
                    "v": pd.array(
                        [None if (b == 2 and i % 7 == 0) else n + i for i in range(k)],
                        dtype="Int64",
                    ),
                    "w": [i % 5 for i in range(k)],
                    "name": [f"g{n + i}" for i in range(k)],
                    "flag": pd.array(
                        [None if (b == 2 and i % 11 == 0) else i % 2 == 0 for i in range(k)],
                        dtype="boolean",
                    ),
                    "score": [float(i) / 3 for i in range(k)],
                }
            ),
        )
        n += k
    assert len(c.catalog.meta(COLL, DB).files) >= 3
    return c


BOXES = [
    (0.5, 1.2, 1.5, 1.8),  # inside the degenerate ring's phantom envelope
    (1.5, 1.5, 2.5, 2.5),  # inside the hole of the holed polygon
    (-0.5, -0.5, 0.0, 0.0),  # corner at +-0.0
    (0.0, 0.0, 1.0, 1.0),  # equals the unit square
    (0.2, 0.2, 0.4, 0.4),  # inside the unit square (within)
    (2.0, 3.0, 6.0, 6.0),
    (-2.0, -2.0, 10.0, 10.0),  # covers everything: disjoint is empty
    (20.0, 20.0, 21.0, 21.0),  # touches nothing: empty result
    (-math.inf, -math.inf, math.inf, math.inf),
]


def _operator_frame(client, box, mode, **kw):
    return spatial.get_collection_by_bbox(
        client.catalog, COLL, box, comparison_mode=mode, database=DB, **kw
    ).toPandas()


def _client_raw(client, box, mode, where=None):
    df, refine = spatial.bbox_candidates(
        client.catalog, COLL, box, comparison_mode=mode, where=where, database=DB
    )
    return refine(df.toPandas())


def _same_frame(got, want):
    assert isinstance(got.index, pd.RangeIndex)
    pd.testing.assert_frame_equal(got, want, check_dtype=True, check_exact=True)


class TestPredicateBatch:
    def test_input_forms_agree(self):
        # Row values may be bytearrays; equal-length ones must stay one
        # value per row, not become a 2-D array of byte values
        from xcube_geodb_spark.geometry.udfs import bbox_predicate_batch

        wkbs = [_point_wkb(0.5, 0.5), _point_wkb(2.0, 2.0), _square(0.9, 0.9, 0.2), None]
        box = (0.0, 0.0, 1.0, 1.0)
        want = [True, False, True, False]
        for form in (list, pd.Series, lambda v: [bytearray(b) if b else b for b in v]):
            assert bbox_predicate_batch("intersects", form(wkbs), box).tolist() == want
        pair = [bytearray(_point_wkb(0.5, 0.5)), bytearray(_point_wkb(2.0, 2.0))]
        assert bbox_predicate_batch("intersects", pair, box).tolist() == [True, False]


class TestRefineEqualsOperator:
    @pytest.mark.parametrize("mode", COMPARISON_MODES)
    def test_every_mode_and_box(self, client, mode):
        for box in BOXES:
            want = _operator_frame(client, box, mode)
            _same_frame(_client_raw(client, box, mode), want)

    @pytest.mark.parametrize("mode", ["intersects", "disjoint", "within", "contains"])
    def test_where_and(self, client, mode):
        for box in BOXES:
            for where in ("v > 40", "flag", "name LIKE 'g1%' AND w < 3"):
                want = _operator_frame(client, box, mode, where=where)
                _same_frame(_client_raw(client, box, mode, where), want)

    def test_client_frame_matches_operator(self, client):
        for mode in COMPARISON_MODES:
            for box in BOXES[:4]:
                got = client.get_collection_by_bbox(
                    COLL, box, comparison_mode=mode, database=DB
                )
                want = _operator_frame(client, box, mode, where="id>-1")
                assert isinstance(got.index, pd.RangeIndex)
                assert got["id"].tolist() == want["id"].tolist()
                assert list(got.dtypes) == list(want.dtypes)
                assert got.attrs["crs"] == "EPSG:4326"

    def test_or_where_limit_offset_keep_operator_path(self, client):
        box = BOXES[5]
        for kw in (
            {"where": "v < 10", "op": "OR"},
            {"limit": 3},
            {"limit": 4, "offset": 2},
            {"offset": 5},
        ):
            got = client.get_collection_by_bbox(
                COLL, box, comparison_mode="intersects", database=DB, **kw
            )
            want = _operator_frame(
                client, box, "intersects", where=kw.get("where", "id>-1"),
                op=kw.get("op", "AND"), limit=kw.get("limit"), offset=kw.get("offset"),
            )
            assert got["id"].tolist() == want["id"].tolist(), kw
            assert isinstance(got.index, pd.RangeIndex)

    def test_empty_result(self, client):
        for mode in ("intersects", "contains"):
            got = client.get_collection_by_bbox(
                COLL, BOXES[7], comparison_mode=mode, database=DB
            )
            want = _operator_frame(client, BOXES[7], mode)
            assert len(got) == 0 and list(got.columns) == list(want.columns)
            assert list(got.dtypes) == list(want.dtypes)

    def test_invalid_mode_and_op_raise(self, client):
        from xcube_geodb_spark.errors import GeoDBError

        with pytest.raises(GeoDBError):
            client.get_collection_by_bbox(COLL, BOXES[0], comparison_mode="near", database=DB)
        with pytest.raises(GeoDBError):
            client.get_collection_by_bbox(COLL, BOXES[0], op="XOR", database=DB)


class TestCountEqualsOperator:
    @pytest.mark.parametrize("mode", COMPARISON_MODES)
    def test_every_mode_box_and_where(self, client, mode):
        for box in BOXES:
            for where, op in ((None, "AND"), ("v > 40", "AND"), ("v > 150", "OR"), ("flag", "OR")):
                want = spatial._bbox_filtered(
                    client.catalog, COLL, DB, box, mode, where, op
                ).count()
                got = client.count_collection_by_bbox(
                    COLL, box, comparison_mode=mode, where=where, op=op, database=DB
                )
                assert got == want, (mode, box, where, op)


class TestKnnEqualsOperator:
    def test_knn_frames(self, client):
        for point in ((0.0, 0.0), (2.0, 2.0), (4.5, 4.5), (7.0, 7.0), (30.0, -3.0)):
            for k in (1, 5, 17):
                want = spatial.get_knn(client.catalog, COLL, point, k=k, database=DB).toPandas()
                assert len(want) == k
                df, refine = spatial.knn_candidates(client.catalog, COLL, point, k=k, database=DB)
                _same_frame(refine(df.toPandas()), want)
                got = client.get_collection_knn(COLL, point, k=k, database=DB)
                assert got["id"].tolist() == want["id"].tolist()
                np.testing.assert_array_equal(got["dist"], want["dist"])

    def test_ties_break_by_id(self, spark, tmp_path):
        c = GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh"), user=DB)
        c.create_collection("ties", {"v": "int"})
        pts = ["POINT (1 0)", "POINT (0 1)", "POINT (-1 0)", "POINT (0 -1)", "POINT (3 3)"]
        for half in (pts[3:], pts[:3]):  # two files, the later ids first
            c.insert_into_collection("ties", pd.DataFrame({"geometry": half, "v": [1] * len(half)}))
        for k in (1, 2, 3, 4):
            want = spatial.get_knn(c.catalog, "ties", (0.0, 0.0), k=k, database=DB).toPandas()
            got = c.get_collection_knn("ties", (0.0, 0.0), k=k, database=DB)
            assert got["id"].tolist() == want["id"].tolist()
            assert got["dist"].tolist() == [1.0] * k
            assert got["id"].tolist() == sorted(got["id"].tolist())

    def test_null_geometries_sort_last(self, spark, tmp_path):
        # PG: ORDER BY geom <-> q puts NULL distances last
        c = GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh"), user=DB)
        c.create_collection("holes", {"v": "int"})
        geoms = [None, None, None, "POINT (2 2)", "POINT (1 1)"]
        c.insert_into_collection("holes", pd.DataFrame({"geometry": geoms, "v": range(5)}))
        c.create_collection("blank", {"v": "int"})
        c.insert_into_collection("blank", pd.DataFrame({"geometry": [None] * 3, "v": range(3)}))
        for coll, k, want_v in (
            ("holes", 0, []),
            ("holes", 2, [4, 3]),
            ("holes", 4, [4, 3, 0, 1]),
            ("blank", 2, [0, 1]),
        ):
            want = spatial.get_knn(c.catalog, coll, (0.0, 0.0), k=k, database=DB).toPandas()
            got = c.get_collection_knn(coll, (0.0, 0.0), k=k, database=DB)
            assert got["v"].tolist() == want["v"].tolist() == want_v

    def test_empty_collection(self, spark, tmp_path):
        c = GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh"), user=DB)
        c.create_collection("none", {"v": "int"})
        want = spatial.get_knn(c.catalog, "none", (0.0, 0.0), k=3, database=DB).toPandas()
        got = c.get_collection_knn("none", (0.0, 0.0), k=3, database=DB)
        assert len(got) == 0 and list(got.columns) == list(want.columns)
        assert c.count_collection_by_bbox("none", (0, 0, 1, 1), "intersects", database=DB) == 0
        assert len(c.get_collection_by_bbox("none", (0, 0, 1, 1), database=DB)) == 0


def _jobs_and_plans(spark, fn):
    """(number of Spark jobs, executed-plan texts) of what ``fn`` runs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = spark._jsparkSession.sharedState().statusStore()
    bus = sc._jsc.sc().listenerBus()  # both stores fill from its events

    def executions():  # retained SQL executions, newest first
        lst = store.executionsList()
        return (lst.apply(i) for i in range(lst.size() - 1, -1, -1))

    bus.waitUntilEmpty()
    jobs0 = set(tracker.getJobIdsForGroup(None))
    last = next((e.executionId() for e in executions()), -1)
    fn()
    bus.waitUntilEmpty()
    jobs = set(tracker.getJobIdsForGroup(None)) - jobs0
    plans = []
    for e in executions():
        if e.executionId() <= last:
            break
        plans.append(e.physicalPlanDescription())
    return len(jobs), plans


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn`` runs, from the status tracker."""
    return _jobs_and_plans(spark, fn)[0]


def spark_lane():
    """Within the block, pruned reads take the Spark lane: the driver bound
    (``dml.DRIVER_BYTES``) is 0."""
    return mock.patch.object(dml, "DRIVER_BYTES", 0)


def _no_python(plans):
    assert plans
    for p in plans:
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p


class TestJobsAndPlans:
    @pytest.fixture(scope="class")
    def town(self, spark, tmp_path_factory):
        """A few thousand squares over several files: a street-zoom box
        meets a handful of them."""
        c = GeoDBSparkClient(spark, warehouse=str(tmp_path_factory.mktemp("wh")), user=DB)
        c.create_collection("town", {"v": "int"})
        rng = np.random.default_rng(3)
        for i in range(4):  # one quarter of the unit square per file
            xy = rng.uniform(0, 0.5, (800, 2)) + [i % 2 / 2, i // 2 / 2]
            c.insert_into_collection(
                "town",
                pd.DataFrame(
                    {"geometry": [_square(x, y, 0.002) for x, y in xy], "v": range(800)}
                ),
            )
        # warm the load_df memo and the JIT
        c.get_collection_by_bbox("town", (0.4, 0.4, 0.41, 0.41), "intersects")
        return c

    # The job counts of the Spark lane: a bound below the kept files'
    # decoded size sends the read there.

    def test_street_bbox_read_is_one_job(self, spark, town):
        out = {}
        with spark_lane():
            n, plans = _jobs_and_plans(
                spark,
                lambda: out.setdefault(
                    "df", town.get_collection_by_bbox("town", (0.3, 0.3, 0.34, 0.33), "intersects")
                ),
            )
        assert len(out["df"]) > 0
        assert out["df"].attrs["read"]["lane"] == "spark"
        assert n == 1
        _no_python(plans)

    def test_count_intersects_is_one_job(self, spark, town):
        out = {}
        decision = {}
        with spark_lane():
            n, plans = _jobs_and_plans(
                spark,
                lambda: out.setdefault(
                    "n",
                    spatial.count_collection_by_bbox(
                        town.catalog, "town", (0.2, 0.2, 0.6, 0.5), "intersects",
                        database=DB, decision=decision,
                    ),
                ),
            )
        assert out["n"] > 0
        assert decision["lane"] == "spark"
        assert n == 1
        _no_python(plans)

    def test_knn_is_two_jobs(self, spark, town):
        out = {}
        with spark_lane():
            n, plans = _jobs_and_plans(
                spark, lambda: out.setdefault("df", town.get_collection_knn("town", (0.25, 0.25), k=10))
            )
        assert len(out["df"]) == 10
        assert out["df"].attrs["read"]["lane"] == "spark"
        assert n == 2
        _no_python(plans)

    # The same reads on the driver lane run no Spark job at all.

    def test_street_bbox_read_on_the_driver_runs_no_job(self, spark, town):
        out = {}
        n = _jobs(
            spark,
            lambda: out.setdefault(
                "df", town.get_collection_by_bbox("town", (0.3, 0.3, 0.34, 0.33), "intersects")
            ),
        )
        read = out["df"].attrs["read"]
        assert len(out["df"]) > 0 and read["lane"] == "driver"
        assert read["files_kept"] < read["files_total"]
        assert n == 0

    def test_count_intersects_on_the_driver_runs_no_job(self, spark, town):
        out, decision = {}, {}
        n = _jobs(
            spark,
            lambda: out.setdefault(
                "n",
                spatial.count_collection_by_bbox(
                    town.catalog, "town", (0.2, 0.2, 0.6, 0.5), "intersects",
                    database=DB, decision=decision,
                ),
            ),
        )
        assert out["n"] > 0 and decision["lane"] == "driver"
        assert n == 0

    def test_knn_on_the_driver_runs_no_job(self, spark, town):
        out = {}
        n = _jobs(
            spark, lambda: out.setdefault("df", town.get_collection_knn("town", (0.25, 0.25), k=10))
        )
        read = out["df"].attrs["read"]
        assert len(out["df"]) == 10 and read["lane"] == "driver"
        assert read["files_kept"] < read["files_total"]
        assert n == 0

    def test_operator_path_still_runs_the_udf(self, spark, town):
        # the DataFrame operator keeps its in-Spark refine
        df = spatial.get_collection_by_bbox(
            town.catalog, "town", (0.5, 0.5, 0.52, 0.51), "intersects", database=DB
        )
        n, plans = _jobs_and_plans(spark, df.toPandas)
        assert any("ArrowEvalPython" in p for p in plans)
