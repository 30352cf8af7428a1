"""Small client map and grammar reads prune files by their manifest stats
and read the kept files on the driver with pyarrow (the driver lane);
anything else reads them with Spark (the Spark lane). Both lanes build
their filter from one spec (``udfs.Conjunction`` for map reads, the parsed
``filters.Query`` for grammar reads) and hand an Arrow table to the same
conversion, refine and decode, so their frames must be equal, dtypes
included. These tests check that over generated collections and
predicates, check the driver lane metamorphically (NoREC, TLP), pin each
spec's spellings against each other, and cover every exit to the Spark
lane."""

from __future__ import annotations

import contextlib
import datetime as dt
import math
import struct
from unittest import mock

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xcube_geodb_spark.client import GeoDBSparkClient
from xcube_geodb_spark.geometry.geom import parse_wkt, to_wkb
from xcube_geodb_spark.geometry.predicates import COMPARISON_MODES
from xcube_geodb_spark.geometry.udfs import (
    Conjunction,
    envelope_decides,
    envelope_decides_arrow,
    envelope_terms,
)
from xcube_geodb_spark.operators import dml, spatial
from xcube_geodb_spark.operators.pruning import _excludes

DB = "lane"
NAN, INF = float("nan"), float("inf")


# -- the spec -----------------------------------------------------------------


def test_envelope_sql_is_the_prefilter_text():
    box = (1.0, -2.5, 3.0, 4.0)
    m = 1e-6 * 4.0
    assert envelope_terms("intersects", box).sql() == (
        f"(__xmin <= {3.0 + m!r}D) AND (__xmax >= {1.0 - m!r}D) AND "
        f"(__ymin <= {4.0 + m!r}D) AND (__ymax >= {-2.5 - m!r}D)"
    )
    assert envelope_terms("disjoint", box) is None
    c = Conjunction([("v", ">", 3), ("s", "<=", INF), ("s", "=", NAN)])
    assert c.sql() == (
        "(v > 3) AND (s <= CAST('Infinity' AS DOUBLE)) AND (s = CAST('NaN' AS DOUBLE))"
    )
    assert c.constraints() == [("v", "gt", 3), ("s", "lte", INF), ("s", "eq", NAN)]
    assert c.columns == ["v", "s"]


def test_arrow_expression_follows_spark_nan_order(spark):
    """Spark orders NaN above every number and equal to NaN; pyarrow's
    plain comparison is IEEE (NaN compares false), so ``x >= 1`` there
    drops a NaN row Spark keeps. The spec's expression keeps it, and is
    NULL exactly where Spark's term is."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    values = [NAN, -INF, -1.0, 0.0, 1.0, 2.5, INF, None]
    table = pa.table({"x": pa.array(values, pa.float64()), "i": pa.array(range(8))})
    assert table.filter(pc.field("x") >= 1.0)["i"].to_pylist() == [4, 5, 6]
    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate(values)],
        T.StructType([T.StructField("x", T.DoubleType()), T.StructField("i", T.LongType())]),
    )
    specs = [
        Conjunction([("x", op, lit)])
        for op in ("<", "<=", ">", ">=", "=")
        for lit in (1.0, 0.0, INF, -INF, NAN)
    ]
    rows = df.select(
        "i", *(F.expr(s.sql()).alias(f"s{j}") for j, s in enumerate(specs))
    ).orderBy("i").collect()
    for j, spec in enumerate(specs):
        want = sorted(r["i"] for r in rows if r[f"s{j}"])
        got = sorted(table.filter(spec.arrow({"x"}))["i"].to_pylist())
        assert got == want, spec.terms
        # TRUE, FALSE and NULL where Spark's are, so a negation stays right
        truth = ds.dataset(table).to_table(columns={"t": spec.arrow({"x"})})["t"].to_pylist()
        assert truth == [r[f"s{j}"] for r in rows], spec.terms
    # a NaN envelope value passes the intersects pre-filter's `>=` terms
    nan_row = pa.table({c: [NAN] for c in ("__xmin", "__ymin", "__xmax", "__ymax")})
    spec = Conjunction([("__xmax", ">=", 0.0), ("__ymax", ">=", 0.0)])
    assert nan_row.filter(spec.arrow({"__xmax", "__ymax"})).num_rows == 1


_TYPES = {
    "id": T.LongType(), "v": T.IntegerType(), "x": T.DoubleType(), "r": T.FloatType(),
    "s": T.StringType(), "b": T.BooleanType(), "ts": T.TimestampType(),
    "tags": T.ArrayType(T.StringType()),
}


@pytest.mark.parametrize("query", [
    "id=eq.5", "v=not.in.(1,2)", "x=gte.NaN", "x=lt.3", "x=in.(1,2.5,NaN)", "s=eq.0123",
    "s=in.(a,\"b c\")", "b=is.true", "ts=is.null", "tags=is.null",
    "not.or=(v.lt.1,and(x.gt.0,s.neq.a))", "order=x.desc.nullslast,s,id",
])
def test_arrow_lowering_covers(query):
    from xcube_geodb_spark.filters import parse_query

    assert parse_query(query).arrow(_TYPES) is not None


@pytest.mark.parametrize("query", [
    "v=eq.2.5", "v=eq.true", "id=eq.99999999999999999999", "x=eq.a", "s=like.a*", "s=ilike.a*",
    "s=match.a", "s=fts.a", "tags=cs.{a}", "r=eq.1", "ts=gt.2020-01-01", "v=is.true",
    "b=is.maybe", "s->>k=eq.1", "nope=eq.1", "v=in.1,2", "v=in.()",
    "x=in.(1,2,3,4,5,6,7,8,9,10,11)", "or=(v.eq.1,s.like.a*)",
])
def test_arrow_lowering_refuses(query):
    """Outside the subset the lowering is None: the read stays on Spark."""
    from xcube_geodb_spark.filters import parse_query

    assert parse_query(query).arrow(_TYPES) is None


def test_envelope_decides_arrow_is_the_spark_split(spark):
    """The driver lane's count settles the same rows by envelope as the
    Spark lane's: ``envelope_decides_arrow`` equals ``envelope_decides``
    row for row, over layouts it must refuse and envelopes that are NULL,
    NaN, infinite or inverted, for ordinary, infinite and NaN boxes."""
    ring = struct.pack("<I", 5) + b"".join(
        struct.pack("<dd", a, b) for a, b in ((0, 0), (1, 0), (1, 1), (0, 1), (0, 0))
    )
    geoms = [
        None,
        _point(0.5, 0.5),
        _line(0.5, 0.5, 0.1),
        _square(0.5, 0.5, 0.1),
        struct.pack("<BII", 1, 3, 2) + ring + ring,  # two rings
        struct.pack("<BII", 1, 6, 1) + _square(0.5, 0.5, 0.1),  # multipolygon
        struct.pack("<BII", 1, 3, 0),  # empty polygon
        b"\x01\x01\x00\x00",  # truncated
        struct.pack(">BIdd", 0, 1, 0.5, 0.5),  # big-endian point
    ]
    envs = [
        (0.4, 0.4, 0.6, 0.6), (-2.0, -2.0, -1.0, -1.0), (0.0, 0.0, 1.0, 1.0),
        (NAN, 0.4, 0.6, 0.6), (0.4, 0.4, INF, 0.6), (-INF, 0.4, 0.6, 0.6),
        (0.6, 0.4, 0.4, 0.6), (None, None, None, None),
    ]
    rows = [(i, g, *e) for i, (g, e) in enumerate((g, e) for g in geoms for e in envs)]
    cols = ["i", "geometry", "__xmin", "__ymin", "__xmax", "__ymax"]
    table = pa.table(
        {c: [r[j] for r in rows] for j, c in enumerate(cols)},
        schema=pa.schema([("i", pa.int64()), ("geometry", pa.binary())]
                         + [(c, pa.float64()) for c in cols[2:]]),
    )
    df = spark.createDataFrame(
        rows, "i long, geometry binary, __xmin double, __ymin double, __xmax double, __ymax double"
    )
    for box in [(0.0, 0.0, 1.0, 1.0), (0.45, 0.45, 0.55, 0.55), (-INF, -INF, INF, INF), (0.0, 0.0, NAN, 1.0)]:
        inside, clear = envelope_decides(box)
        got = df.select("i", inside.alias("a"), clear.alias("b")).collect()
        a_in, a_clear = envelope_decides_arrow(box)
        assert table.filter(a_in)["i"].to_pylist() == sorted(r["i"] for r in got if r["a"]), box
        assert table.filter(a_clear)["i"].to_pylist() == sorted(r["i"] for r in got if r["b"]), box
        assert table.filter(~(a_in | a_clear)).num_rows == sum(1 for r in got if not (r["a"] or r["b"]))


def test_file_stats_test_is_the_row_test_on_the_bounds():
    # a file is dropped only when no value in [lo, hi] passes the term
    rng = np.random.default_rng(5)
    for _ in range(300):
        lo, hi = np.sort(rng.choice([-1.0, 0.0, 0.5, 1.0, 2.0], 2))
        op = rng.choice(["<", "<=", ">", ">=", "="])
        lit = float(rng.choice([-1.0, 0.0, 0.5, 1.0, 2.0]))
        [(_, pop, plit)] = Conjunction([("x", op, lit)]).constraints()
        vals = np.linspace(lo, hi, 9)
        passes = {"<": vals < lit, "<=": vals <= lit, ">": vals > lit,
                  ">=": vals >= lit, "=": vals == lit}[op]
        if _excludes(pop, plit, lo, hi):
            assert not passes.any()


@pytest.mark.parametrize(
    "where, want",
    [
        (None, []),
        ("", []),
        ("id>-1", [("id", ">", -1)]),
        ("v > 40 AND score <= 2.5", [("v", ">", 40), ("score", "<=", 2.5)]),
        ("ID = 3 and Score >= 1e3", [("id", "=", 3), ("score", ">=", 1000.0)]),
        ("score < -.5", [("score", "<", -0.5)]),
    ],
)
def test_where_terms_understood(where, want):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("f", T.FloatType()),
            T.StructField("name", T.StringType()),
        ]
    )
    got = spatial.where_terms(where, schema)
    assert got is not None and list(got.terms) == want


@pytest.mark.parametrize(
    "where",
    [
        "v > 40 OR score < 2",
        "name = 'a'",
        "v > 1.5",  # an integral column against a fraction
        "f > 1",  # FLOAT: Spark and pyarrow widen differently
        "v != 3",
        "v <> 3",
        "abs(v) > 1",
        "v BETWEEN 1 AND 2",
        "3 < v",
        "nope > 1",
        "v > 99999999999999999999",
        "(v > 1)",
        "v > 1 AND",
    ],
)
def test_where_terms_not_understood(where):
    schema = T.StructType(
        [
            T.StructField("v", T.LongType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("f", T.FloatType()),
            T.StructField("name", T.StringType()),
        ]
    )
    assert spatial.where_terms(where, schema) is None


# -- generated collections ----------------------------------------------------


def _square(x, y, h):
    return struct.pack("<BII", 1, 3, 1) + struct.pack("<I", 5) + b"".join(
        struct.pack("<dd", a, b)
        for a, b in ((x - h, y - h), (x + h, y - h), (x + h, y + h), (x - h, y + h), (x - h, y - h))
    )


def _point(x, y):
    return struct.pack("<BIdd", 1, 1, x, y)


def _line(x, y, h):
    return struct.pack("<BII", 1, 2, 2) + struct.pack("<dddd", x - h, y, x + h, y + h)


_ODD = [
    None,
    struct.pack("<BII", 1, 4, 0),  # empty multipoint
    struct.pack("<BII", 1, 3, 0),  # empty polygon
    _point(NAN, 0.5),
    _point(0.5, INF),
    _line(NAN, 0.2, 0.1),
    # a multipoint with one NaN member: its envelope is the other member's
    struct.pack("<BII", 1, 4, 2) + _point(0.3, 0.3) + _point(NAN, 0.4),
]


def _geoms(rng, n, cx, cy):
    out = []
    for _ in range(n):
        x, y = rng.normal(cx, 0.08), rng.normal(cy, 0.08)
        kind = rng.integers(0, 3)
        out.append(
            _point(x, y) if kind == 0 else _square(x, y, rng.uniform(0.001, 0.05))
            if kind == 1 else _line(x, y, rng.uniform(0.001, 0.05))
        )
    return out


def driver_bound(nbytes):
    """Within the block, the driver takes on at most ``nbytes`` decoded
    bytes (``dml.DRIVER_BYTES``), for reads and commits alike."""
    return mock.patch.object(dml, "DRIVER_BYTES", nbytes)


def spark_lane():
    """Within the block, pruned reads take the Spark lane (and commits
    Spark's write)."""
    return driver_bound(0)


def _history(client, coll, seed, batches=5, rows=30):
    """A collection built by a seeded history: spatially apart batches, some
    written by Spark (INT96 timestamps), some on the driver, an added and a
    dropped property, NULL / NaN / infinite values and odd geometries, and a
    property of every Spark type a collection can declare."""
    rng = np.random.default_rng(seed)
    client.create_collection(
        coll,
        {
            "v": "int", "w": "int", "score": "float", "name": "text", "ts": "timestamp",
            "d": "date", "sm": "smallint", "i4": "int4", "r": "real", "flag": "bool",
            "raw": "bytea", "ai": "int[]", "at": "text[]", "af": "real[]",
        },
        database=DB,
    )
    for b in range(batches):
        if b == 2:
            client.add_property(coll, "late", "int", database=DB)
            client.add_property(coll, "late_tags", "text[]", database=DB)
        if b == 3:
            client.drop_property(coll, "w", database=DB)
        cx, cy = (b % 3) * 0.4, (b // 3) * 0.4
        geoms = _geoms(rng, rows, cx, cy) + (_ODD if b == 1 else [])
        n = len(geoms)
        cols = client.catalog.meta(coll, DB).properties
        frame = {
            "geometry": geoms,
            "v": pd.array([None if i % 7 == 3 else int(rng.integers(0, 50)) for i in range(n)], dtype="Int64"),
            "score": [
                [NAN, INF, -INF, None, -0.0, 0.0][i % 6] if i % 5 == 0 else float(rng.uniform(-1, 3))
                for i in range(n)
            ],
            "name": [None if i % 6 == 0 else f"n{b}{i}" for i in range(n)],
            "ts": [None if i % 4 == 1 else dt.datetime(2020, 1, 1 + i % 20) for i in range(n)],
            "d": [None if i % 5 == 2 else dt.date(1999, 12, 1 + i % 28) for i in range(n)],
            "sm": pd.array([None if i % 6 == 4 else i - 10 for i in range(n)], dtype="Int16"),
            "i4": pd.array([None if i % 8 == 5 else i * 1000 for i in range(n)], dtype="Int32"),
            "r": [None if i % 7 == 1 else [NAN, 0.1, -2.5][i % 3] for i in range(n)],
            "flag": [None if i % 9 == 0 else bool(i % 2) for i in range(n)],
            "raw": [None if i % 4 == 0 else bytes([i % 256]) * (i % 3) for i in range(n)],
            "ai": [None if i % 5 == 0 else [i, None, -i][: i % 4] for i in range(n)],
            "at": [None if i % 6 == 1 else [f"t{i}", None][: i % 3] for i in range(n)],
            "af": [None if i % 3 == 0 else [0.5, NAN][: i % 3] for i in range(n)],
        }
        if "w" in cols:
            frame["w"] = [i % 3 for i in range(n)]
        if "late" in cols:
            frame["late"] = [i for i in range(n)]
            frame["late_tags"] = [None if i % 2 else [f"x{i}"] for i in range(n)]
        with driver_bound(0 if b % 2 else dml.DRIVER_BYTES):  # odd batches: Spark-written
            client.insert_into_collection(coll, pd.DataFrame(frame), database=DB)
    return rng


def _comparable(pdf):
    out = pdf.copy()
    if "geometry" in out.columns:
        out["geometry"] = out["geometry"].map(lambda g: None if g is None else to_wkb(g, srid=0))
    return out


def _same(a, b):
    pd.testing.assert_frame_equal(_comparable(a), _comparable(b), check_dtype=True, check_exact=True)


def _boxes(client, coll, rng):
    """Boxes on the files' envelope edges, one pre-filter margin in and out,
    and a few ordinary ones."""
    fstats = client.catalog.meta(coll, DB).file_stats()
    out = [(-1.0, -1.0, 2.0, 2.0), (0.3, 0.3, 0.5, 0.5), (-INF, -INF, INF, INF)]
    for st in fstats.values():
        if not all(c in st for c in ("__xmin", "__ymin", "__xmax", "__ymax")):
            continue
        env = (st["__xmin"][0], st["__ymin"][0], st["__xmax"][1], st["__ymax"][1])
        if not all(math.isfinite(v) for v in env):
            continue
        m = 1e-6 * max(abs(v) for v in (*env, 1.0))
        x0, y0, x1, y1 = env
        out += [
            (x1, y1, x1 + 0.1, y1 + 0.1),  # corner on the file's max corner
            (x0 - 0.1, y0 - 0.1, x0, y0),
            (x1 + m * 1.5, y0, x1 + 0.2, y1),  # just outside the margin
            (x1 + m * 0.5, y0, x1 + 0.2, y1),  # just inside it
            env,
        ]
    pick = rng.permutation(len(out))[: 8]
    return [out[i] for i in sorted(pick)] + out[:3]


WHERES = [None, "id>-1", "v > 20", "score >= 0.5 AND v < 40", "name LIKE 'n1%'"]


def _reads(client, coll, boxes, points, ks):
    """Every read's frame or count, and the lanes they took."""
    out, lanes = {}, set()
    for mode in COMPARISON_MODES:
        for box in boxes:
            for where in WHERES:
                f = client.get_collection_by_bbox(coll, box, mode, where=where, database=DB)
                out[("bbox", mode, box, where)] = f
                lanes.add(_lane(where, f.attrs["read"]))
    for mode in ("intersects", "disjoint"):
        for box in boxes:
            for where in WHERES:
                d = {}
                out[("count", mode, box, where)] = spatial.count_collection_by_bbox(
                    client.catalog, coll, box, mode, where=where, database=DB, decision=d
                )
                lanes.add(_lane(where, d))
    for p in points:
        for k in ks:
            f = client.get_collection_knn(coll, p, k=k, database=DB)
            out[("knn", p, k)] = f
            lanes.add(_lane(None, f.attrs["read"]))
    return out, lanes


def _lane(where, decision):
    # a read that keeps no file needs no Spark job on either lane
    return where, decision["lane"] if decision["files_kept"] else "nothing"


def _differential(spark, tmp_path, seed, batches, rows, nboxes, operator_bbox=False):
    """Every read on both lanes over a generated history; the knn frames
    (and with ``operator_bbox`` the bbox frames) also against the
    DataFrame operators'."""
    client = GeoDBSparkClient(spark, warehouse=str(tmp_path / f"wh{seed}"), user=DB)
    coll = f"g{seed}"
    rng = _history(client, coll, seed, batches, rows)
    boxes = _boxes(client, coll, rng)[: nboxes]
    n_geoms = batches * rows + 3
    points = [(0.3, 0.3), (float(rng.uniform(-0.5, 1.5)), float(rng.uniform(-0.5, 1.5)))]
    ks = [1, 7, n_geoms + 5]
    lane, lane_used = _reads(client, coll, boxes, points, ks)
    with spark_lane():
        spark_out, spark_used = _reads(client, coll, boxes, points, ks)
    assert {lane for _, lane in spark_used} <= {"spark", "nothing"}
    # the driver lane takes every read but the one `where` the spec cannot say
    assert lane_used - {(w, "nothing") for w in WHERES} == (
        {(w, "driver") for w in WHERES[:-1]} | {(WHERES[-1], "spark")}
    )
    _grammar_differential(client, coll, rng)
    pruned = False
    for key, got in lane.items():
        want = spark_out[key]
        if key[0] == "count":
            assert got == want, key
            continue
        _same(got, want)
        read = got.attrs["read"]
        pruned |= read["files_kept"] < read["files_total"]
        if key[0] == "bbox" and operator_bbox and key[3] in (None, WHERES[3]):
            op_frame = spatial.get_collection_by_bbox(
                client.catalog, coll, key[2], key[1], where=key[3], database=DB
            ).toPandas()
            assert got["id"].tolist() == op_frame["id"].tolist(), key
        elif key[0] == "knn":
            op_frame = spatial.get_knn(client.catalog, coll, key[1], k=key[2], database=DB).toPandas()
            assert got["id"].tolist() == op_frame["id"].tolist(), key
            np.testing.assert_array_equal(got["dist"], op_frame["dist"])
    assert pruned


# -- grammar reads -------------------------------------------------------------

# leaves of the pyarrow lowering's subset over the `_history` columns: NULL
# in every column, NaN, +-inf and -0.0 in `score`, `late` added mid-history
_LEAVES = [
    *(f"v.{op}.{k}" for op in ("eq", "neq", "gt", "gte", "lt", "lte") for k in (7, 20, 33)),
    "v.in.(1,2,3,40)", "v.is.null",
    *(f"score.{op}.{x}" for op in ("eq", "gt", "gte", "lt", "le")
      for x in ("0.5", "-0.0", "NaN", "Infinity", "-Infinity")),
    "score.neq.NaN", "score.in.(0.0,NaN,Infinity)", "score.is.null",
    "name.eq.n12", "name.gt.n2", "name.lt.n1", 'name.in.(n10,n21,"n3 4")', "name.is.null",
    "flag.is.true", "flag.is.false", "flag.is.null",
    "late.gt.5", "late.is.null", "sm.lt.0", "i4.gte.10000", "ts.is.null",
]
_ORDER_KEYS = ["score", "v", "name", "flag", "sm", "late", "ts", "d", "r"]


def _grammar_query(rng) -> str:
    """A random filter of ``_LEAVES`` (nested ``and``/``or`` groups and
    ``not.`` at every level), ordered by keys ending in ``id``, with a
    limit or offset now and then."""

    def leaf():
        col, _, rest = str(rng.choice(_LEAVES)).partition(".")
        return col, f"{'not.' if rng.random() < 0.3 else ''}{rest}"

    def group(depth):
        head = f"{'not.' if rng.random() < 0.3 else ''}{'and' if rng.random() < 0.5 else 'or'}"
        return head, ",".join(member(depth) for _ in range(rng.integers(1, 4)))

    def member(depth):
        if depth < 2 and rng.random() < 0.35:
            return "{}({})".format(*group(depth + 1))
        return "{}.{}".format(*leaf())

    parts = [
        "{}=({})".format(*group(0)) if rng.random() < 0.5 else "{}={}".format(*leaf())
        for _ in range(rng.integers(1, 3))
    ]
    keys = [str(k) for k in rng.choice(_ORDER_KEYS, rng.integers(0, 3), replace=False)]
    order = [f"{k}{rng.choice(['', '.asc', '.desc'])}{rng.choice(['', '.nullsfirst', '.nullslast'])}"
             for k in keys]
    parts.append("order=" + ",".join([*order, f"id{rng.choice(['', '.desc'])}"]))
    if rng.random() < 0.3:
        parts.append(f"limit={rng.integers(0, 12)}")
    if rng.random() < 0.2:
        parts.append(f"offset={rng.integers(0, 8)}")
    return "&".join(parts)


# fixed reads: every case the lowering must spell out
_GRAMMAR = [
    "score=not.gt.0.5&order=id", "score=not.eq.NaN&order=id", "v=not.lt.20&order=id",
    "not.and=(score.gte.0,v.lt.30)&order=id",
    "or=(v.lt.5,and(score.gt.1,v.gte.30))&order=id.desc",
    "and=(or(v.eq.3,score.eq.NaN),not.or(late.is.null,flag.is.false))&order=id",
    "v=in.(1,2,3,40)&order=id", "score=in.(0.5,Infinity,NaN,-0.0)&order=id",
    'name=in.(n10,n21,"n3 4")&order=id', "name=eq.n12&order=id", "name=gt.n2&order=name,id",
    "late=is.null&order=id", "flag=is.true&order=id", "flag=not.is.false&order=id",
    *(f"order=score{d}{n},id" for d in ("", ".asc", ".desc") for n in ("", ".nullsfirst", ".nullslast")),
    "order=v.desc.nullsfirst,name.nullsfirst,id",
    "v=gt.5&order=score.desc,id&limit=7&offset=3", "order=id&offset=200",
]


def _grammar_reads(client, coll, queries):
    out = {}
    for q in queries:
        out[q] = client.get_collection(coll, q, database=DB)
    out["limit arg"] = client.get_collection(coll, "order=score,id", database=DB, limit=4, offset=2)
    return out


def _grammar_differential(client, coll, rng):
    """Grammar reads on both lanes: equal frames, dtypes included; every
    one of these takes the driver lane unless forced onto Spark. A lookup
    keeps one file and needs no order; an unordered read of several files,
    a filter outside the lowering and a dropped column take Spark."""
    first_id = int(client.get_collection(coll, "order=id&limit=1", database=DB)["id"][0])
    queries = [*_GRAMMAR, *(_grammar_query(rng) for _ in range(40)), f"id=eq.{first_id + 3}"]
    lane = _grammar_reads(client, coll, queries)
    with spark_lane():
        on_spark = _grammar_reads(client, coll, queries)
    for key, got in lane.items():
        assert got.attrs["read"]["lane"] == "driver", key
        # a read that keeps no file fits any bound
        assert _lane(None, on_spark[key].attrs["read"])[1] in ("spark", "nothing"), key
        _same(got, on_spark[key])
    assert lane[f"id=eq.{first_id + 3}"].attrs["read"]["files_kept"] == 1
    for q in ("late=gt.5", "name=like.n1*&order=id", "ts=gt.2020-01-05&order=id", "v=eq.2.5&order=id"):
        got = client.get_collection(coll, q, database=DB)
        assert got.attrs["read"]["lane"] == "spark", q
    with pytest.raises(Exception, match="w"):
        client.get_collection(coll, "w=eq.1&order=id", database=DB)


def test_lane_equals_spark_lane(spark, tmp_path):
    _differential(spark, tmp_path, seed=1, batches=5, rows=25, nboxes=3)


@pytest.mark.slow
@pytest.mark.parametrize("seed", [2, 3, 4])
def test_lane_equals_spark_lane_sweep(spark, tmp_path, seed):
    _differential(spark, tmp_path, seed=seed, batches=6, rows=60, nboxes=6, operator_bbox=True)


def spark_rewrite():
    """Within the block, deletes and updates take the Spark lane; a batch
    that fits the driver is still collected and written there, so both
    lanes write through ``write_local_parquet``."""
    return mock.patch.object(dml, "driver_rewrite_filter", lambda *a, **k: None)


def collect_insert():
    """Within the block, pandas inserts take the collect lane
    (``createDataFrame``, then one collect job) in place of the driver's
    Arrow batch."""
    return mock.patch.object(dml, "driver_insert_batch", lambda *a, **k: None)


def _lone_files(cat, coll) -> list[tuple[int, int]]:
    """The id ranges of the files whose ids no other file overlaps: a
    filter inside one of them touches that file alone."""
    spans = sorted(tuple(st["id"]) for st in cat.meta(coll, DB).file_stats().values() if "id" in st)
    return [
        (lo, hi) for i, (lo, hi) in enumerate(spans)
        if (i == 0 or spans[i - 1][1] < lo) and (i == len(spans) - 1 or hi < spans[i + 1][0])
    ]


def _metamorphic(client, coll, rng, pruning_queries, wheres, n_leaves):
    """NoREC: each pruning query's pruned read equals its read of every
    file. TLP: each of ``wheres`` splits into the reads of ``p``, ``not p``
    and ``p IS NULL`` for ``n_leaves`` leaves ``p``. All on the driver."""
    from xcube_geodb_spark.operators import pruning

    for q in pruning_queries:
        pruned = client.get_collection(coll, q, database=DB)
        with mock.patch.object(pruning, "query_files", lambda *a, **k: None):
            every = client.get_collection(coll, q, database=DB)
        assert pruned.attrs["read"]["lane"] == every.attrs["read"]["lane"] == "driver", q
        assert every.attrs["read"]["files_kept"] == every.attrs["read"]["files_total"]
        _same(pruned, every)

    def got(q):
        f = client.get_collection(coll, q, database=DB)
        assert f.attrs["read"]["lane"] == "driver", q
        return f["id"].tolist()

    for q in wheres:
        for leaf in rng.choice(_LEAVES, n_leaves, replace=False):
            col, _, cond = str(leaf).partition(".")
            whole = got(f"{q}&order=id")
            parts = [got(f"{q}&{col}={c}&order=id") for c in (cond, f"not.{cond}", "is.null")]
            if cond.startswith("is."):  # `p IS NULL` of an IS test is never true
                parts[2] = []
            assert sorted(parts[0] + parts[1] + parts[2]) == whole, (q, leaf)


def test_grammar_reads_are_metamorphic_on_the_driver(spark, tmp_path):
    """On the driver lane, over a generated history and after each later
    step (deletes and literal updates on both rewrite lanes, a compaction,
    a restore): the pruned read equals the read of every file (NoREC), and
    a read splits into the reads of ``p``, ``not p`` and ``p IS NULL`` for
    a leaf ``p`` (TLP)."""
    client = GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh"), user=DB)
    cat = client.catalog
    rng = _history(client, "m", seed=7, batches=5, rows=25)
    ids = client.get_collection("m", "order=id", database=DB)["id"].tolist()
    a, b = ids[len(ids) // 5], ids[len(ids) // 2]
    pruning_queries = [
        f"id=gte.{a}&id=lte.{b}&order=id", f"and=(id.gt.{a},v.lt.30,or(score.gt.1,flag.is.true))&order=id",
        f"id=in.({a},{b},{ids[-1]})&order=v.desc,id", "late=gte.3&score=lt.NaN&order=score,id",
        *(_grammar_query(rng) + f"&id=lte.{b}" for _ in range(10)),
    ]
    wheres = [*(_grammar_query(rng).split("&order=")[0] for _ in range(6)), "v=gte.0"]
    _metamorphic(client, "m", rng, pruning_queries, wheres, 6)
    assert any(
        client.get_collection("m", q, database=DB).attrs["read"]["files_kept"] < len(cat.meta("m", DB).files)
        for q in pruning_queries
    )

    def in_one_file(where, values=None, lane="driver"):
        def step():
            lo, hi = _lone_files(cat, "m")[int(rng.integers(0, len(_lone_files(cat, "m"))))]
            query = f"id=gte.{lo}&id=lte.{hi}&{where}"
            with contextlib.nullcontext() if lane == "driver" else spark_rewrite():
                if values is None:
                    client.delete_from_collection("m", query, database=DB)
                else:
                    client.update_collection("m", values, query, database=DB)
            assert cat.list_versions("m", DB)[-1]["operationMetrics"]["lane"] == (
                "driver" if lane == "driver" else "collect")
        return step

    steps = [
        in_one_file("score=not.gt.0.5"),
        in_one_file("or=(v.lt.10,name.is.null)", {"score": 2, "name": "u", "flag": None}),
        in_one_file("flag=is.true", lane="spark"),
        in_one_file("late=is.null", {"late": 4, "v": None}, lane="spark"),
        lambda: client.update_collection("m", {"v": 41}, f"id=lte.{b}&score=gt.1.5", database=DB),
        lambda: client.optimize_collection("m", database=DB),
        lambda: client.restore_collection("m", cat.meta("m", DB).version - 3, database=DB),
        in_one_file("v=gte.20", {"name": None}),
    ]
    for i, step in enumerate(steps):
        version = cat.meta("m", DB).version
        step()
        assert cat.meta("m", DB).version == version + 1, i
        _metamorphic(
            client, "m", rng, rng.choice(pruning_queries, 4, replace=False),
            rng.choice(wheres, 2, replace=False), 3,
        )
    assert [v["operation"] for v in cat.list_versions("m", DB)[-len(steps):]] == [
        "DELETE", "UPDATE", "DELETE", "UPDATE", "UPDATE", "OPTIMIZE", "RESTORE", "UPDATE"]


# -- exits to the Spark lane --------------------------------------------------


@pytest.fixture(scope="module")
def quarters(spark, tmp_path_factory):
    """Four files, one per quarter of the unit square."""
    c = GeoDBSparkClient(spark, warehouse=str(tmp_path_factory.mktemp("wh")), user=DB)
    c.create_collection("q", {"v": "int", "name": "text"}, database=DB)
    rng = np.random.default_rng(11)
    for i in range(4):
        xy = rng.uniform(0, 0.5, (200, 2)) + [i % 2 / 2, i // 2 / 2]
        c.insert_into_collection(
            "q",
            pd.DataFrame(
                {
                    "geometry": [_square(x, y, 0.004) for x, y in xy],
                    "v": range(200),
                    "name": [f"n{j}" for j in range(200)],
                }
            ),
            database=DB,
        )
    return c


STREET = (0.2, 0.2, 0.24, 0.23)


def _jobs(spark, fn) -> int:
    """The Spark jobs ``fn`` runs (``statusTracker``, listener bus drained)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    fn()
    bus.waitUntilEmpty()
    return len(set(sc.statusTracker().getJobIdsForGroup(None)) - before)


@pytest.mark.parametrize("lane", ["driver", "spark"])
def test_client_map_reads_take_one_manifest_snapshot(quarters, lane):
    """A client bbox, count, knn or grammar read parses the manifest once:
    the SRID for CRS alignment and for ``attrs["crs"]`` comes from the
    snapshot the read prunes. So does a count in a mode the manifest does
    not prune, on a fresh client (a cold ``load_df`` memo)."""
    cat = quarters.catalog
    fresh = GeoDBSparkClient(quarters.spark, warehouse=cat.warehouse, user=DB)
    reads = {
        "lookup": lambda: quarters.get_collection("q", "id=eq.5", database=DB),
        "filter": lambda: quarters.get_collection("q", "v=lt.3&order=id", database=DB),
        "all": lambda: quarters.get_collection("q", database=DB),
        "contains count": lambda: fresh.count_collection_by_bbox(
            "q", STREET, "contains", database=DB),
        "bbox": lambda: quarters.get_collection_by_bbox(
            "q", STREET, "intersects", database=DB),
        "bbox 3857": lambda: quarters.get_collection_by_bbox(
            "q", (0, 0, 50000, 50000), "intersects", bbox_crs=3857, database=DB),
        "count": lambda: quarters.count_collection_by_bbox(
            "q", STREET, "intersects", database=DB),
        "knn": lambda: quarters.get_collection_knn("q", (0.3, 0.3), k=3, database=DB),
    }
    with driver_bound(dml.DRIVER_BYTES if lane == "driver" else 0):
        for name, read in reads.items():
            with mock.patch.object(cat, "meta", wraps=cat.meta) as meta, mock.patch.object(
                fresh.catalog, "meta", wraps=fresh.catalog.meta
            ) as fresh_meta:
                out = read()
            assert meta.call_count + fresh_meta.call_count == 1, name
            if isinstance(out, pd.DataFrame):
                assert out.attrs["crs"] == "EPSG:4326", name


def test_small_pruned_reads_take_the_driver_lane(quarters):
    for where in (None, "id>-1", "v >= 10 AND v < 150"):
        f = quarters.get_collection_by_bbox("q", STREET, "intersects", where=where, database=DB)
        assert len(f) > 0
        assert f.attrs["read"]["lane"] == "driver"
        assert f.attrs["read"]["files_kept"] == 1 < f.attrs["read"]["files_total"] == 4
        assert f.attrs["read"]["decoded_bytes"] > 0
        d = {}
        spatial.count_collection_by_bbox(
            quarters.catalog, "q", STREET, "intersects", where=where, database=DB, decision=d
        )
        assert d["lane"] == "driver" and d["files_kept"] == 1
    f = quarters.get_collection_knn("q", (0.25, 0.25), k=5, database=DB)
    assert f.attrs["read"]["lane"] == "driver"
    assert f.attrs["read"]["files_kept"] < f.attrs["read"]["files_total"]


def test_grammar_reads_on_the_driver_run_no_job(spark, quarters):
    """A lookup and an ordered filter read on the driver with no Spark
    job; on the Spark lane each is one job. An unordered read that keeps
    more than one file takes the Spark lane."""
    reads = {
        "lookup": lambda: quarters.get_collection("q", "id=eq.5", database=DB),
        "ordered filter": lambda: quarters.get_collection(
            "q", "or=(v.eq.7,v.eq.8)&order=id&limit=5", database=DB),
    }
    for name, read in reads.items():
        out = {}
        assert _jobs(spark, lambda: out.setdefault("f", read())) == 0, name
        assert out["f"].attrs["read"]["lane"] == "driver" and len(out["f"]) > 0, name
        with spark_lane():
            assert _jobs(spark, lambda: out.update(s=read())) == 1, name
        assert out["s"].attrs["read"]["lane"] == "spark", name
        _same(out["f"], out["s"])
    lookup = quarters.get_collection("q", "id=eq.5", database=DB).attrs["read"]
    assert lookup["files_kept"] == 1 < lookup["files_total"] == 4
    unordered = quarters.get_collection("q", "v=eq.7", database=DB)
    assert unordered.attrs["read"]["lane"] == "spark" and unordered.attrs["read"]["files_kept"] == 4
    assert sorted(unordered["v"].tolist()) == [7] * 4


def test_driver_count_decodes_only_the_boundary(quarters, monkeypatch):
    """A driver-lane count settles rows by envelope in pyarrow, as the
    Spark lane does in the JVM; only the rest reach the Python kernel."""
    seen = []
    kernel = spatial.bbox_predicate_batch

    def counting(mode, geoms, box):
        seen.append(len(geoms))
        return kernel(mode, geoms, box)

    monkeypatch.setattr(spatial, "bbox_predicate_batch", counting)
    box = (0.1, 0.1, 0.4, 0.4)  # inside one file's quarter
    for mode in ("intersects", "disjoint"):
        d = {}
        n = spatial.count_collection_by_bbox(quarters.catalog, "q", box, mode, database=DB, decision=d)
        assert d["lane"] == "driver"
        with spark_lane():
            assert spatial.count_collection_by_bbox(quarters.catalog, "q", box, mode, database=DB) == n
        driver, on_spark = seen[-2:]
        assert 0 < driver == on_spark < 40  # a ring of boundary squares of 200 rows


def test_other_where_takes_the_spark_lane(quarters):
    for where in ("name LIKE 'n1%'", "v != 3", "v > 1.5"):
        f = quarters.get_collection_by_bbox("q", STREET, "intersects", where=where, database=DB)
        read = f.attrs["read"]
        # still pruned by the envelope
        assert read["lane"] == "spark" and read["files_kept"] == 1
        d = {}
        spatial.count_collection_by_bbox(
            quarters.catalog, "q", STREET, "intersects", where=where, database=DB, decision=d
        )
        assert d["lane"] == "spark"


def test_or_limit_offset_take_the_operator(quarters):
    for kw in ({"where": "v < 10", "op": "OR"}, {"limit": 3}, {"offset": 2}):
        f = quarters.get_collection_by_bbox("q", STREET, "intersects", database=DB, **kw)
        assert "read" not in f.attrs, kw
    d = {}
    spatial.count_collection_by_bbox(
        quarters.catalog, "q", STREET, "intersects", where="v < 10", op="OR",
        database=DB, decision=d,
    )
    assert d == {}  # the operator's count: no pruned read


def test_read_over_the_bound_takes_the_spark_lane(quarters):
    from xcube_geodb_spark.operators.stats import file_arrow_bytes

    first = quarters.catalog.meta("q", DB).files[0]
    one = file_arrow_bytes(quarters.catalog._coll_dir("q", DB) + "/" + first)
    with driver_bound(one // 2):  # below any one file's decoded size
        f = quarters.get_collection_by_bbox("q", STREET, "intersects", database=DB)
        assert f.attrs["read"]["lane"] == "spark"
        assert quarters.get_collection_knn("q", (0.25, 0.25), k=5, database=DB).attrs[
            "read"
        ]["lane"] == "spark"
    with driver_bound(10 * one):  # one, two or four files fit
        f = quarters.get_collection_by_bbox("q", STREET, "intersects", database=DB)
        assert f.attrs["read"]["lane"] == "driver"
        f = quarters.get_collection_by_bbox("q", (-1, -1, 2, 2), "intersects", database=DB)
        assert f.attrs["read"]["lane"] == "driver"
    with driver_bound(2 * one):
        f = quarters.get_collection_by_bbox("q", (-1, -1, 2, 2), "intersects", database=DB)
        assert f.attrs["read"]["lane"] == "spark" and f.attrs["read"]["files_kept"] == 4


# -- timestamps outside pandas' datetime64[ns] range ---------------------------


def test_out_of_range_timestamps_read_on_both_lanes(spark, tmp_path):
    """``toPandas`` cannot convert a timestamp outside datetime64[ns]; such
    a column comes back as ``datetime`` cells, every other column as
    before, on either lane and from driver-, Spark- and pandas-written
    files. A date outside that range commits from pandas too."""
    c = GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh"), user=DB)
    c.create_collection(
        "old", {"ts": "timestamp", "ok": "timestamp", "v": "int", "d": "date"}, database=DB
    )
    schema = c.catalog.meta("old", DB).spark_schema(include_system=True)
    wide = [dt.datetime(1500, 1, 1), dt.datetime(2300, 1, 1, 12, 30), None]
    ok = [dt.datetime(2000, 1, 1), None, dt.datetime(2001, 2, 3, 4, 5, 6)]
    days = [dt.date(1500, 1, 1), dt.date(2300, 1, 1), None]
    for local, first in ((True, 1), (False, 4)):  # driver- and Spark-written
        rows = [
            (first + i, None, None, to_wkb(parse_wkt(f"POINT ({i} {i})"), srid=0),
             wide[i], ok[i], i, days[i], float(i), float(i), float(i), float(i))
            for i in range(3)
        ]
        c.catalog.commit_version(
            "old", DB, spark.createDataFrame(rows, schema), max_id=first + 2, local_batch=local
        )
    # and from pandas, where the wide instants cannot be datetime64[ns]
    c.insert_into_collection(
        "old",
        pd.DataFrame({
            "geometry": [f"POINT ({i} {i})" for i in range(3)],
            "ts": ["1500-01-01", "2300-01-01 12:30", None],
            "ok": ok, "v": [0, 1, 2], "d": ["1500-01-01", days[1], None],
        }),
        database=DB,
    )
    got = c.get_collection("old", database=DB).sort_values("id", ignore_index=True)
    assert got["ts"].dtype == object
    assert got["ts"].tolist() == wide * 3
    assert got["ok"].dtype == "datetime64[ns]"
    assert got["v"].dtype == np.int64
    assert got["d"].tolist() == days * 3
    lane = c.get_collection_by_bbox("old", (0, 0, 5, 5), "intersects", database=DB)
    assert lane.attrs["read"]["lane"] == "driver"
    with spark_lane():
        on_spark = c.get_collection_by_bbox("old", (0, 0, 5, 5), "intersects", database=DB)
    assert on_spark.attrs["read"]["lane"] == "spark"
    _same(lane, on_spark)
    assert lane["ts"].tolist() == wide * 3
    assert lane["ok"].dtype == "datetime64[ns]"
    assert lane["ok"].isna().tolist() == [False, True, False] * 3
    assert lane["d"].tolist() == days * 3


def test_pandas_insert_parses_mixed_iso_spellings(spark, tmp_path):
    """A pandas batch may spell its dates and timestamps date-only and
    date-and-time alike, in either order, inside 1677-2262 and outside it:
    each reads back as given, and no value is parsed row by row with a
    warning."""
    import warnings

    c = GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh"), user=DB)
    c.create_collection("iso", {"ts": "timestamp", "d": "date"}, database=DB)
    batches = [
        ["2020-01-01", "2020-01-02 12:30"],
        ["2020-01-03 08:15:30", "2020-01-04"],
        ["1500-01-01", "2300-01-01 12:30"],
        ["2300-01-02 06:00", "1500-01-02"],
    ]
    for spelled in batches:
        with warnings.catch_warnings():
            warnings.simplefilter("error", UserWarning)
            c.insert_into_collection(
                "iso",
                pd.DataFrame({"geometry": ["POINT (0 0)"] * 2, "ts": spelled, "d": [v[:10] for v in spelled]}),
                database=DB,
            )
    got = c.get_collection("iso", "order=id", database=DB)
    given = [v for b in batches for v in b]
    assert got["ts"].tolist() == [dt.datetime.fromisoformat(v) for v in given]
    assert got["d"].tolist() == [dt.date.fromisoformat(v[:10]) for v in given]


# -- one collect per get_collection_pg read -------------------------------------


def test_get_collection_pg_runs_its_plan_once(spark, quarters):
    """The "Empty result" check reads the collected table: no ``isEmpty``
    job runs before the collect."""
    from xcube_geodb_spark.errors import GeoDBError

    out = {}
    pg = quarters.get_collection_pg
    assert _jobs(spark, lambda: out.setdefault("f", pg("q", select="id, v", where="v < 3", database=DB))) == 1
    assert sorted(out["f"]["v"].tolist()) == [0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2]

    def empty():
        with pytest.raises(GeoDBError, match="Empty result"):
            pg("q", select="id", where="v < 0", database=DB)

    assert _jobs(spark, empty) == 1


@pytest.mark.parametrize("mode", ["legacy", "row", "dict"])
def test_get_collection_pg_struct_follows_the_session_mode(spark, quarters, mode):
    """A struct a ``get_collection_pg`` select builds converts as
    ``toPandas`` converts it under the session's struct handling mode."""
    from xcube_geodb_spark.operators import scan

    key = "spark.sql.execution.pandas.structHandlingMode"
    spark.conf.set(key, mode)
    try:
        kw = dict(select="id, named_struct('v', v, 'name', name) AS s", where="v < 2",
                  order="id", database=DB)
        got = quarters.get_collection_pg("q", **kw)
        want = scan.get_collection_pg(quarters.catalog, "q", **kw).toPandas()
    finally:
        spark.conf.unset(key)
    assert len(got) == 8
    pd.testing.assert_frame_equal(got, want, check_exact=True)
