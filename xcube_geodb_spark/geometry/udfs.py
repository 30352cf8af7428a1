"""Arrow-vectorized pandas UDFs wrapping the geometry kernel, and the
JVM-side envelope tests that keep rows away from them.

The UDFs are the only places the engine leaves the JVM on the data path,
and each is batch-vectorized (Arrow transfer, numpy inner loops). The
envelope pre-filter (:func:`envelope_terms`, one :class:`Conjunction`
spelt as Spark SQL, as manifest-stat constraints and as a ``pyarrow``
expression) only narrows the rows a bbox predicate UDF sees; it never
replaces the exact test. Client reads skip the UDF altogether: they collect
the pre-filtered candidates (read by Spark or, for small pruned reads, by
``pyarrow`` on the driver) and run the same exact function,
:func:`bbox_predicate_batch`, on the driver (operators/spatial.py). Counts also skip the rows whose envelope alone
decides ``intersects``/``disjoint`` (:func:`envelope_decides`).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xcube_geodb_spark.geometry.geom import (
    envelope,
    geometry_type_wkb,
    parse_wkb,
)
from xcube_geodb_spark.geometry.predicates import Box, bbox_predicate

_ENVELOPE_TYPE = T.StructType(
    [
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
    ]
)


@F.pandas_udf(T.StringType())
def geom_type_udf(wkb: pd.Series) -> pd.Series:
    """PostGIS ``GeometryType(geometry)`` — header-only WKB read."""
    return wkb.map(lambda b: geometry_type_wkb(b) if b is not None else None)


@F.pandas_udf(_ENVELOPE_TYPE)
def envelope_udf(wkb: pd.Series) -> pd.DataFrame:
    import numpy as np

    vals = wkb.to_numpy(dtype=object)
    n = len(vals)
    cols = np.full((n, 4), np.nan)
    is_point = np.fromiter(
        (
            b is not None and len(b) == 21 and bytes(b[:5]) == b"\x01\x01\x00\x00\x00"
            for b in vals
        ),
        dtype=bool,
        count=n,
    )
    handled = is_point.copy()
    idx = np.nonzero(is_point)[0]
    if len(idx):  # vectorized 2D-point fast path
        buf = b"".join(bytes(vals[i][5:21]) for i in idx)
        coords = np.frombuffer(buf, dtype="<f8").reshape(-1, 2)
        # NaN coordinates: the scalar kernel folds them against +/-inf
        # (Python min/max keep the first arg on a NaN comparison) while
        # the batch path would surface NaN -> NULL. Route those rows to
        # the per-row fallback so fast == slow bit-for-bit.
        nan_rows = np.isnan(coords).any(axis=1)
        if nan_rows.any():
            handled[idx[nan_rows]] = False
            idx, coords = idx[~nan_rows], coords[~nan_rows]
        cols[idx, 0] = cols[idx, 2] = coords[:, 0]
        cols[idx, 1] = cols[idx, 3] = coords[:, 1]
    # vectorized single-ring polygon path (squares, rectangles, simple
    # parcels — the dominant non-point ingest shape): one frombuffer +
    # axis-min/max per distinct byte length instead of a per-row
    # parse_wkb. Bit-identical to envelope(parse_wkb(...)) — rings with
    # any NaN coordinate are routed to the fallback above, since numpy
    # min/max propagate NaN where the scalar path's Python min/max
    # against +/-inf yield inf/-inf; a polygon's envelope is the min/max
    # of its outer ring's points.
    poly1_hdr = b"\x01\x03\x00\x00\x00\x01\x00\x00\x00"
    by_len: dict[int, list[int]] = {}
    for i in np.nonzero(~handled)[0]:
        b = vals[i]
        if (
            b is not None
            and len(b) >= 29
            and bytes(b[:9]) == poly1_hdr
            and len(b)
            == 13 + 16 * int.from_bytes(bytes(b[9:13]), "little")
        ):
            by_len.setdefault(len(b), []).append(i)
            handled[i] = True
    for length, idxs in by_len.items():
        npts = (length - 13) // 16
        buf = b"".join(bytes(vals[i][13:]) for i in idxs)
        coords = np.frombuffer(buf, dtype="<f8").reshape(len(idxs), npts, 2)
        a = np.asarray(idxs)
        nan_rows = np.isnan(coords).any(axis=(1, 2))
        if nan_rows.any():
            handled[a[nan_rows]] = False
            a, coords = a[~nan_rows], coords[~nan_rows]
            if not len(a):
                continue
        cols[a, 0] = coords[:, :, 0].min(axis=1)
        cols[a, 1] = coords[:, :, 1].min(axis=1)
        cols[a, 2] = coords[:, :, 0].max(axis=1)
        cols[a, 3] = coords[:, :, 1].max(axis=1)
    for i in np.nonzero(~handled)[0]:
        if vals[i] is not None:
            cols[i] = envelope(parse_wkb(bytes(vals[i])))
    out = pd.DataFrame(cols, columns=["xmin", "ymin", "xmax", "ymax"])
    return out.where(pd.notna(out), None)


def with_envelope_columns(df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """Persisted at ingest: __xmin/__ymin/__xmax/__ymax envelope columns
    drive parquet min/max file pruning for every spatial scan."""
    env = envelope_udf(F.col(geometry_col)).alias("__env")
    df = df.withColumn("__env", env)
    return (
        df.withColumn("__xmin", F.col("__env.xmin"))
        .withColumn("__ymin", F.col("__env.ymin"))
        .withColumn("__xmax", F.col("__env.xmax"))
        .withColumn("__ymax", F.col("__env.ymax"))
        .drop("__env")
    )


_POINT_WKB_LE = b"\x01\x01\x00\x00\x00"  # little-endian 2D point header
# little-endian polygon, 1 ring, 5 points: the fixed 93-byte rectangle form
_RECT_WKB_LE = b"\x01\x03\x00\x00\x00\x01\x00\x00\x00\x05\x00\x00\x00"


def _rect_batch_predicate(mode: str, env, box: Box):
    """Vectorized comparison-mode evaluation for axis-aligned rectangles.
    ``env`` is an (n, 4) array of (xmin, ymin, xmax, ymax)."""
    import numpy as np

    xmin, ymin, xmax, ymax = box
    eps = 1e-9 * max(abs(xmin), abs(ymin), abs(xmax), abs(ymax), 1.0)
    gx0, gy0, gx1, gy1 = env[:, 0], env[:, 1], env[:, 2], env[:, 3]
    ix = np.minimum(xmax, gx1) - np.maximum(xmin, gx0)
    iy = np.minimum(ymax, gy1) - np.maximum(ymin, gy0)
    intersects = (ix >= -eps) & (iy >= -eps)
    ii = (ix > eps) & (iy > eps)
    sq_in_box = (
        (gx0 >= xmin - eps)
        & (gx1 <= xmax + eps)
        & (gy0 >= ymin - eps)
        & (gy1 <= ymax + eps)
    )
    box_in_sq = (
        (gx0 <= xmin + eps)
        & (gx1 >= xmax - eps)
        & (gy0 <= ymin + eps)
        & (gy1 >= ymax - eps)
    )
    if mode == "intersects":
        return intersects
    if mode == "disjoint":
        return ~intersects
    if mode == "contains":
        return sq_in_box & ii
    if mode == "within":
        return box_in_sq
    if mode == "touches":
        return intersects & ~ii
    if mode == "overlaps":
        return ii & ~sq_in_box & ~box_in_sq
    if mode == "equals":
        return sq_in_box & box_in_sq
    # crosses: always false for area-vs-area
    return np.zeros(len(env), dtype=bool)


def _point_batch_predicate(mode: str, xs, ys, box: Box):
    """Vectorized numpy evaluation of every comparison mode for points."""
    import numpy as np

    xmin, ymin, xmax, ymax = box
    eps = 1e-9 * max(abs(xmin), abs(ymin), abs(xmax), abs(ymax), 1.0)
    closed = (xs >= xmin) & (xs <= xmax) & (ys >= ymin) & (ys <= ymax)
    interior = (
        (xs > xmin + eps) & (xs < xmax - eps) & (ys > ymin + eps) & (ys < ymax - eps)
    )
    if mode == "intersects":
        return closed
    if mode == "disjoint":
        return ~closed
    if mode == "contains":
        return interior
    if mode == "touches":
        return closed & ~interior
    # within / overlaps / crosses / equals are all false for a point vs a
    # non-degenerate box
    return np.zeros(len(xs), dtype=bool)


def bbox_predicate_batch(mode: str, wkb_values, box: Box):
    """Exact ``ST_<mode>(bbox, geom)`` over a batch of WKB values (None for
    NULL geometry, which never matches); returns a numpy bool array.

    The one exact-predicate implementation: the pandas UDF below calls it
    inside Python workers, and client reads call it on the driver over the
    rows the envelope pre-filter let through (operators/spatial.py).

    Fast paths: 2D point WKB (fixed 21-byte layout) and axis-aligned
    rectangle polygons (fixed 93-byte layout) are decoded with a single
    ``np.frombuffer`` per batch and evaluated with numpy boolean algebra —
    ~50x over the per-row kernel. Everything else falls back to the full
    kernel per row."""
    import numpy as np

    bx = tuple(float(v) for v in box)
    n = len(wkb_values)
    # fromiter, not asarray: asarray turns equal-length bytearrays into a
    # 2-D array of ints
    vals = np.fromiter(wkb_values, dtype=object, count=n)
    out = np.zeros(n, dtype=bool)
    handled = np.zeros(n, dtype=bool)

    is_point = np.fromiter(
        (
            b is not None and len(b) == 21 and bytes(b[:5]) == _POINT_WKB_LE
            for b in vals
        ),
        dtype=bool,
        count=n,
    )
    idx = np.nonzero(is_point)[0]
    if len(idx):
        buf = b"".join(bytes(vals[i][5:21]) for i in idx)
        coords = np.frombuffer(buf, dtype="<f8").reshape(-1, 2)
        out[idx] = _point_batch_predicate(mode, coords[:, 0], coords[:, 1], bx)
        handled[idx] = True

    maybe_rect = np.fromiter(
        (
            b is not None and len(b) == 93 and bytes(b[:13]) == _RECT_WKB_LE
            for b in vals
        ),
        dtype=bool,
        count=n,
    )
    ridx = np.nonzero(maybe_rect)[0]
    if len(ridx):
        buf = b"".join(bytes(vals[i][13:93]) for i in ridx)
        ring = np.frombuffer(buf, dtype="<f8").reshape(-1, 5, 2)
        xs, ys = ring[..., 0], ring[..., 1]
        closed = (xs[:, 0] == xs[:, 4]) & (ys[:, 0] == ys[:, 4])
        # axis-aligned rectangle: consecutive edges alternate
        # horizontal/vertical
        axis = np.ones(len(ridx), dtype=bool)
        for k in range(4):
            axis &= (xs[:, k] == xs[:, k + 1]) | (ys[:, k] == ys[:, k + 1])
        # each diagonal pair must differ in BOTH coordinates; with
        # axis-aligned edges this forces a true 4-corner rectangle and
        # rejects degenerate out-and-back rings whose phantom envelope
        # would disagree with the exact kernel
        diag = (
            (xs[:, 0] != xs[:, 2])
            & (ys[:, 0] != ys[:, 2])
            & (xs[:, 1] != xs[:, 3])
            & (ys[:, 1] != ys[:, 3])
        )
        rect_ok = closed & axis & diag
        env = np.stack(
            [
                xs[:, :4].min(axis=1),
                ys[:, :4].min(axis=1),
                xs[:, :4].max(axis=1),
                ys[:, :4].max(axis=1),
            ],
            axis=1,
        )
        good = np.nonzero(rect_ok)[0]
        if len(good):
            out[ridx[good]] = _rect_batch_predicate(mode, env[good], bx)
            handled[ridx[good]] = True

    for i in np.nonzero(~handled)[0]:
        b = vals[i]
        out[i] = (
            bbox_predicate(mode, parse_wkb(bytes(b)), bx) if b is not None else False
        )
    return out


def bbox_predicate_column(mode: str, box: Box, geometry_col: str = "geometry") -> Column:
    """Exact ``ST_<mode>(bbox, geom)`` as a vectorized pandas-UDF Column
    (:func:`bbox_predicate_batch` per Arrow batch)."""
    bx = tuple(float(v) for v in box)

    @F.pandas_udf(T.BooleanType())
    def _pred(wkb: pd.Series) -> pd.Series:
        return pd.Series(bbox_predicate_batch(mode, wkb.to_numpy(dtype=object), bx))

    return _pred(F.col(geometry_col))


class Conjunction:
    """A conjunction of ``(column, op, literal)`` terms, ``op`` one of
    ``< <= > >= =`` and ``literal`` a number: the one spec a pruned read
    builds its filter from. It emits the three spellings of the same
    filter, so they cannot drift apart:

    - :meth:`sql`: Spark SQL text (an empty conjunction is ``None``);
    - :meth:`constraints`: the ``(column, op, literal)`` triples
      ``pruning.split_files_by_constraints`` tests file stats against;
    - :meth:`arrow`: a ``pyarrow.compute`` expression for a driver read.

    Spark orders NaN above every number and equal to NaN, where IEEE (and
    pyarrow) compares NaN false to everything, so :meth:`arrow` spells
    Spark's order out: ``x >= 1`` keeps a NaN ``x``. Each term is NULL
    exactly where Spark's is (a NULL operand), so the grammar's pyarrow
    lowering (``filters.Query.arrow``) builds its comparisons from the
    same terms, negations included."""

    _PRUNE_OPS = {"<": "lt", "<=": "lte", ">": "gt", ">=": "gte", "=": "eq"}

    def __init__(self, terms=()):
        self.terms = tuple(terms)

    def __and__(self, other: "Conjunction") -> "Conjunction":
        return Conjunction(self.terms + other.terms)

    def __bool__(self) -> bool:
        return bool(self.terms)

    @property
    def columns(self) -> list[str]:
        return list(dict.fromkeys(c for c, _, _ in self.terms))

    def sql(self) -> str | None:
        if not self.terms:
            return None
        return _all(*(f"{c} {op} {_lit(v)}" for c, op, v in self.terms))

    def constraints(self) -> list[tuple[str, str, object]]:
        return [(c, self._PRUNE_OPS[op], v) for c, op, v in self.terms]

    def arrow(self, floating=()):
        """The filter as a ``pyarrow.compute`` expression; ``floating``
        names the columns of a floating-point type (the ones that can hold
        NaN)."""
        import pyarrow.compute as pc

        out = pc.scalar(True)
        for c, op, v in self.terms:
            out = out & _arrow_term(pc, pc.field(c), op, v, c in floating)
        return out


def _arrow_term(pc, f, op: str, v, floating: bool):
    """``f op v`` under Spark's NaN order (NaN above +inf, NaN = NaN):
    TRUE, FALSE and NULL exactly where Spark's term is, so the term stays
    right under a negation."""
    # NaN-ness of f, NULL where f is: `f != f` holds no NaN on other types
    nan = pc.is_nan(f) if floating else f != f
    if isinstance(v, float) and math.isnan(v):
        return {
            "<": ~nan,
            "<=": nan | ~nan,
            ">": nan & ~nan,
            ">=": nan,
            "=": nan,
        }[op]
    plain = {
        "<": f < v, "<=": f <= v, ">": f > v, ">=": f >= v, "=": f == v,
    }[op]
    return plain | nan if op in (">", ">=") and floating else plain


def envelope_terms(mode: str, box: Box) -> Conjunction | None:
    """The envelope pre-filter of ``mode`` as a :class:`Conjunction` on
    the persisted ``__xmin..__ymax`` columns: a *necessary* condition for
    the exact predicate (None when the mode admits no envelope shortcut,
    i.e. ``disjoint``)."""
    xmin, ymin, xmax, ymax = (float(v) for v in box)
    m = _margin(box)
    if mode in ("intersects", "touches", "overlaps", "crosses"):
        return _meets_terms(box)
    if mode in ("contains", "equals"):
        # geom ⊆ box ⇒ envelope ⊆ box
        return Conjunction(
            [
                ("__xmin", ">=", xmin - m),
                ("__xmax", "<=", xmax + m),
                ("__ymin", ">=", ymin - m),
                ("__ymax", "<=", ymax + m),
            ]
        )
    if mode == "within":
        # box ⊆ geom ⇒ geom envelope ⊇ box
        return Conjunction(
            [
                ("__xmin", "<=", xmin + m),
                ("__xmax", ">=", xmax - m),
                ("__ymin", "<=", ymin + m),
                ("__ymax", ">=", ymax - m),
            ]
        )
    return None  # disjoint: complement — no cheap necessary condition


def envelope_prefilter(mode: str, box: Box) -> Column | None:
    """Cheap JVM-side pre-filter on the persisted envelope columns — pushed
    into the parquet scan: :func:`envelope_terms` as a Column."""
    terms = envelope_terms(mode, box)
    return None if terms is None else F.expr(terms.sql())


# The envelope tests are spelled as SQL text and parsed once: building them
# through the Column API costs ~10 py4j round trips per comparison, about
# 30 ms of driver latency per count (the layout.zorder_interleave_sql lesson).


def _d(v: float) -> str:
    """A SQL DOUBLE literal of exactly ``v``."""
    if math.isfinite(v):
        return f"{v!r}D"  # the D suffix: DOUBLE, not DECIMAL; repr round-trips
    return f"CAST('{'NaN' if v != v else 'Infinity' if v > 0 else '-Infinity'}' AS DOUBLE)"


def _lit(v) -> str:
    """A SQL literal of a term's number: integers as integers, floats as
    DOUBLE."""
    return str(v) if isinstance(v, int) else _d(v)


def _all(*terms: str) -> str:
    return " AND ".join(f"({t})" for t in terms)


def _margin(box: Box) -> float:
    # keeps the envelope tests strictly looser than the exact kernel
    # predicate (which tolerates ~1e-9 relative) — a pre-filter must stay a
    # NECESSARY condition, never reject a row the kernel would accept
    return 1e-6 * max(abs(float(v)) for v in (*box, 1.0))


def _meets_terms(box: Box) -> Conjunction:
    xmin, ymin, xmax, ymax = (float(v) for v in box)
    m = _margin(box)
    return Conjunction(
        [
            ("__xmin", "<=", xmax + m),
            ("__xmax", ">=", xmin - m),
            ("__ymin", "<=", ymax + m),
            ("__ymax", ">=", ymin - m),
        ]
    )


# Little-endian 2D WKB layouts with ONE vertex array: a point, a linestring
# of >= 2 vertices, a single-ring polygon whose ring has >= 2 vertices. A
# NaN coordinate drops its array from the persisted envelope
# (geom.envelope folds NaN away), so for these layouts a finite,
# non-inverted envelope means every vertex is finite — and then the
# envelope alone decides ST_Intersects exactly.
_ENVELOPE = ("__xmin", "__ymin", "__xmax", "__ymax")
_ONE_ARRAY_LAYOUTS = (  # (length test, length, byte prefix)
    ("=", 21, bytes.fromhex("0101000000")),
    (">=", 41, bytes.fromhex("0102000000")),
    (">=", 45, bytes.fromhex("010300000001000000")),
)
_ONE_ARRAY_WKB = " OR ".join(
    f"(length(geometry) {op} {n} AND substring(geometry, 1, {len(p)}) = X'{p.hex().upper()}')"
    for op, n, p in _ONE_ARRAY_LAYOUTS
)


def envelope_decides(box: Box) -> tuple[Column, Column]:
    """``(inside, clear)``: JVM Columns, never NULL, that settle
    ``ST_Intersects(bbox, geom)`` from the persisted envelope alone.

    ``inside`` — the envelope lies in the closed box, so every vertex does
    and the exact kernel says *intersects*; ``clear`` — the envelope misses
    the box by more than the pre-filter margin, so the kernel says
    *disjoint*. Both are FALSE unless the row has a one-array WKB layout
    (see ``_ONE_ARRAY_WKB``) with a finite, non-inverted envelope; every
    other row (multi-geometries, holed polygons, NaN or infinite
    coordinates, NULL) is left to :func:`bbox_predicate_batch`."""
    inf = _d(float("inf"))
    valid = _all(
        _ONE_ARRAY_WKB,
        "__xmin <= __xmax",
        "__ymin <= __ymax",
        # `c < inf` is FALSE for NaN (Spark orders NaN above +inf)
        *(f"{c} > -{inf} AND {c} < {inf}" for c in _ENVELOPE),
    )
    return (
        F.expr(f"coalesce({valid} AND {_inside_terms(box).sql()}, false)"),
        F.expr(f"coalesce({valid} AND NOT ({_meets_terms(box).sql()}), false)"),
    )


def envelope_decides_arrow(box: Box):
    """:func:`envelope_decides` as ``pyarrow.compute`` expressions over the
    same columns, for a read on the driver; never NULL either. Both
    require a finite envelope, where pyarrow and Spark compare alike."""
    import pyarrow.compute as pc

    g = pc.field("geometry")
    size = pc.binary_length(g)
    layout = pc.scalar(False)
    for op, n, prefix in _ONE_ARRAY_LAYOUTS:
        fits = size == n if op == "=" else size >= n
        layout = layout | (fits & pc.starts_with(g, pattern=prefix))
    xmin, ymin, xmax, ymax = env = [pc.field(c) for c in _ENVELOPE]
    valid = layout & (xmin <= xmax) & (ymin <= ymax)
    for c in env:
        valid = valid & pc.is_finite(c)
    false = pc.scalar(False)
    return (
        pc.coalesce(valid & _inside_terms(box).arrow(_ENVELOPE), false),
        pc.coalesce(valid & ~_meets_terms(box).arrow(_ENVELOPE), false),
    )


def _inside_terms(box: Box) -> Conjunction:
    """The envelope lies in the closed box."""
    xmin, ymin, xmax, ymax = (float(v) for v in box)
    return Conjunction(
        [("__xmin", ">=", xmin), ("__xmax", "<=", xmax), ("__ymin", ">=", ymin), ("__ymax", "<=", ymax)]
    )
