"""Spatial operators: bbox scans, counts, extents, geometry types.

Reference: ``geodb_get_by_bbox`` / ``geodb_count_by_bbox``
(``xcube_geodb/sql/geodb.sql:1179-1257`` / ``:1306-1370``) evaluate
``(where) op ST_pred(bbox_polygon, geometry)`` ordered by id. Our physical
strategy (SURVEY.md §4) is filter-and-refine:

1. cheap envelope pre-filter on the persisted ``__xmin..__ymax`` columns
   (:func:`~xcube_geodb_spark.geometry.udfs.envelope_terms`), a
   conjunction of range terms. Client reads first test it against each
   file's ``__xmin..__ymax`` min/max in the manifest stats and keep only
   the files it admits (a dataset-level MBR test, as in *Joinable Search
   over Multi-Source Spatial Datasets*, ICDE 2025); then it filters the
   rows of the kept files (Catalyst also pushes it into the parquet scan);
2. exact predicate (``geometry.udfs.bbox_predicate_batch``) on survivors;
3. ``ORDER BY id`` + limit/offset, parity with ``geodb.sql:1240-1241``.

The pre-filter is applied only when it is a *necessary* condition of the
final predicate (AND-composition with ``where``; never for ``disjoint``).

Where steps 2 and 3 run depends on the caller:

- the DataFrame operators (:func:`get_collection_by_bbox`, :func:`get_knn`)
  run them in Spark: a pandas UDF, then a global sort (or a top-k);
- client reads that hand back pandas anyway (:func:`bbox_candidates`,
  :func:`knn_candidates`, :func:`count_collection_by_bbox`) build their
  filter from one spec (:class:`~xcube_geodb_spark.geometry.udfs.
  Conjunction`: the pre-filter AND a ``where`` of ``column op number``
  terms), prune the files of one manifest snapshot with it, and read the
  kept files on one of two lanes. When the kept files are small
  (``dml.files_fit_driver``, the predicate small commits use) the driver
  reads them with ``pyarrow`` and no Spark job runs; otherwise Spark reads
  them, one job with no Python worker. The bound is one of memory:
  ``tools/lane_crossover.py`` measured the driver lane faster for every
  read up to it. Either way the candidates reach the
  driver as one Arrow table and are refined there with the same exact
  function, then sorted. The candidates are the result plus the envelope
  margin, so the driver holds about what it returns. knn goes best-first
  over files (:func:`knn_candidates`). Reads with a limit/offset or an
  ``OR``-ed ``where`` keep the operator path: the exact filter must run
  before the limit, and the candidate set would be unbounded;
- :func:`count_collection_by_bbox` settles ``intersects``/``disjoint``
  for rows whose envelope decides them without the kernel, on either lane
  (in the JVM, or in ``pyarrow`` on the driver), and decodes only the WKB
  of the rest.

Each client read reports what it did: the lane, the files in the snapshot
and the files kept, and the bytes it decoded (``attrs["read"]`` of the
frame; ``decision=`` of a count).
"""

from __future__ import annotations

import math
import os
import re
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xcube_geodb_spark.catalog import SYSTEM_COLUMNS, GeoDBCatalog
from xcube_geodb_spark.errors import GeoDBError
from xcube_geodb_spark.geometry.crs import check_crs, transform_bbox_crs
from xcube_geodb_spark.geometry.geom import Geometry, distance, parse_wkb
from xcube_geodb_spark.geometry.predicates import COMPARISON_MODES
from xcube_geodb_spark.geometry.udfs import (
    Conjunction,
    bbox_predicate_batch,
    bbox_predicate_column,
    envelope_decides,
    envelope_decides_arrow,
    envelope_prefilter,
    envelope_terms,
    geom_type_udf,
)
from xcube_geodb_spark.operators.pruning import Candidates, PrunedRead

Bbox = tuple[float, float, float, float]
# driver-side second half of a filter-and-refine read: candidate rows (as
# ``toPandas`` returns them) -> the result frame
Refine = Callable[[pd.DataFrame], pd.DataFrame]


def _aligned_bbox(
    srid: int, bbox: Bbox, bbox_crs, wsg84_order: str = "lon_lat"
) -> Bbox:
    """CRS auto-alignment: if the query bbox CRS differs from the collection
    SRID, reproject the bbox first (``geodb.py:1630-1637``)."""
    crs = check_crs(bbox_crs)
    if crs != srid:
        return transform_bbox_crs(bbox, crs, srid, wsg84_order=wsg84_order)
    if crs == 4326 and wsg84_order == "lat_lon":
        return (bbox[1], bbox[0], bbox[3], bbox[2])
    return bbox


def _checked_op(comparison_mode: str, op: str | None) -> str:
    if comparison_mode not in COMPARISON_MODES:
        # parity: invalid mode raises (geodb.sql:1213 data_exception)
        raise GeoDBError(
            f"Unknown comparison mode {comparison_mode!r} "
            f"(one of {', '.join(COMPARISON_MODES)})"
        )
    op = (op or "AND").upper()
    if op not in ("AND", "OR"):
        raise GeoDBError(f"op must be AND or OR, got {op!r}")
    return op


def _bbox_filtered(
    catalog: GeoDBCatalog,
    collection: str,
    database: str,
    bbox: Bbox,
    comparison_mode: str,
    where: str | None,
    op: str,
    meta=None,
) -> DataFrame:
    """The operator path's rows, of manifest snapshot ``meta`` when given."""
    op = _checked_op(comparison_mode, op)
    df = catalog.load_df(collection, database, include_system=True, meta=meta)
    exact = bbox_predicate_column(comparison_mode, bbox)
    pre = envelope_prefilter(comparison_mode, bbox)
    if where:
        wcol = F.expr(where)
        if op == "AND":
            # pre-filter is a necessary condition of (where AND exact)
            if pre is not None:
                df = df.filter(pre)
            df = df.filter(wcol & exact)
        else:
            # OR: rows failing the envelope test may still match `where` —
            # no pre-filter; evaluate exact predicate only where needed
            df = df.filter(wcol | (pre & exact if pre is not None else exact))
    else:
        if pre is not None:
            df = df.filter(pre)
        df = df.filter(exact)
    return df


def _retyped(out: pd.DataFrame, schema) -> pd.DataFrame:
    """``toPandas`` picks a nullable integral (boolean) column's dtype from
    the rows it collected: float64 (object) when any is NULL, the exact
    numpy type otherwise. Re-pick it for a subset of those rows, so a
    driver-refined frame equals what ``toPandas`` gives for the subset.
    (An integer beyond 2**53 that went through float64 stays rounded, as
    ``toPandas`` rounds it whenever its column holds a NULL.)"""
    exact = {
        T.ByteType: np.int8,
        T.ShortType: np.int16,
        T.IntegerType: np.int32,
        T.LongType: np.int64,
        T.BooleanType: np.bool_,
    }
    for f in schema.fields:
        want = exact.get(type(f.dataType))
        if want is not None and out[f.name].dtype != want and out[f.name].notna().all():
            out[f.name] = out[f.name].astype(want)
    return out


def get_collection_by_bbox(
    catalog: GeoDBCatalog,
    collection: str,
    bbox: Bbox,
    comparison_mode: str = "contains",
    bbox_crs=4326,
    limit: int | None = None,
    offset: int | None = None,
    where: str | None = None,
    op: str = "AND",
    database: str = "public",
    wsg84_order: str = "lon_lat",
) -> DataFrame:
    """Spatial scan (``geodb.py:1577-1669`` / ``geodb.sql:1179-1257``) as
    a DataFrame: the exact predicate runs in a pandas UDF and the sort in
    Spark. Client reads without limit/offset use :func:`bbox_candidates`
    instead, which refines and sorts on the driver."""
    srid = catalog.get_collection_srid(collection, database)
    bbox = _aligned_bbox(srid, bbox, bbox_crs, wsg84_order)
    df = _bbox_filtered(catalog, collection, database, bbox, comparison_mode, where, op)
    df = df.drop(*SYSTEM_COLUMNS).orderBy("id")
    if offset:
        df = df.offset(int(offset))
    if limit:
        df = df.limit(int(limit))
    return df


_WHERE_TERM = re.compile(
    r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*(<=|>=|<|>|=)\s*"
    r"([+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)\s*"
)
_INTEGRAL = (T.LongType, T.IntegerType, T.ShortType)


def where_terms(where: str | None, schema) -> Conjunction | None:
    """``where`` as a :class:`Conjunction`, or None when the spec cannot
    say it. It takes ``column op number`` terms joined by ``AND``, where the
    column is integral and the number an integer, or the column is DOUBLE
    (Spark and ``pyarrow`` then compare the same values the same way).
    Anything else (``OR``, a function, a string, a FLOAT column, ...) is
    None; no ``where`` is the empty conjunction."""
    if not where:
        return Conjunction()
    fields = {f.name.lower(): f for f in schema.fields}
    terms = []
    for part in re.split(r"\s+and\s+", where.strip(), flags=re.IGNORECASE):
        mt = _WHERE_TERM.fullmatch(part)
        field = mt and fields.get(mt.group(1).lower())
        if field is None:
            return None
        raw = mt.group(3)
        if re.fullmatch(r"[+-]?\d+", raw) and isinstance(field.dataType, _INTEGRAL):
            v = int(raw)
            if not -(2**63) <= v < 2**63:
                return None
        elif isinstance(field.dataType, T.DoubleType):
            v = float(raw)
        else:
            return None
        terms.append((field.name, mt.group(2), v))
    return Conjunction(terms)


def bbox_candidates(
    catalog: GeoDBCatalog,
    collection: str,
    bbox: Bbox,
    comparison_mode: str = "contains",
    bbox_crs=4326,
    where: str | None = None,
    op: str = "AND",
    database: str = "public",
    wsg84_order: str = "lon_lat",
) -> tuple[Candidates, Refine]:
    """:func:`get_collection_by_bbox` without limit/offset, split for a
    caller that collects the result: ``(candidates, refine)``. An ``OR``-ed
    ``where`` is not supported here (use the operator).

    ``candidates`` are the rows of the files the envelope pre-filter and
    ``where`` keep (:func:`~xcube_geodb_spark.geometry.udfs.envelope_terms`
    plus :func:`where_terms`, tested against the manifest's file stats)
    that pass the same filter row by row — read on the driver when the kept
    files are small (``dml.files_fit_driver``) and ``where`` is a
    conjunction the spec understands, else one Spark job, with no Python
    UDF and no sort either way. ``refine`` maps the collected candidates to
    exactly the frame ``get_collection_by_bbox(...).toPandas()`` returns:
    it keeps the rows
    :func:`~xcube_geodb_spark.geometry.udfs.bbox_predicate_batch` accepts
    (the function the operator's UDF runs) and sorts them by id.

    ``disjoint`` has no necessary envelope condition; its candidates drop
    the rows whose envelope proves they intersect the box."""
    if _checked_op(comparison_mode, op) == "OR" and where:
        raise GeoDBError("bbox_candidates AND-s `where`; use get_collection_by_bbox")
    m = catalog.meta(collection, database)
    bbox = _aligned_bbox(m.srid, bbox, bbox_crs, wsg84_order)
    read, spec, rest = _bbox_read(catalog, collection, database, m, comparison_mode, bbox, where)
    if comparison_mode == "disjoint":
        cands = read.candidates(
            spec, spark_filters=[~envelope_decides(bbox)[0], *rest],
            also=~envelope_decides_arrow(bbox)[0],
        )
    else:
        cands = read.candidates(spec, spark_filters=rest)
    schema = cands.schema

    def refine(pdf: pd.DataFrame) -> pd.DataFrame:
        keep = bbox_predicate_batch(
            comparison_mode, pdf["geometry"].to_numpy(dtype=object), bbox
        )
        out = pdf[keep].sort_values("id", kind="stable")
        return _retyped(out.reset_index(drop=True), schema)

    return cands, refine


def _bbox_read(catalog, collection, database, m, mode: str, bbox: Bbox, where):
    """``(read, spec, rest)`` of a bbox read or count of manifest snapshot
    ``m``: ``spec`` is the envelope pre-filter of ``mode`` AND the terms of
    ``where``; ``rest`` is ``[F.expr(where)]`` when the spec cannot say
    ``where`` (then only the Spark lane reads); ``read`` holds the files
    ``spec`` keeps and its lane."""
    read = PrunedRead(catalog, collection, database, m)
    spec = envelope_terms(mode, bbox) or Conjunction()
    terms = where_terms(where, read.schema)
    rest = [F.expr(where)] if terms is None else []
    spec = spec if terms is None else spec & terms
    read.prune(spec)
    read.decide(driver_ok=not rest)
    return read, spec, rest


def count_collection_by_bbox(
    catalog: GeoDBCatalog,
    collection: str,
    bbox: Bbox,
    comparison_mode: str = "contains",
    bbox_crs=4326,
    where: str | None = None,
    op: str = "AND",
    database: str = "public",
    wsg84_order: str = "lon_lat",
    decision: dict | None = None,
) -> int:
    """``geodb_count_by_bbox`` (geodb.sql:1306-1370).

    ``intersects`` and ``disjoint`` (with ``where`` AND-ed) prune files as
    :func:`bbox_candidates` does. Rows whose envelope settles the predicate
    (:func:`~xcube_geodb_spark.geometry.udfs.envelope_decides`) are counted
    without decoding a geometry; only the remaining boundary rows go
    through the exact kernel on the driver. On the driver lane the kept
    files are read with ``pyarrow`` and split by the same test in pyarrow
    (``envelope_decides_arrow``), with no Spark job; on the Spark lane it
    is one job with no Python worker, which counts the settled rows in the
    JVM and collects only the boundary WKB. Other modes and an ``OR``-ed
    ``where`` count the operator path's rows.

    A count returns an int, so pass a dict as ``decision`` to see the
    read's decision (what a frame's ``attrs["read"]`` holds)."""
    op = _checked_op(comparison_mode, op)
    m = catalog.meta(collection, database)
    bbox = _aligned_bbox(m.srid, bbox, bbox_crs, wsg84_order)
    if comparison_mode not in ("intersects", "disjoint") or (where and op == "OR"):
        return _bbox_filtered(
            catalog, collection, database, bbox, comparison_mode, where, op, meta=m
        ).count()
    read, spec, rest = _bbox_read(catalog, collection, database, m, comparison_mode, bbox, where)
    if read.driver:
        # the same split in pyarrow: only the boundary rows reach the kernel
        table = read.read(spec, ["geometry", *SYSTEM_COLUMNS])
        inside, clear = envelope_decides_arrow(bbox)
        boundary = table.filter(~(inside | clear)).column("geometry").to_pylist()
        n = table.filter(inside if comparison_mode == "intersects" else clear).num_rows + int(
            bbox_predicate_batch(comparison_mode, boundary, bbox).sum()
        )
    else:
        inside, clear = envelope_decides(bbox)
        if comparison_mode == "intersects":
            # the operator path drops rows failing the pre-filter, so they
            # never count (even where the kernel would accept them)
            sure, maybe = inside, []
        else:
            sure, maybe = clear, [~inside & F.col("geometry").isNotNull()]
        df = read.candidates(spec, drop=(), spark_filters=maybe + rest).df
        # one job: the count of settled rows rides along as an observed
        # metric of the scan that collects the boundary WKB (a global
        # aggregate would add a shuffle stage, which adaptive execution
        # submits as a 2nd job). `sure` depends on every row's envelope, so
        # the optimizer cannot fold the filter above the observation away
        # (it would drop the metric).
        from pyspark.sql import Observation

        obs = Observation()  # unnamed: a unique name per call
        table = df.observe(obs, F.count_if(sure).alias("n")).filter(~sure).select(
            "geometry"
        ).toArrow()
        boundary = table.column(0).to_pylist()
        n = int(obs.get["n"]) + int(
            bbox_predicate_batch(comparison_mode, boundary, bbox).sum()
        )
    if decision is not None:
        decision.update(read.decision, decoded_bytes=table.nbytes)
    return n


def get_collection_bbox(
    catalog: GeoDBCatalog,
    collection: str,
    database: str = "public",
    exact: bool = True,
) -> Bbox | None:
    """Collection extent. Exact path aggregates the persisted envelope
    columns (``ST_Extent`` parity, geodb.sql:426-441); the estimate path
    reads parquet footer min/max only — no Spark job (``ST_EstimatedExtent``
    parity, geodb.sql:443-458; our estimates are exact, SURVEY.md §7)."""
    m = catalog.meta(collection, database)
    if not m.files:
        return None
    if exact:
        row = (
            catalog.load_df(collection, database, include_system=True)
            .agg(
                F.min("__xmin").alias("xmin"),
                F.min("__ymin").alias("ymin"),
                F.max("__xmax").alias("xmax"),
                F.max("__ymax").alias("ymax"),
            )
            .collect()[0]
        )
        if row["xmin"] is None:
            return None
        return (row["xmin"], row["ymin"], row["xmax"], row["ymax"])
    from xcube_geodb_spark.operators.stats import footer_min_max

    env = ("__xmin", "__ymin", "__xmax", "__ymax")
    fstats = m.file_stats()
    if all(f in fstats and all(c in fstats[f] for c in env) for f in m.files):
        # manifest stats cover every file: zero-IO extent
        return (
            min(fstats[f]["__xmin"][0] for f in m.files),
            min(fstats[f]["__ymin"][0] for f in m.files),
            max(fstats[f]["__xmax"][1] for f in m.files),
            max(fstats[f]["__ymax"][1] for f in m.files),
        )
    paths = [
        os.path.join(catalog.warehouse, database, collection, f) for f in m.files
    ]
    mm = footer_min_max(paths, ["__xmin", "__ymin", "__xmax", "__ymax"])
    if len(mm) < 4:
        return None
    return (mm["__xmin"][0], mm["__ymin"][0], mm["__xmax"][1], mm["__ymax"][1])


def _knn_point(
    srid: int, point: tuple[float, float], point_crs, wsg84_order: str
) -> tuple[float, float]:
    """The query point in the collection's CRS (``srid``)."""
    if point_crs is not None:
        crs = check_crs(point_crs)
        if crs != srid:
            x0, y0, _, _ = transform_bbox_crs(
                (point[0], point[1], point[0], point[1]), crs, srid,
                wsg84_order=wsg84_order,
            )
            point = (x0, y0)
        elif crs == 4326 and wsg84_order == "lat_lon":
            point = (point[1], point[0])
    return float(point[0]), float(point[1])


def _bounds(xmin, ymin, xmax, ymax, qx: float, qy: float):
    """``(lower, upper)`` bounds of the distance from the point to a
    geometry with that envelope: the distance to the envelope box (0
    inside), and the distance to its center plus half its diagonal (a
    non-empty geometry has a point within half a diagonal of the center).
    The arguments are numpy arrays, floats or Spark Columns: the same
    operations in the same order, so Spark and numpy compute the same
    doubles (``greatest`` is ``np.maximum``: both return NaN for NaN)."""
    if isinstance(xmin, Column):
        zero = F.lit(0.0)
        dx = F.greatest(xmin - qx, F.lit(qx) - xmax, zero)
        dy = F.greatest(ymin - qy, F.lit(qy) - ymax, zero)
        return _bound_pair(xmin, ymin, xmax, ymax, qx, qy, dx, dy, F.sqrt)
    with np.errstate(invalid="ignore"):  # an empty envelope's inf - inf
        dx = np.maximum(np.maximum(xmin - qx, qx - xmax), 0.0)
        dy = np.maximum(np.maximum(ymin - qy, qy - ymax), 0.0)
        return _bound_pair(xmin, ymin, xmax, ymax, qx, qy, dx, dy, np.sqrt)


def _bound_pair(xmin, ymin, xmax, ymax, qx, qy, dx, dy, sqrt):
    cx, cy = (xmin + xmax) / 2 - qx, (ymin + ymax) / 2 - qy
    w, h = xmax - xmin, ymax - ymin
    return sqrt(dx * dx + dy * dy), sqrt(cx * cx + cy * cy) + sqrt(w * w + h * h) / 2


def _kth_upper_bound(df: DataFrame, q: tuple[float, float], k: int):
    """``(T, n)``: the k-th smallest distance upper bound over the rows of
    ``df`` and how many of its k smallest are not NULL (a NULL geometry
    has NULL bounds; they sort last, as NULL distances do under PG's
    ``ORDER BY ... ASC``). One root-level top-k job over the bound column
    only — no geometry bytes move."""
    _, ub = _bounds(*(F.col(c) for c in SYSTEM_COLUMNS), *q)
    rows = df.select(ub.alias("ub")).orderBy(F.col("ub").asc_nulls_last()).limit(k).collect()
    ubs = [r[0] for r in rows if r[0] is not None]
    return (ubs[-1] if ubs else None), len(ubs)


def _knn_candidates(
    catalog: GeoDBCatalog,
    collection: str,
    point: tuple[float, float],
    k: int,
    database: str,
    point_crs,
    wsg84_order: str,
) -> tuple[DataFrame, tuple[float, float]]:
    """Steps 1-2 of :func:`get_knn`: ``(candidates, query point)`` — the
    rows whose distance lower bound is within the k-th smallest upper
    bound, system columns kept, and the point in the collection's CRS."""
    srid = catalog.get_collection_srid(collection, database)
    q = _knn_point(srid, point, point_crs, wsg84_order)
    df = catalog.load_df(collection, database, include_system=True)
    if k <= 0:
        return df.limit(0), q
    kth, n = _kth_upper_bound(df, q, int(k))
    if n < k:  # fewer than k geometries: every row is a candidate
        return df, q
    lb, _ = _bounds(*(F.col(c) for c in SYSTEM_COLUMNS), *q)
    # NULL-geometry rows would pass `lb <= kth` (greatest() skips NULLs)
    near = F.col("__xmin").isNotNull() & (lb <= F.lit(float(kth)))
    return df.filter(near), q


def _point_distance(q: tuple[float, float]) -> Callable:
    """WKB (None for NULL) -> exact kernel distance to the point."""
    qg = Geometry("Point", np.array(q, dtype=np.float64))
    return lambda b: distance(parse_wkb(bytes(b)), qg) if b is not None else None


def get_knn(
    catalog: GeoDBCatalog,
    collection: str,
    point: tuple[float, float],
    k: int = 10,
    database: str = "public",
    point_crs=4326,
    wsg84_order: str = "lon_lat",
) -> DataFrame:
    """Exact k nearest neighbors to a point, engine path (the PostGIS
    ``ORDER BY geom <-> q LIMIT k`` idiom).

    Two-pass envelope-bounded search that stays JVM-side until the final
    candidate set:

    1. per row, a distance LOWER bound (point-to-envelope box, 0 inside)
       and UPPER bound (distance to envelope center + half diagonal; the
       geometry is non-empty inside its tight envelope, so some geometry
       point is within half a diagonal of the center) — plain Column
       arithmetic on the persisted ``__xmin..__ymax`` columns;
    2. threshold T = k-th smallest upper bound (one TakeOrdered job over
       the bound columns only — no geometry bytes move);
    3. rows with ``lower_bound <= T`` (a parquet-stat- and file-prunable
       range predicate on the envelope columns — the same pruning surface
       as a bbox query with box ``[qx-T, qy-T, qx+T, qy+T]``) get the
       exact kernel distance in an Arrow-vectorized UDF, then
       ``ORDER BY dist LIMIT k`` (TakeOrderedAndProject, per-partition
       heaps).

    At 100 TB, step 3 touches only the files near the query point; the
    candidate count is O(k) for any non-pathological spatial distribution.
    Rows with a NULL geometry have a NULL distance and sort last, as under
    PG's ``ORDER BY ... ASC``. Client reads run step 3 on the driver
    instead (:func:`knn_candidates`).
    """
    df, q = _knn_candidates(
        catalog, collection, point, k, database, point_crs, wsg84_order
    )
    dist = _point_distance(q)

    @F.pandas_udf(T.DoubleType())
    def _dist(wkb: pd.Series) -> pd.Series:
        return wkb.map(dist)

    out = (
        df.withColumn("dist", _dist(F.col("geometry")))
        .drop(*SYSTEM_COLUMNS)
        .orderBy(F.col("dist").asc_nulls_last(), "id")
        .limit(int(k))
    )
    return out


def knn_candidates(
    catalog: GeoDBCatalog,
    collection: str,
    point: tuple[float, float],
    k: int = 10,
    database: str = "public",
    point_crs=4326,
    wsg84_order: str = "lon_lat",
) -> tuple[Candidates, Refine]:
    """:func:`get_knn` split for a caller that collects the result:
    ``(candidates, refine)``, best-first over files.

    The manifest's per-file envelopes order the files by their lower bound
    (the point's distance to the file's envelope, below every row's). The
    nearest files that hold at least ``k`` geometries give a threshold
    ``T``, the k-th smallest row upper bound among them; no row of a file
    whose lower bound exceeds ``T`` can be among the k nearest, so only
    the files within ``T`` are kept (the k-th-bound cut-off of REPOSE,
    ICDE 2021, over dataset MBRs as in *Joinable Search over Multi-Source
    Spatial Datasets*, ICDE 2025). ``candidates`` are their rows within the
    box ``T`` around the point, read on the driver when the files are small
    (``dml.files_fit_driver``), else by Spark (one job for ``T``, one for
    the candidates).

    ``refine`` finds the threshold ``get_knn`` uses among the candidates
    (they hold every row whose upper bound is within ``T``, so the k
    smallest), keeps the rows within it, computes the same exact distances
    on the driver, orders by ``(dist, id)`` as ``get_knn`` does (NULL last)
    and keeps ``k`` — the frame ``get_knn(...).toPandas()`` returns."""
    m = catalog.meta(collection, database)
    q = _knn_point(m.srid, point, point_crs, wsg84_order)
    k = int(k)
    read = PrunedRead(catalog, collection, database, m)
    kth = _knn_threshold(read, q, k)
    spec = Conjunction()  # without a threshold: every row of every file
    if kth is not None and not math.isnan(kth):
        fstats = m.file_stats()
        read.files = [f for f in read.files if _file_lower_bound(fstats.get(f), q) <= kth]
        if read.files:
            spec = envelope_terms("intersects", (q[0] - kth, q[1] - kth, q[0] + kth, q[1] + kth))
    read.decide()
    cands = read.candidates(spec, drop=())
    schema = T.StructType([f for f in cands.schema.fields if f.name not in SYSTEM_COLUMNS])

    def refine(pdf: pd.DataFrame) -> pd.DataFrame:
        env = [pdf[c].to_numpy(dtype=np.float64) for c in SYSTEM_COLUMNS]
        # NULL bounds (a NULL geometry; ingest never writes a NaN one)
        valid = ~np.isnan(np.array(env)).any(axis=0)
        if 0 < k <= valid.sum():
            lb, ub = _bounds(*env, *q)
            t = np.sort(ub[valid])[k - 1]  # NaN sorts last, as in Spark
            # Spark's `lb <= t`: anything is below a NaN
            pdf = pdf[valid & ((lb <= t) | np.isnan(t))]
        pdf = pdf.drop(columns=SYSTEM_COLUMNS).reset_index(drop=True)
        dist = pdf["geometry"].map(_point_distance(q)).tolist()
        ids = pdf["id"].tolist()

        def key(i):
            # the UDF's NaN reaches Spark as NULL; NULLs sort last
            d = dist[i]
            null = d is None or math.isnan(d)
            return (null, 0.0 if null else d, ids[i])

        order = sorted(range(len(pdf)), key=key)[: max(k, 0)]
        out = pdf.take(order).reset_index(drop=True)
        out["dist"] = pd.Series([dist[i] for i in order], dtype=np.float64)
        return _retyped(out, schema)

    return cands, refine


def _file_lower_bound(st: dict | None, q: tuple[float, float]) -> float:
    """The point's distance to a file's envelope (from its manifest stats):
    a lower bound of every row's, computed by the same operations on
    smaller mins and larger maxes. 0 (keep, look first) when unknown."""
    try:
        env = [float(st[c][i]) for c, i in zip(SYSTEM_COLUMNS, (0, 0, 1, 1))]
    except (KeyError, TypeError, IndexError, ValueError):
        return 0.0
    lb = float(_bounds(*np.array(env), *q)[0])
    return 0.0 if math.isnan(lb) else lb


def _knn_threshold(read: PrunedRead, q: tuple[float, float], k: int):
    """The k-th smallest row upper bound over the files nearest the point
    (by :func:`_file_lower_bound`) that hold at least ``k`` geometries by
    their stats; None when they hold fewer (then every row is a
    candidate). Read on the driver when those files are small."""
    if k <= 0:
        return -math.inf
    fstats = read.m.file_stats()
    nearest, n = [], 0
    for f in sorted(read.files, key=lambda f: _file_lower_bound(fstats.get(f), q)):
        nearest.append(f)
        st = fstats.get(f) or {}
        rows = (st.get("::rows") or [0])[0]
        n += rows - (st.get("::nulls:__xmin") or [0])[0]
        if n >= k:
            break
    head = PrunedRead(read.catalog, read.collection, read.database, read.m, nearest)
    head.decide()
    if not head.driver:
        kth, n = _kth_upper_bound(head.frame(), q, k)
        return kth if n >= k else None
    table = head.read(Conjunction(), SYSTEM_COLUMNS)
    valid = np.ones(table.num_rows, dtype=bool)
    for col in table.columns:
        valid &= col.is_valid().to_numpy(zero_copy_only=False)
    env = [col.to_numpy(zero_copy_only=False) for col in table.columns]
    _, ub = _bounds(*env, *q)
    ub = np.sort(ub[valid])
    return float(ub[k - 1]) if len(ub) >= k else None


def get_geometry_types(
    catalog: GeoDBCatalog,
    collection: str,
    aggregate: bool = False,
    database: str = "public",
) -> DataFrame:
    """``geodb_geometry_types`` (geodb.sql:460-482): per-row geometry type
    names, or DISTINCT when aggregate=true."""
    df = catalog.load_df(collection, database).select(
        geom_type_udf(F.col("geometry")).alias("geometrytype")
    )
    return df.distinct() if aggregate else df
