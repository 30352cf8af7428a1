"""Spatial operators: bbox scans, counts, extents, geometry types.

Reference: ``geodb_get_by_bbox`` / ``geodb_count_by_bbox``
(``xcube_geodb/sql/geodb.sql:1179-1257`` / ``:1306-1370``) evaluate
``(where) op ST_pred(bbox_polygon, geometry)`` ordered by id. Our physical
strategy (SURVEY.md §4) is filter-and-refine:

1. cheap envelope pre-filter on the persisted ``__xmin..__ymax`` columns —
   a plain range predicate Catalyst pushes into the parquet scan, so files
   and row groups outside the query box are never read;
2. exact predicate (``geometry.udfs.bbox_predicate_batch``) on survivors;
3. ``ORDER BY id`` + limit/offset, parity with ``geodb.sql:1240-1241``.

The pre-filter is applied only when it is a *necessary* condition of the
final predicate (AND-composition with ``where``; never for ``disjoint``).

Where steps 2 and 3 run depends on the caller:

- the DataFrame operators (:func:`get_collection_by_bbox`, :func:`get_knn`)
  run them in Spark: a pandas UDF, then a global sort (or a top-k);
- client reads that hand back pandas anyway (:func:`bbox_candidates`,
  :func:`knn_candidates`) run only step 1 and ``where`` in Spark — one job,
  no Python worker — and refine the collected candidates on the driver
  with the same exact function, then sort there. The candidates are the
  result plus the envelope margin, so the driver holds about what it
  returns. Reads with a limit/offset or an ``OR``-ed ``where`` keep the
  operator path: the exact filter must run before the limit, and the
  candidate set would be unbounded;
- :func:`count_collection_by_bbox` settles ``intersects``/``disjoint`` in
  the JVM for rows whose envelope decides them and collects only the WKB
  of the rest for the driver.
"""

from __future__ import annotations

import math
import os
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xcube_geodb_spark.catalog import SYSTEM_COLUMNS, GeoDBCatalog
from xcube_geodb_spark.errors import GeoDBError
from xcube_geodb_spark.geometry.crs import check_crs, transform_bbox_crs
from xcube_geodb_spark.geometry.geom import Geometry, distance, parse_wkb
from xcube_geodb_spark.geometry.predicates import COMPARISON_MODES
from xcube_geodb_spark.geometry.udfs import (
    bbox_predicate_batch,
    bbox_predicate_column,
    envelope_decides,
    envelope_prefilter,
    geom_type_udf,
)

Bbox = tuple[float, float, float, float]
# driver-side second half of a filter-and-refine read: candidate rows (as
# ``toPandas`` returns them) -> the result frame
Refine = Callable[[pd.DataFrame], pd.DataFrame]


def _aligned_bbox(
    catalog: GeoDBCatalog,
    collection: str,
    database: str,
    bbox: Bbox,
    bbox_crs,
    wsg84_order: str = "lon_lat",
) -> Bbox:
    """CRS auto-alignment: if the query bbox CRS differs from the collection
    SRID, reproject the bbox first (``geodb.py:1630-1637``)."""
    srid = catalog.get_collection_srid(collection, database)
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
) -> DataFrame:
    op = _checked_op(comparison_mode, op)
    df = catalog.load_df(collection, database, include_system=True)
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
    bbox = _aligned_bbox(catalog, collection, database, bbox, bbox_crs, wsg84_order)
    df = _bbox_filtered(catalog, collection, database, bbox, comparison_mode, where, op)
    df = df.drop(*SYSTEM_COLUMNS).orderBy("id")
    if offset:
        df = df.offset(int(offset))
    if limit:
        df = df.limit(int(limit))
    return df


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
) -> tuple[DataFrame, Refine]:
    """:func:`get_collection_by_bbox` without limit/offset, split for a
    caller that collects the result: ``(candidates, refine)``. An ``OR``-ed
    ``where`` is not supported here (use the operator).

    ``candidates`` is the envelope pre-filter plus ``where`` — no Python
    UDF, no sort, so collecting it is one Spark job. ``refine`` maps the
    collected candidates to exactly the frame ``get_collection_by_bbox(
    ...).toPandas()`` returns: it keeps the rows
    :func:`~xcube_geodb_spark.geometry.udfs.bbox_predicate_batch` accepts
    (the function the operator's UDF runs) and sorts them by id.

    ``disjoint`` has no necessary envelope condition; its candidates drop
    the rows whose envelope proves they intersect the box instead."""
    if _checked_op(comparison_mode, op) == "OR" and where:
        raise GeoDBError("bbox_candidates AND-s `where`; use get_collection_by_bbox")
    bbox = _aligned_bbox(catalog, collection, database, bbox, bbox_crs, wsg84_order)
    df = catalog.load_df(collection, database, include_system=True)
    if comparison_mode == "disjoint":
        df = df.filter(~envelope_decides(bbox)[0])
    else:
        df = df.filter(envelope_prefilter(comparison_mode, bbox))
    if where:
        df = df.filter(F.expr(where))
    df = df.drop(*SYSTEM_COLUMNS)
    schema = df.schema

    def refine(pdf: pd.DataFrame) -> pd.DataFrame:
        keep = bbox_predicate_batch(
            comparison_mode, pdf["geometry"].to_numpy(dtype=object), bbox
        )
        out = pdf[keep].sort_values("id", kind="stable")
        return _retyped(out.reset_index(drop=True), schema)

    return df, refine


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
) -> int:
    """``geodb_count_by_bbox`` (geodb.sql:1306-1370).

    ``intersects`` and ``disjoint`` (with ``where`` AND-ed) run as one
    Spark job with no Python worker: rows whose envelope settles the
    predicate (:func:`~xcube_geodb_spark.geometry.udfs.envelope_decides`)
    are counted in the JVM, and only the WKB of the remaining boundary rows
    is collected and decided on the driver by the exact kernel. Other modes
    and an ``OR``-ed ``where`` count the operator path's rows."""
    op = _checked_op(comparison_mode, op)
    bbox = _aligned_bbox(catalog, collection, database, bbox, bbox_crs, wsg84_order)
    if comparison_mode not in ("intersects", "disjoint") or (where and op == "OR"):
        return _bbox_filtered(
            catalog, collection, database, bbox, comparison_mode, where, op
        ).count()
    df = catalog.load_df(collection, database, include_system=True)
    inside, clear = envelope_decides(bbox)
    if comparison_mode == "intersects":
        # the operator path drops rows failing the pre-filter, so they
        # never count (even where the kernel would accept them)
        sure, maybe = inside, envelope_prefilter("intersects", bbox)
    else:
        sure, maybe = clear, ~inside & F.col("geometry").isNotNull()
    df = df.filter(maybe)
    if where:
        df = df.filter(F.expr(where))
    # one job: the count of settled rows rides along as an observed metric
    # of the scan that collects the boundary WKB (a global aggregate would
    # add a shuffle stage, which adaptive execution submits as a 2nd job).
    # `sure` depends on every row's envelope, so the optimizer cannot fold
    # the filter above the observation away (it would drop the metric).
    from pyspark.sql import Observation

    obs = Observation()  # unnamed: a unique name per call
    rows = (
        df.observe(obs, F.count_if(sure).alias("n"))
        .filter(~sure)
        .select("geometry")
        .collect()
    )
    boundary = [r[0] for r in rows]
    return int(obs.get["n"]) + int(
        bbox_predicate_batch(comparison_mode, boundary, bbox).sum()
    )


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
    if point_crs is not None:
        srid = catalog.get_collection_srid(collection, database)
        crs = check_crs(point_crs)
        if crs != srid:
            x0, y0, _, _ = transform_bbox_crs(
                (point[0], point[1], point[0], point[1]), crs, srid,
                wsg84_order=wsg84_order,
            )
            point = (x0, y0)
        elif crs == 4326 and wsg84_order == "lat_lon":
            point = (point[1], point[0])
    qx, qy = float(point[0]), float(point[1])

    df = catalog.load_df(collection, database, include_system=True)
    zero = F.lit(0.0)
    dx = F.greatest(F.col("__xmin") - qx, F.lit(qx) - F.col("__xmax"), zero)
    dy = F.greatest(F.col("__ymin") - qy, F.lit(qy) - F.col("__ymax"), zero)
    lb = F.sqrt(dx * dx + dy * dy)
    cx = (F.col("__xmin") + F.col("__xmax")) / 2
    cy = (F.col("__ymin") + F.col("__ymax")) / 2
    half_diag = (
        F.sqrt(
            (F.col("__xmax") - F.col("__xmin")) ** 2
            + (F.col("__ymax") - F.col("__ymin")) ** 2
        )
        / 2
    )
    ub = F.sqrt((cx - qx) ** 2 + (cy - qy) ** 2) + half_diag

    bounds = df.select(lb.alias("__lb"), ub.alias("__ub"))
    # NULL bounds (NULL geometry) sort last: their rows rank after every
    # row with a geometry, as NULL distances do under PG's ORDER BY ASC
    kth, n = (
        bounds.orderBy(F.col("__ub").asc_nulls_last())
        .limit(int(k))
        .agg(F.max("__ub"), F.count("__ub"))
        .collect()[0]
    )
    if n < k:  # fewer than k geometries: every row is a candidate
        return df, (qx, qy)
    if kth is None:  # k = 0
        return df.limit(0), (qx, qy)
    # NULL-geometry rows would pass `lb <= kth` (greatest() skips NULLs)
    near = F.col("__xmin").isNotNull() & (lb <= F.lit(float(kth)))
    return df.filter(near), (qx, qy)


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
) -> tuple[DataFrame, Refine]:
    """:func:`get_knn` split for a caller that collects the result:
    ``(candidates, refine)``. Finding the threshold is one Spark job, as in
    ``get_knn``; collecting ``candidates`` (step 3's rows, no UDF, no sort)
    is the other. ``refine`` computes the same exact distances on the
    driver, orders by ``(dist, id)`` as ``get_knn`` does (NULL last) and
    keeps ``k`` — the frame ``get_knn(...).toPandas()`` returns."""
    df, q = _knn_candidates(
        catalog, collection, point, k, database, point_crs, wsg84_order
    )
    df = df.drop(*SYSTEM_COLUMNS)
    schema = df.schema

    def refine(pdf: pd.DataFrame) -> pd.DataFrame:
        dist = pdf["geometry"].map(_point_distance(q)).tolist()
        ids = pdf["id"].tolist()

        def key(i):
            # the UDF's NaN reaches Spark as NULL; NULLs sort last
            d = dist[i]
            null = d is None or math.isnan(d)
            return (null, 0.0 if null else d, ids[i])

        order = sorted(range(len(pdf)), key=key)[: int(k)]
        out = pdf.take(order).reset_index(drop=True)
        out["dist"] = pd.Series([dist[i] for i in order], dtype=np.float64)
        return _retyped(out, schema)

    return df, refine


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
