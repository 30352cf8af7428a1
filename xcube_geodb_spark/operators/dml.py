"""DML operators: insert / upsert / delete / update.

Reference semantics being reproduced:

- ``insert_into_collection`` (``xcube_geodb/core/geodb.py:1427-1533``):
  lower-cases column names (:1502), drops the ``id`` column unless upserting
  (:1499-1500), attaches ``SRID=...;WKT`` geometries (:1401-1425), raises on
  CRS mismatch (:1466-1469). Upsert = merge on the ``id`` PK
  (``Prefer: resolution=merge-duplicates``, :1506).
- ``delete_from_collection`` (:1325-1354): PostgREST-grammar filter.
- ``update_collection`` (:1356-1398): SET values WHERE filter; ``id`` is
  removed from the SET map; the ``modified_at`` trigger
  (``geodb.sql:281-288``) stamps updated rows.

Physical model: collections are manifests of immutable parquet files
(catalog.py). Inserts only add files. Delete/update/upsert must rewrite —
but only the files whose parquet-footer ``id``/envelope stats can contain
affected rows; untouched files stay in the manifest verbatim. At 100 TB
that's the difference between rewriting a partition and rewriting the table.

Small commits skip Spark where the collection's layout needs nothing only
Spark computes (:func:`driver_layout`):

- a pandas insert that fits the driver (:func:`fits_driver_write`) and is
  not an upsert builds its batch as an Arrow table in-process, through
  PySpark's own pandas-to-Arrow converter (:func:`driver_insert_batch`),
  and the commit writes it with no Spark job. Any other pandas insert goes
  through ``createDataFrame``: collected and written on the driver when it
  fits, else written by Spark.
- a delete or update that touches one small file rewrites it end to end on
  the driver (``_rewrite``): ``pyarrow`` reads the file, the filter's
  ``pyarrow`` lowering masks it, and the Arrow table goes to the commit
  with no Spark job, when the SET values need nothing only Spark computes
  either (:func:`driver_rewrite_filter`). Every other rewrite reads the
  touched files with Spark.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xcube_geodb_spark.catalog import (
    SYSTEM_COLUMNS,
    CollectionMeta,
    GeoDBCatalog,
)
from xcube_geodb_spark.errors import GeoDBError
from xcube_geodb_spark.filters import Query, parse_postgrest_query, parse_query
from xcube_geodb_spark.geometry.crs import check_crs
from xcube_geodb_spark.geometry.geom import (
    Geometry,
    from_geojson,
    parse_wkb,
    parse_wkb_hex,
    parse_wkt,
    to_wkb,
)
from xcube_geodb_spark.geometry.udfs import Conjunction, with_envelope_columns
from xcube_geodb_spark.operators.ids import (
    assign_sequential_ids_counted,
    assign_sequential_ids_measured,
)
from xcube_geodb_spark.operators.stats import file_arrow_bytes


# ---------------------------------------------------------------------------
# ingest normalization
# ---------------------------------------------------------------------------


def _parse_geometry_value(v) -> Geometry | None:
    if v is None:
        return None
    if isinstance(v, Geometry):
        return v
    if isinstance(v, (bytes, bytearray, memoryview)):
        return parse_wkb(bytes(v))
    if isinstance(v, str):
        s = v.strip()
        if s[:2].upper() in ("01", "00") and all(
            c in "0123456789abcdefABCDEF" for c in s
        ):
            return parse_wkb_hex(s)
        return parse_wkt(s)
    if isinstance(v, dict):
        return from_geojson(v)
    raise GeoDBError(f"Cannot interpret geometry value of type {type(v).__name__}")


def _normalize_geometry_value(v) -> bytes | None:
    g = _parse_geometry_value(v)
    return None if g is None else to_wkb(g, srid=0)


def _check_crs(meta: CollectionMeta, crs: int | None) -> None:
    if crs is not None and check_crs(crs) != meta.srid:
        # geodb.py:1466-1469: CRS mismatch is an error
        raise GeoDBError(
            f"crs {crs} is not compatible with collection's crs {meta.srid}"
        )


def _declared(pdf: pd.DataFrame, schema) -> tuple[pd.DataFrame, list]:
    """The columns of ``pdf`` that ``schema`` declares (its date and
    timestamp columns as :func:`_datetime_column` reads them) and their
    fields, all nullable."""
    fields = [
        T.StructField(f.name, f.dataType, True)
        for f in schema.fields
        if f.name in pdf.columns
    ]
    datetimes = {
        f.name: _datetime_column(pdf[f.name])
        for f in fields
        if isinstance(f.dataType, (T.DateType, T.TimestampType))
    }
    return pdf.assign(**datetimes)[[f.name for f in fields]], fields


def _datetime_column(s: pd.Series) -> pd.Series:
    """``s`` as datetime64[ns]; when a value lies outside that range
    (before 1677 or after 2262), as Python ``datetime`` cells instead,
    which Spark's date and timestamp types hold as they are.

    ISO 8601 text is parsed as such, whatever mix of date-only and
    date-time spellings it holds (pandas would infer one format from the
    first value, then fail or fall back to ``dateutil`` row by row); any
    other input is left to pandas' inference."""
    try:
        try:
            return pd.to_datetime(s, format="ISO8601")
        except pd.errors.OutOfBoundsDatetime:
            raise
        except ValueError:  # not ISO 8601 text
            return pd.to_datetime(s)
    except (pd.errors.OutOfBoundsDatetime, OverflowError):
        return s.map(_datetime_cell).astype(object)


def _datetime_cell(v):
    if v is None or v is pd.NaT or isinstance(v, float) and np.isnan(v):
        return None
    if isinstance(v, dt.date):  # datetime and date alike
        return v
    if isinstance(v, np.datetime64):
        return v.astype("datetime64[us]").item()
    try:
        return pd.Timestamp(v).to_pydatetime()
    except (pd.errors.OutOfBoundsDatetime, OverflowError):
        try:
            return dt.datetime.fromisoformat(str(v))
        except ValueError:
            raise GeoDBError(
                f"Cannot read {v!r} as a date or timestamp outside "
                "1677-2262; give it in ISO format or as a datetime"
            ) from None


def prepare_values_df(
    catalog: GeoDBCatalog,
    meta: CollectionMeta,
    values,
    crs: int | None = None,
    include_system: bool = False,
) -> DataFrame:
    """Normalize user input (pandas or Spark DataFrame) to the collection
    schema: lower-cased columns, WKB geometry, typed property columns."""
    _check_crs(meta, crs)
    schema = meta.spark_schema(include_system=include_system)
    if isinstance(values, pd.DataFrame):
        pdf = values.copy()
        pdf.columns = [c.lower() for c in pdf.columns]
        if "geometry" in pdf.columns and len(pdf):
            pdf["geometry"] = pdf["geometry"].map(_normalize_geometry_value)
        pdf, fields = _declared(pdf, schema)
        df = catalog.spark.createDataFrame(pdf, T.StructType(fields))
    elif isinstance(values, DataFrame):
        df = values
        for c in df.columns:
            if c != c.lower():
                df = df.withColumnRenamed(c, c.lower())
    else:
        raise GeoDBError(
            f"Cannot insert values of type {type(values).__name__}; "
            "expected a pandas or Spark DataFrame"
        )
    # conform property columns to declared types, in ONE projection (a
    # withColumn per column re-analyzes the plan each time)
    types = {f.name: f.dataType for f in schema.fields if f.name != "geometry"}
    return df.select(
        *[F.col(c).cast(types[c]).alias(c) if c in types else F.col(c) for c in df.columns]
    )


# ---------------------------------------------------------------------------
# insert / upsert
# ---------------------------------------------------------------------------


def _enforce_constraints(m, df: DataFrame, what: str) -> None:
    """CHECK-constraint enforcement (Postgres semantics: NULL passes).
    One combined aggregation over the batch; zero cost when the
    collection declares no constraints."""
    cons = m.d.get("constraints", {})
    if not cons:
        return
    checks = [
        F.sum(
            (~F.coalesce(F.expr(e).cast("boolean"), F.lit(True))).cast("int")
        ).alias(n)
        for n, e in cons.items()
    ]
    row = df.agg(*checks).collect()[0]
    viol = {n: row[n] for n in cons if row[n]}
    if viol:
        detail = ", ".join(
            f"{n} ({cons[n]}): {c} row(s)" for n, c in viol.items()
        )
        raise GeoDBError(f"CHECK constraint violation on {what}: {detail}")


# The most decoded (Arrow) bytes the driver takes on in place of a Spark
# job: the batch of a small commit, or the files a pruned client read keeps
# (operators/spatial.py). A quarter of ``spark.driver.maxResultSize`` caps
# it, so a collect stays well inside that.
DRIVER_BYTES = 256 * 1024 * 1024


def fits_driver_write(spark, nbytes: int) -> bool:
    """THE "small commit" decision: True when a batch whose decoded
    (Arrow) size is at most ``nbytes`` is collected to the driver and
    written there (catalog.commit_version ``local_batch``) instead of
    taking the range-clustered distributed write. The bound is
    :data:`DRIVER_BYTES`, capped at a quarter of the session's
    ``spark.driver.maxResultSize``. Rows need no bound: the driver write
    splits files at ``max_file_rows`` as Spark's does. Callers pass an
    upper bound of the batch's decoded size, never an encoded or
    compressed one."""
    limit = _driver_limit(spark)
    return limit is not None and nbytes <= limit


def _driver_limit(spark) -> int | None:
    """The bound of :func:`fits_driver_write`; None when the session's
    conf cannot be read (then nothing fits)."""
    try:
        max_result = spark.sparkContext._jsc.sc().conf().getSizeAsBytes(
            "spark.driver.maxResultSize", "1g"
        )
    except Exception:
        return None
    if max_result > 0:  # 0 means unlimited
        return min(DRIVER_BYTES, max_result // 4)
    return DRIVER_BYTES


def _arrow_row_bytes(schema) -> Column:
    """Per-row upper bound of the decoded (Arrow) size of a row of
    ``schema``: each value's width or byte length, plus an 8-byte offset
    and a validity byte (arrays sum their elements the same way). Other
    types count at 16 bytes, the widest fixed-width Arrow value."""
    widths = {
        T.BooleanType: 1,
        T.ByteType: 1,
        T.ShortType: 2,
        T.IntegerType: 4,
        T.FloatType: 4,
        T.DateType: 4,
        T.LongType: 8,
        T.DoubleType: 8,
        T.TimestampType: 8,
        T.TimestampNTZType: 8,
    }

    def size(c: Column, t) -> Column:
        if isinstance(t, (T.StringType, T.BinaryType)):
            return F.coalesce(F.octet_length(c), F.lit(0)) + 9
        if isinstance(t, T.ArrayType):
            elems = F.aggregate(
                c, F.lit(0).cast("long"), lambda acc, x: acc + size(x, t.elementType)
            )
            return F.coalesce(elems, F.lit(0)) + 9
        return F.lit(widths.get(type(t), 16) + 9)

    return sum(
        (size(F.col(f.name), f.dataType) for f in schema.fields),
        F.lit(0).cast("long"),
    )


def _cell_bytes(v) -> int:
    """Decoded (Arrow) size bound of one array-column cell, with an 8-byte
    offset and a validity byte per value."""
    if isinstance(v, str):
        return len(v.encode()) + 9
    if isinstance(v, (bytes, bytearray)):
        return len(v) + 9
    if isinstance(v, np.ndarray) and v.dtype != object:
        return v.nbytes + 9 * v.size + 9
    if isinstance(v, (list, tuple, np.ndarray)):
        return sum(map(_cell_bytes, v)) + 9
    return 17


def _pandas_arrow_bytes(pdf: pd.DataFrame, schema) -> int:
    """Upper bound of the decoded (Arrow) size of the pandas batch ``pdf``
    written as ``schema``. pandas memory holds every scalar at least at its
    Arrow size (a str or bytes object carries 33+ bytes of header), but
    counts a list cell without its elements, so array columns are counted
    cell by cell; 9 bytes per cell cover offsets, validity and the columns
    only Spark fills in."""
    nbytes = int(pdf.memory_usage(deep=True, index=False).sum())
    for f in schema.fields:
        if isinstance(f.dataType, T.ArrayType) and f.name in pdf.columns:
            nbytes += sum(map(_cell_bytes, pdf[f.name]))
    return nbytes + 9 * len(pdf) * len(schema.fields)


def _with_envelopes(df: DataFrame, had_geom: bool) -> DataFrame:
    """Envelope system columns for a batch about to be written. When the
    incoming batch carried no geometry column (the collection's geometry
    is NULL for every new row), the envelopes are NULL by definition —
    emit them as literals instead of round-tripping every row through the
    Arrow envelope kernel (identical output: the kernel maps NULL WKB to
    all-NULL envelopes)."""
    if had_geom:
        return with_envelope_columns(df)
    out = df
    for c in ("__xmin", "__ymin", "__xmax", "__ymax"):
        out = out.withColumn(c, F.lit(None).cast("double"))
    return out


def driver_layout(m: CollectionMeta) -> bool:
    """True when a commit to ``m`` needs nothing only Spark computes, so
    a batch built on the driver can be written as it is: the collection
    declares no CHECK constraint (its SQL runs in Spark), no btree index
    and no lsh/ivf/ivfpq index (their layout and the
    ``__annbucket``/``__pqcode`` columns are built in Spark). The driver
    lanes of rewrites (:func:`driver_rewrite_filter`) and of pandas
    inserts (:func:`driver_insert_batch`) both require it."""
    return not m.d.get("constraints") and not any(
        i.get("type") in ("btree", "lsh", "ivf", "ivfpq") for i in m.d.get("indexes", [])
    )


def driver_insert_batch(spark, pdf: pd.DataFrame, schema: T.StructType):
    """The driver lane of a pandas insert: the declared columns ``pdf``
    (:func:`_declared`) as the ``pyarrow.Table`` of ``schema`` that the
    collect lane's ``toArrow`` hands the commit, built with no Spark job.
    Each column goes through PySpark's own pandas-to-Arrow converter, the
    ``ArrowStreamPandasSerializer`` that ``createDataFrame`` uses, with the
    session's time zone and ``arrowSafeTypeConversion``, so the values are
    the ones the Spark lane stores. The columns ``pdf`` lacks are NULL and
    ``created_at`` holds one UTC "now", as ``current_timestamp()`` does.

    None when the session does not convert pandas through Arrow or the
    converter refuses a column: ``createDataFrame`` then falls back to its
    row-wise conversion, and the insert takes the Spark lane."""
    import pyarrow as pa
    from pyspark.sql.pandas.serializers import ArrowStreamPandasSerializer
    from pyspark.sql.pandas.types import to_arrow_schema

    jconf = spark._jconf
    if not jconf.arrowPySparkEnabled():
        return None
    target = to_arrow_schema(
        schema,
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=jconf.arrowUseLargeVarTypes(),
    )
    ser = ArrowStreamPandasSerializer(
        jconf.sessionLocalTimeZone(), jconf.arrowSafeTypeConversion(), False
    )
    n = len(pdf)
    cols = []
    for f, af in zip(schema.fields, target):
        if f.name == "created_at":
            now = pa.scalar(dt.datetime.now(dt.timezone.utc), af.type)
            cols.append(pa.repeat(now, n))
        elif f.name in pdf.columns:
            try:
                cols.append(ser._create_array(pdf[f.name], af.type, f.dataType))
            except Exception:  # createDataFrame falls back on any error too
                return None
        else:
            cols.append(pa.nulls(n, af.type))
    return pa.Table.from_arrays(cols, schema=pa.schema([af.with_nullable(True) for af in target]))


def insert_into_collection(
    catalog: GeoDBCatalog,
    collection: str,
    values,
    upsert: bool = False,
    crs: int | None = None,
    database: str = "public",
    merge_meta: dict | None = None,
    retries: int = 0,
    expected_version: int | None = None,
    operation: str | None = None,
) -> int:
    """Returns the number of rows written. A pandas batch that is not an
    upsert, fits the driver and goes into a collection whose layout passes
    :func:`driver_layout` is built as an Arrow table on the driver and
    committed with no Spark job (the ``driver`` lane); one PySpark's
    pandas-to-Arrow converter refuses, or any other pandas batch, goes
    through ``createDataFrame`` and the ``collect`` lane (one collect job)
    when it fits, else the ``spark`` lane. ``merge_meta`` one-level-merges
    into dict-valued collection metadata keys in the same atomic commit
    (streaming-sink epochs; see catalog.commit_version). ``operation``
    names the commit in the version history (default INSERT or UPSERT;
    the streaming sinks pass STREAM).

    ``expected_version`` pins the commit's base snapshot to a version the
    CALLER read (instead of this function's own fresh meta read). Pass it
    whenever the written rows or ``merge_meta`` were DERIVED from an
    earlier snapshot read — e.g. extend_bm25_collection computes absolute
    corpus totals from its stats read; without the pin, a commit landing
    between that read and this one would pass the version check and the
    stale-based totals would silently overwrite the other writer's delta.
    A pinned version that is no longer current raises the
    concurrent-modification error (do not combine with ``retries``: the
    retry would re-insert against the same stale pin and fail again —
    re-derive and re-call instead).

    ``retries``: plain appends COMMUTE with any concurrent commit, so on a
    version conflict (another writer won the race) the insert can simply
    redo itself against the fresh snapshot — ids re-assigned past the new
    max_id, files rewritten, up to ``retries`` extra attempts with
    jittered backoff. Upserts do NOT auto-retry (a merge decision taken
    against a stale snapshot must be re-validated by the caller)."""
    if retries and expected_version is not None:
        raise ValueError(
            "retries and expected_version are mutually exclusive: a retry "
            "against a stale pin can never succeed — re-derive the pinned "
            "state and call again"
        )
    if retries and not upsert:
        import random
        import time as _time

        last: Exception | None = None
        for attempt in range(retries + 1):
            try:
                return insert_into_collection(
                    catalog, collection, values, upsert, crs, database,
                    merge_meta, retries=0, operation=operation,
                )
            except GeoDBError as e:
                if "Concurrent modification" not in str(e):
                    raise
                last = e
                if attempt < retries:
                    _time.sleep(random.uniform(0.02, 0.1) * (attempt + 1))
        raise last
    m = catalog.meta_for_write(collection, database)
    base_version = m.version if expected_version is None else expected_version
    operation = operation or ("UPSERT" if upsert else "INSERT")
    if isinstance(values, pd.DataFrame) and not upsert:
        # fast path: the rows are already driver-side — assign ids AND
        # envelopes in pandas, skipping every Python-worker round-trip
        # (id-assignment jobs + the envelope UDF)
        from xcube_geodb_spark.geometry.geom import envelope as _envelope

        _check_crs(m, crs)
        pdf = values.copy()
        pdf.columns = [c.lower() for c in pdf.columns]
        # geodb.py:1499-1500; envelopes always derive from the geometry
        pdf = pdf.drop(columns=["id", *SYSTEM_COLUMNS], errors="ignore")
        pdf["id"] = range(m.max_id + 1, m.max_id + 1 + len(pdf))
        if "geometry" in pdf.columns:
            # each value parsed once: its WKB and its envelope come from
            # the same Geometry
            geoms = pdf["geometry"].map(_parse_geometry_value)
            pdf["geometry"] = geoms.map(
                lambda g: None if g is None else to_wkb(g, srid=0)
            )
            envs = geoms.map(
                lambda g: (None,) * 4 if g is None else _envelope(g)
            )
            for i, c in enumerate(("__xmin", "__ymin", "__xmax", "__ymax")):
                pdf[c] = envs.map(lambda e, i=i: e[i])
        schema = m.spark_schema(include_system=True)
        fits = fits_driver_write(catalog.spark, _pandas_arrow_bytes(pdf, schema))
        pdf, fields = _declared(pdf, schema)
        batch = driver_insert_batch(catalog.spark, pdf, schema) if fits and driver_layout(m) else None
        if batch is None:
            df = catalog.spark.createDataFrame(pdf, T.StructType(fields))
            batch = df.select(
                *[
                    F.current_timestamp().alias(f.name)
                    if f.name == "created_at"
                    else F.col(f.name)
                    if f.name in df.columns
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in schema.fields
                ]
            )
            _enforce_constraints(m, batch, "insert")
        catalog.commit_version(
            collection,
            database,
            batch,
            keep_files=None,
            max_id=m.max_id + len(pdf),
            expected_version=base_version,
            merge_meta=merge_meta,
            local_batch=fits,
            operation=operation,
        )
        return len(pdf)

    df = prepare_values_df(catalog, m, values, crs)
    # incoming batches without a geometry column get NULL geometry for
    # every row — their envelope columns are NULL by definition, so the
    # Arrow envelope kernel round-trip is skipped entirely (vector/posting
    # collections never pay the Python boundary at ingest)
    had_geom = "geometry" in df.columns
    now = F.current_timestamp()

    if not upsert and "id" in df.columns:
        df = df.drop("id")  # geodb.py:1499-1500

    has_ids = "id" in df.columns
    if has_ids:
        new_with_id = df.filter(F.col("id").isNotNull())
        new_without_id = df.filter(F.col("id").isNull()).drop("id")
    else:
        new_with_id = None
        new_without_id = df

    bounds = None
    n_with_id = 0
    start = m.max_id + 1
    if upsert and new_with_id is not None:
        bounds = new_with_id.agg(
            F.min("id").alias("lo"),
            F.max("id").alias("hi"),
            F.count(F.lit(1)).alias("cnt"),
        ).collect()[0]
        n_with_id = int(bounds["cnt"] or 0)
        if bounds["hi"] is not None:
            # explicit ids in the same batch may themselves be >= max_id+1;
            # start the generated sequence past them so one commit can't
            # mint duplicate primary keys
            start = max(start, int(bounds["hi"]) + 1)
    schema = m.spark_schema(include_system=False)

    def _conform(d: DataFrame) -> DataFrame:
        for f in schema.fields:
            if f.name not in d.columns:
                d = d.withColumn(f.name, F.lit(None).cast(f.dataType))
        return d.select(*[f.name for f in schema.fields])

    if upsert and new_with_id is not None:
        # generated ids for the no-id rows of the merge batch; the count
        # comes from the same per-partition job (no separate count() pass)
        assigned, n_no_id, id_cache = assign_sequential_ids_counted(
            new_without_id, start=start
        )
        if not n_no_id:
            assigned = None
        # prune: only files whose id range can contain replaced ids rewrite
        if bounds["lo"] is not None:
            from xcube_geodb_spark.operators.pruning import (
                split_files_by_constraints,
            )

            touched, untouched = split_files_by_constraints(
                catalog.manifest_paths(collection, database),
                ["id"],
                [("id", "gte", int(bounds["lo"])), ("id", "lte", int(bounds["hi"]))],
                meta=m,
            )
        else:
            touched, untouched = list(m.files), []
        old = catalog.load_files(collection, database, touched)
        key_ids = new_with_id.select("id").distinct()
        # preserve created_at of replaced rows; stamp modified_at (trigger
        # parity, geodb.sql:281-288)
        old_created = old.select("id", F.col("created_at").alias("__old_created"))
        incoming = (
            _conform(new_with_id)
            .join(F.broadcast(old_created), "id", "left")
            .withColumn("created_at", F.coalesce(F.col("__old_created"), now))
            .withColumn(
                "modified_at",
                F.when(F.col("__old_created").isNotNull(), now).otherwise(
                    F.lit(None).cast("timestamp")
                ),
            )
            .drop("__old_created")
            .select(*[f.name for f in schema.fields])
        )
        fresh = [incoming]
        if assigned is not None:
            fresh.append(
                _conform(assigned)
                .withColumn("created_at", now)
                .select(*[f.name for f in schema.fields])
            )
        merged = fresh[0]
        for p in fresh[1:]:
            merged = merged.unionByName(p)
        _enforce_constraints(m, merged, "upsert")
        # survivors keep their persisted envelopes; only fresh rows compute
        survivors = old.join(F.broadcast(key_ids), "id", "left_anti")
        merged = survivors.unionByName(_with_envelopes(merged, had_geom))
        # the new high-water mark is known arithmetically: survivors carry
        # ids <= m.max_id, explicit ids top out at bounds.hi, generated
        # ids at start + n_no_id - 1 — no extra pass over the merge
        max_new = m.max_id
        if bounds["hi"] is not None:
            max_new = max(max_new, int(bounds["hi"]))
        if n_no_id:
            max_new = max(max_new, start + n_no_id - 1)
        try:
            catalog.commit_version(
                collection,
                database,
                merged,
                keep_files=untouched,
                max_id=max_new,
                expected_version=base_version,
                merge_meta=merge_meta,
                # the merge re-runs joins + the envelope kernel if the
                # clustering sampler recomputes it — cache it instead
                cluster_persist=True,
                operation=operation,
            )
        finally:
            if id_cache is not None:
                id_cache.unpersist()
        return n_with_id + n_no_id

    # plain append: existing files untouched. Build the complete row —
    # conform, created_at, envelope columns — BEFORE id assignment, so the
    # id assigner's cache pins the partition layout AND feeds both the
    # clustering sampler and the write: the batch (including any Arrow
    # envelope kernel work) is computed exactly once.
    #
    # r13 measured-and-rejected variant: assigning ids over the RAW batch,
    # spread_small-ing the cached single partition, computing envelopes/
    # ANN-encode post-spread and funnelling into the single sorted writer
    # via repartition(1) — warehouse_ingest 2.11 -> 6.25 s, ann_ivfpq_build
    # 2.48 -> 2.97 s (profile_composed best-of-3 A/B): 64 Arrow-UDF tasks
    # on a ~15k-row batch pay per-task Python/AQE dispatch far exceeding
    # the serial kernel cost, and the extra exchange shows up whole.
    pre = _with_envelopes(
        _conform(new_without_id.withColumn("created_at", now)), had_geom
    )
    # the id count job also sums the batch's decoded size (+ the id)
    to_write, n_no_id, n_bytes, id_cache = assign_sequential_ids_measured(
        pre, _arrow_row_bytes(pre.schema) + 17, start=start
    )
    to_write = to_write.select(
        *[f.name for f in schema.fields], *SYSTEM_COLUMNS
    )
    _enforce_constraints(m, to_write, "insert")
    try:
        catalog.commit_version(
            collection,
            database,
            to_write,
            keep_files=None,  # keep all existing
            max_id=m.max_id + n_no_id,
            expected_version=base_version,
            merge_meta=merge_meta,
            # the id pass measured the batch: a provably-small append (a
            # streaming micro-batch, an ANN/bench fixture load) is
            # collected once and written on the driver — no range-sampling
            # job, no Spark write job
            local_batch=fits_driver_write(catalog.spark, n_bytes),
            operation=operation,
        )
    finally:
        if id_cache is not None:
            id_cache.unpersist()
    return n_no_id


# ---------------------------------------------------------------------------
# delete / update — rewrite only files that can contain affected rows
# ---------------------------------------------------------------------------


def files_fit_driver(
    catalog: GeoDBCatalog, collection: str, database: str, files: list[str]
) -> bool:
    """:func:`fits_driver_write` for the rows of ``files``: the sum of their
    decoded sizes (:func:`stats.file_arrow_bytes`, from the footers of just
    these files and the dictionary indices of any dictionary-encoded text)
    bounds what a driver collect or read of them holds. It decides every
    "small enough for the driver":

    - a pruned client read of ``files`` (``pruning.PrunedRead``) reads and
      refines them on the driver with no Spark job at all;
    - a one-file delete or literal update of ``files`` (``_rewrite``, over
      the same ``PrunedRead``) reads, filters and writes the file on the
      driver, with no Spark job either;
    - any other rewrite (delete, update, compaction) of ``files`` is one
      collect job and a driver-side write instead of a range-sampling job
      plus a Spark write.

    Anything larger keeps the Spark path."""
    limit = _driver_limit(catalog.spark)
    if limit is None:
        return False
    cdir = catalog._coll_dir(collection, database)
    nbytes = 0
    for f in files:
        nbytes += file_arrow_bytes(os.path.join(cdir, f))
        if nbytes > limit:
            return False
    return True


def _touched_untouched(
    catalog: GeoDBCatalog,
    collection: str,
    database: str,
    query: str | Query,
    meta: CollectionMeta | None = None,
) -> tuple[list[str], list[str]]:
    """Partition the files of snapshot ``meta`` (default: the snapshot to
    write on) into (maybe-touched, untouched) by the filter's file test
    (``pruning.query_files``: the commit-time file stats, footer fallback
    for older commits, and the blooms). Conservative: anything unprovable
    counts as touched. An fts filter (e.g. purge boilerplate docs)
    rewrites only the files whose token blooms admit its terms."""
    from xcube_geodb_spark.operators.pruning import query_files

    m = meta if meta is not None else catalog.meta_for_write(collection, database)
    split = query_files(catalog, collection, database, m, parse_query(query), need_untouched=True)
    return split if split is not None else (list(m.files), [])


def delete_from_collection(
    catalog: GeoDBCatalog,
    collection: str,
    query: str,
    database: str = "public",
) -> None:
    """Delete rows matching a PostgREST filter (``geodb.py:1325-1354``).
    Only files whose footer stats admit matching rows are rewritten."""
    _rewrite(catalog, collection, database, query, None)


def delete_ids(
    catalog: GeoDBCatalog,
    collection: str,
    ids_df: DataFrame,
    database: str = "public",
    id_col: str = "id",
) -> None:
    """Delete an arbitrary (DataFrame-sized) id set — the frame-based
    counterpart of ``delete_from_collection`` for id sets too large for a
    filter string (a 100 TB dedup emits millions of victims).

    Files are pruned by the id set's [min, max] against manifest stats
    (one tiny agg on the id frame); survivors anti-join the victim set,
    broadcast when small enough for Spark to choose it."""
    m = catalog.meta_for_write(collection, database)
    ids = ids_df.select(F.col(id_col).cast("long").alias("id")).distinct()
    bounds = ids.agg(F.min("id").alias("lo"), F.max("id").alias("hi")).collect()[0]
    if bounds["lo"] is None:
        return  # empty victim set
    from xcube_geodb_spark.operators.pruning import split_files_by_constraints

    touched, untouched = split_files_by_constraints(
        catalog.manifest_paths(collection, database, meta=m),
        ["id"],
        [("id", "gte", int(bounds["lo"])), ("id", "lte", int(bounds["hi"]))],
        meta=m,
    )
    if not touched:
        return
    df = catalog.load_files(collection, database, touched)
    keep = df.join(ids, "id", "left_anti")
    catalog.commit_version(
        collection,
        database,
        keep,
        keep_files=untouched,
        expected_version=m.version,
        rebase_on_disjoint=True,
        local_batch=files_fit_driver(catalog, collection, database, touched),
        operation="DELETE",
    )


def update_collection(
    catalog: GeoDBCatalog,
    collection: str,
    values: dict,
    query: str,
    database: str = "public",
) -> None:
    """UPDATE ... SET values WHERE filter (``geodb.py:1356-1398``);
    ``id`` removed from SET; ``modified_at`` stamped on changed rows.
    Only files whose footer stats admit matching rows are rewritten."""
    values = {k.lower(): v for k, v in values.items() if k.lower() != "id"}
    _rewrite(catalog, collection, database, query, values)


# Spark's integral types and their widths: an int SET value inside the
# range is what Spark's ``lit(v).cast(type)`` stores
_INTEGRAL_BITS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32, T.LongType: 64}


def _arrow_settable(v, dtype: T.DataType) -> bool:
    """True when ``pa.scalar(v)`` of the column's Arrow type equals Spark's
    ``lit(v).cast(dtype)``: None, a bool on a boolean column, a non-bool
    int inside an integral column's range, an int of the long range or a
    float on a DOUBLE column, a str on a string column. Anything else (a
    date string, ``True`` into an integral column, a FLOAT column) is left
    to Spark's cast."""
    if v is None:
        return True
    if isinstance(dtype, T.BooleanType):
        return type(v) is bool
    if isinstance(dtype, T.StringType):
        return type(v) is str
    if type(v) is int:
        bits = 64 if isinstance(dtype, T.DoubleType) else _INTEGRAL_BITS.get(type(dtype))
        return bits is not None and -(2 ** (bits - 1)) <= v < 2 ** (bits - 1)
    return type(v) is float and isinstance(dtype, T.DoubleType)


def driver_rewrite_filter(m: CollectionMeta, q: Query, values: dict | None = None):
    """The eligibility test of a rewrite's driver lane: the filter's
    ``pyarrow`` lowering (:meth:`filters.Query.arrow` over the declared
    columns, system columns included) when a delete (``values`` None) or
    an update of SET ``values`` can rewrite its file on the driver, else
    None. The collection's layout must pass :func:`driver_layout`; an
    update may not SET ``geometry`` (the envelopes derive from it) and
    each SET value must be :func:`_arrow_settable` on its column."""
    if not driver_layout(m):
        return None
    types = {f.name: f.dataType for f in m.spark_schema().fields}
    if values is not None and not all(
        k != "geometry" and _arrow_settable(v, types[k]) for k, v in values.items()
    ):
        return None
    return q.arrow(types)


def _driver_batch(read, where, values: dict | None):
    """The rewritten rows of the one kept file of ``read`` as an Arrow
    table, in the file's order: without the rows ``where`` holds for (a
    delete, ``values`` None), or with ``values`` and one UTC "now" in
    ``modified_at`` on them (an update). A NULL of ``where`` counts as no
    match, as Spark's ``coalesce(pred, false)`` does."""
    import pyarrow as pa
    import pyarrow.compute as pc

    names = [f.name for f in read.schema.fields]
    table = read.read(Conjunction(), {**{n: pc.field(n) for n in names}, "__hit": where})
    hit = pc.fill_null(table.column("__hit"), False)
    table = table.drop_columns(["__hit"])
    if values is None:
        return table.filter(pc.invert(hit))
    sets = {**values, "modified_at": dt.datetime.now(dt.timezone.utc)}
    for k, v in sets.items():
        i = table.schema.get_field_index(k)
        col = table.column(i)
        v = float(v) if pa.types.is_floating(col.type) and v is not None else v
        table = table.set_column(i, k, pc.if_else(hit, pa.scalar(v, col.type), col))
    return table


def _rewrite(
    catalog: GeoDBCatalog, collection: str, database: str, query: str, values: dict | None
) -> None:
    """Delete (``values`` None) or update the rows matching ``query``,
    rewriting the files of the write snapshot that may hold them.

    One maybe-touched file that fits the driver (``files_fit_driver``,
    decided once for both lanes) and passes
    :func:`driver_rewrite_filter` is read, filtered and handed to the
    commit as an Arrow table: no Spark job. Any other rewrite reads the
    touched files with Spark; the commit then collects the batch when it
    fits the driver, else writes it with Spark."""
    from xcube_geodb_spark.operators.pruning import PrunedRead

    m = catalog.meta_for_write(collection, database)
    sch = {f.name: f.dataType for f in m.spark_schema(include_system=True).fields}
    q = parse_query(query)
    pq = parse_postgrest_query(q, schema=sch)
    what = "delete" if values is None else "update"
    if pq.predicate is None:
        raise GeoDBError(f"{what} requires a filter query")
    if values is not None:
        props = {f.name for f in m.spark_schema(include_system=False).fields}
        for k in values:
            if k not in props:
                raise GeoDBError(f"Unknown property in update: {k!r}")
    touched, untouched = _touched_untouched(catalog, collection, database, q, m)
    if not touched:
        return  # no file can contain matching rows: a no-op
    read = PrunedRead(catalog, collection, database, m, touched)
    fits = files_fit_driver(catalog, collection, database, touched)
    where = driver_rewrite_filter(m, q, values) if fits and len(touched) == 1 else None
    if where is not None:
        batch = _driver_batch(read, where, values)
    else:
        batch = _spark_batch(read.frame(), pq.predicate, values, sch)
        if values is not None:
            _enforce_constraints(m, batch, what)
    catalog.commit_version(
        collection, database, batch, keep_files=untouched,
        expected_version=m.version, rebase_on_disjoint=True,
        local_batch=fits and where is None,
        operation=what.upper(),
    )


def _spark_batch(df: DataFrame, predicate: Column, values: dict | None, types: dict) -> DataFrame:
    """The Spark lane's rewrite of the touched files ``df``: the rows
    ``predicate`` does not hold for (a delete), or every row with
    ``values`` SET where it holds (an update; a geometry SET recomputes
    the envelopes)."""
    pred = F.coalesce(predicate, F.lit(False))
    if values is None:
        return df.filter(~pred)
    sets = {
        k: F.when(
            pred,
            F.lit(_normalize_geometry_value(v) if k == "geometry" else v).cast(types[k]),
        ).otherwise(F.col(k))
        for k, v in values.items()
    }
    sets["modified_at"] = F.when(pred, F.current_timestamp()).otherwise(
        F.col("modified_at")
    )
    df = df.withColumns(sets)
    if "geometry" in values:
        df = with_envelope_columns(df.drop(*SYSTEM_COLUMNS))
    return df
