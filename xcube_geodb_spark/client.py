"""GeoDBSparkClient — drop-in-shaped facade over the Spark engine.

Mirrors the reference client's API surface (``xcube_geodb/core/geodb.py``,
class ``GeoDBClient``) method-for-method where the semantics survive the
backend change. Differences (documented):

- results come back as pandas DataFrames whose ``geometry`` column holds
  :class:`~xcube_geodb_spark.geometry.geom.Geometry` objects (geopandas is
  not available in this environment; the column is shapely-convertible WKB
  underneath);
- no HTTP/auth layer — the "server" is the in-process Spark engine;
- ``get_collection_pg`` accepts Spark SQL dialect in select/where/group/order.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession

from xcube_geodb_spark.admin import (
    AccessControl,
    EventLog,
    IndexManager,
    StacMetadata,
)
from xcube_geodb_spark.catalog import GeoDBCatalog
from xcube_geodb_spark.errors import GeoDBError
from xcube_geodb_spark.geometry.geom import parse_wkb
from xcube_geodb_spark.operators import dml, scan, spatial
from xcube_geodb_spark.session import get_spark


# the instants pandas' datetime64[ns] can hold, in microseconds
_NS_MIN_US = -(-pd.Timestamp.min.value // 1000)
_NS_MAX_US = pd.Timestamp.max.value // 1000


def arrow_to_pandas(table: pa.Table, schema, spark: SparkSession) -> pd.DataFrame:
    """The frame ``DataFrame.toPandas()`` (Arrow enabled) makes of ``table``,
    the Arrow form of a frame with Spark ``schema``: the same
    ``Table.to_pandas`` options, then pyspark's per-field converters in the
    session time zone and struct handling mode
    (``spark.sql.execution.pandas.structHandlingMode``). Both lanes of a
    client read end here, so they agree on every dtype.

    Two deviations:

    - a timestamp column holding an instant outside pandas' datetime64[ns]
      range (before 1677-09-21 or after 2262-04-11), which ``toPandas``
      cannot convert at all, comes back as object cells of naive
      ``datetime`` in the session time zone (None for NULL); every other
      column keeps ``toPandas``' dtype;
    - the rows are already an Arrow table, so there is no fallback to
      ``toPandas``' row path (``spark.sql.execution.arrow.pyspark.fallback.
      enabled``): a frame whose schema Arrow cannot hold fails in
      ``toArrow()``. Collection schemas always convert; only a
      ``get_collection_pg`` select can produce such a type."""
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    columns = [f.name for f in schema.fields]
    if not columns:
        return table.to_pandas()
    names = [f"col_{i}" for i in range(len(columns))]  # names may repeat
    wide = set()
    if table.num_rows == 0:  # toPandas collects no batch at all
        pdf = pd.DataFrame(columns=names)
    else:
        table = table.rename_columns(names)
        for i, field in enumerate(table.schema):
            if pa.types.is_timestamp(field.type):
                mm = pc.min_max(table.column(i).cast(pa.int64()))
                lo, hi = mm["min"].as_py(), mm["max"].as_py()
                if lo is not None and (lo < _NS_MIN_US or hi > _NS_MAX_US):
                    wide.add(i)
        pdf = table.drop_columns([names[i] for i in sorted(wide)]).to_pandas(
            date_as_object=True, coerce_temporal_nanoseconds=True
        )
    timezone = spark.conf.get("spark.sql.session.timeZone")
    struct_mode = spark.conf.get("spark.sql.execution.pandas.structHandlingMode", "legacy")
    for i in sorted(wide):
        pdf.insert(i, names[i], _datetime_cells(table.column(i), timezone))
    pdf.columns = columns
    return pd.concat(
        [
            pser
            if i in wide
            else _create_converter_to_pandas(
                field.dataType,
                field.nullable,
                timezone=timezone,
                struct_in_pandas="dict" if struct_mode == "legacy" else struct_mode,
                error_on_duplicated_field_names=struct_mode == "legacy",
            )(pser)
            for i, ((_, pser), field) in enumerate(zip(pdf.items(), schema.fields))
        ],
        axis="columns",
    )


def _datetime_cells(column: pa.ChunkedArray, timezone: str) -> pd.Series:
    """Timestamps as naive ``datetime`` cells in ``timezone``."""
    from zoneinfo import ZoneInfo

    zone = ZoneInfo(timezone)
    return pd.Series(
        [
            v if v is None or v.tzinfo is None
            else v.astimezone(zone).replace(tzinfo=None)
            for v in column.to_pylist()
        ],
        dtype=object,
    )


class GeoDBSparkClient:
    def __init__(
        self,
        spark: SparkSession | None = None,
        warehouse: str = "./geodb_warehouse",
        user: str = "geodb",
        database: str | None = None,
        gs_url: str | None = None,
        gs_token: str | None = None,
    ):
        self.spark = spark or get_spark()
        self.user = user
        self.catalog = GeoDBCatalog(self.spark, warehouse, user=user)
        self.events = EventLog(self.catalog)
        self.acl = AccessControl(self.catalog)
        self.indexes = IndexManager(self.catalog)
        self.stac = StacMetadata(self.catalog)
        # reference default database is the user's own namespace
        self.database = database or user
        if not self.catalog.database_exists(self.database):
            self.catalog.create_database(self.database, owner=user)
        # optional geoserver-manager service (reference wire shapes);
        # unset -> publishing is the offline catalog flag only
        import os as _os

        gs_url = gs_url or _os.environ.get("GEODB_SPARK_GS_URL")
        if gs_url:
            from xcube_geodb_spark.gs import GeoserviceHTTP

            self.gs = GeoserviceHTTP(
                gs_url, gs_token or _os.environ.get("GEODB_SPARK_GS_TOKEN")
            )
        else:
            self.gs = None

    # -- helpers -----------------------------------------------------------

    def _db(self, database: str | None) -> str:
        return database or self.database

    def _collect_geo(
        self, df, srid: int | None = None, refine=None, raise_empty: bool = False
    ) -> pd.DataFrame:
        """Collect a read to pandas; decode WKB to Geometry objects (the
        reference decodes hex-EWKB to shapely, geodb.py:2104-2149).

        ``df`` is a Spark DataFrame or the candidates of a pruned grammar
        or spatial read (:class:`~xcube_geodb_spark.operators.pruning.
        Candidates`), which may already hold its rows, read on the driver.
        Either way the rows arrive as one Arrow table and take the same
        steps: converted as ``toPandas`` converts them
        (:func:`arrow_to_pandas`), mapped by ``refine`` (the driver half of
        a filter-and-refine read, operators/spatial.py), then decoded. A
        pruned read's decision (lane, files, decoded bytes) lands in
        ``attrs["read"]``."""
        table = df.toArrow()
        if raise_empty and table.num_rows == 0:
            # parity with geodb.sql:1171-1175 ("Empty result")
            raise GeoDBError("Empty result")
        pdf = arrow_to_pandas(table, df.schema, self.spark)
        if refine is not None:
            pdf = refine(pdf)
        if "geometry" in pdf.columns:
            pdf["geometry"] = pdf["geometry"].map(
                lambda b: parse_wkb(b) if b is not None else None
            )
            if srid is not None:
                pdf.attrs["crs"] = f"EPSG:{srid}"
        decision = getattr(df, "decision", None)
        if decision is not None:
            decision["decoded_bytes"] = table.nbytes
            pdf.attrs["read"] = dict(decision)
        return pdf

    # -- databases ----------------------------------------------------------

    def create_database(self, database: str) -> None:
        self.catalog.create_database(database, owner=self.user)
        self.events.log("database_created", f"Database {database} created")

    def truncate_database(self, database: str) -> None:
        self.catalog.truncate_database(database)
        self.events.log("database_dropped", f"Database {database} truncated")

    def database_exists(self, database: str) -> bool:
        return self.catalog.database_exists(database)

    def get_my_databases(self) -> pd.DataFrame:
        return pd.DataFrame(self.catalog.get_my_databases(self.user))

    # -- DDL -----------------------------------------------------------------

    def create_collection(
        self,
        collection: str,
        properties: dict[str, str],
        crs: int = 4326,
        database: str | None = None,
        force: bool = False,
    ) -> None:
        db = self._db(database)
        self.catalog.create_collection(
            collection, properties, crs=crs, database=db, force=force
        )
        self.events.log("created", f"Collection {db}_{collection} created")

    def create_collection_if_not_exists(
        self,
        collection: str,
        properties: dict[str, str],
        crs: int = 4326,
        database: str | None = None,
    ) -> None:
        self.catalog.create_collection(
            collection,
            properties,
            crs=crs,
            database=self._db(database),
            if_not_exists=True,
        )

    def create_collections(self, collections: dict, database: str | None = None) -> None:
        for name, spec in collections.items():
            self.create_collection(
                name,
                spec.get("properties", {}),
                crs=spec.get("crs", 4326),
                database=database,
            )

    def create_collections_if_not_exist(
        self, collections: dict, database: str | None = None
    ) -> None:
        """Create only the collections that don't exist yet
        (``geodb.py:617-641``)."""
        for name, spec in collections.items():
            if not self.collection_exists(name, database):
                self.create_collection(
                    name,
                    spec.get("properties", {}),
                    crs=spec.get("crs", 4326),
                    database=database,
                )

    def drop_collection(self, collection: str, database: str | None = None) -> None:
        db = self._db(database)
        self.catalog.drop_collection(collection, db)
        self.events.log("dropped", f"Collection {db}_{collection} dropped")

    def drop_collections(self, collections, database: str | None = None) -> None:
        for c in collections:
            self.drop_collection(c, database)

    def optimize_collection(
        self,
        collection: str,
        database: str | None = None,
        *,
        small_file_rows: int | None = None,
        dry_run: bool = False,
    ) -> dict:
        """Compact fragmented data files (see operators/maintenance.py —
        the engine-side stand-in for Postgres autovacuum/CLUSTER, which the
        reference gets for free from its server)."""
        from xcube_geodb_spark.operators.maintenance import optimize_collection

        db = self._db(database)
        stats = optimize_collection(
            self.catalog,
            collection,
            db,
            small_file_rows=small_file_rows,
            dry_run=dry_run,
        )
        if stats["compacted"] and not dry_run:
            self.events.log(
                "optimized",
                f"Collection {db}_{collection} compacted "
                f"{stats['compacted']} files -> {stats['files_after']}",
            )
        return stats

    def vacuum_collection(
        self,
        collection: str,
        database: str | None = None,
        *,
        older_than_seconds: float = 3600.0,
        dry_run: bool = False,
    ) -> dict:
        """Remove unreferenced (orphan) data files left by failed commits."""
        from xcube_geodb_spark.operators.maintenance import vacuum_collection

        db = self._db(database)
        stats = vacuum_collection(
            self.catalog,
            collection,
            db,
            older_than_seconds=older_than_seconds,
            dry_run=dry_run,
        )
        if stats["removed"] and not dry_run:
            self.events.log(
                "vacuumed",
                f"Collection {db}_{collection}: removed "
                f"{len(stats['removed'])} orphan files",
            )
        return stats

    def collection_exists(self, collection: str, database: str | None = None) -> bool:
        return self.catalog.collection_exists(collection, self._db(database))

    def rename_collection(
        self, collection: str, new_name: str, database: str | None = None
    ) -> None:
        db = self._db(database)
        self.catalog.rename_collection(collection, new_name, db)
        self.events.log(
            "renamed", f"Collection {db}_{collection} renamed to {db}_{new_name}"
        )

    def move_collection(
        self, collection: str, new_database: str, database: str | None = None
    ) -> None:
        db = self._db(database)
        self.catalog.move_collection(collection, collection, db, new_database)
        self.events.log(
            "moved", f"Collection {db}_{collection} moved to {new_database}"
        )

    def copy_collection(
        self,
        collection: str,
        new_collection: str,
        new_database: str,
        database: str | None = None,
    ) -> None:
        db = self._db(database)
        self.catalog.copy_collection(collection, new_collection, db, new_database)
        self.events.log(
            "copied",
            f"Collection {db}_{collection} copied to {new_database}_{new_collection}",
        )

    def add_property(
        self, collection: str, prop: str, prop_type: str, database: str | None = None
    ) -> None:
        self.add_properties(collection, {prop: prop_type}, database)

    def add_properties(
        self, collection: str, properties: dict[str, str], database: str | None = None
    ) -> None:
        db = self._db(database)
        self.catalog.add_properties(collection, properties, db)
        self.events.log(
            "property_added",
            f"Properties {list(properties)} added to {db}_{collection}",
        )

    def add_constraint(
        self,
        collection: str,
        name: str,
        expr: str,
        database: str | None = None,
    ) -> None:
        """CHECK constraint over collection columns (Postgres parity):
        validated against existing rows now, enforced on every later
        insert/update; NULL check results pass (Postgres semantics)."""
        db = self._db(database)
        self.catalog.add_constraint(collection, name, expr, db)
        self.events.log(
            "constraint_added",
            f"Constraint {name} ({expr}) added to {db}_{collection}",
        )

    def drop_constraint(
        self, collection: str, name: str, database: str | None = None
    ) -> None:
        db = self._db(database)
        self.catalog.drop_constraint(collection, name, db)
        self.events.log(
            "constraint_dropped",
            f"Constraint {name} dropped from {db}_{collection}",
        )

    def get_constraints(
        self, collection: str, database: str | None = None
    ) -> dict:
        return self.catalog.get_constraints(collection, self._db(database))

    def drop_property(
        self, collection: str, prop: str, database: str | None = None
    ) -> None:
        self.drop_properties(collection, [prop], database)

    def drop_properties(
        self, collection: str, properties, database: str | None = None
    ) -> None:
        db = self._db(database)
        self.catalog.drop_properties(collection, properties, db)
        self.events.log(
            "property_dropped",
            f"Properties {list(properties)} dropped from {db}_{collection}",
        )

    def get_properties(self, collection: str, database: str | None = None) -> pd.DataFrame:
        return pd.DataFrame(
            self.catalog.get_properties(collection, self._db(database))
        )

    def get_collection_info(self, collection: str, database: str | None = None) -> dict:
        return self.catalog.get_collection_info(collection, self._db(database))

    def get_my_collections(self, database: str | None = None) -> pd.DataFrame:
        rows = self.catalog.get_my_collections(self.user)
        if database:
            rows = [r for r in rows if r["database"] == database]
        return pd.DataFrame(rows)

    def get_collection_srid(self, collection: str, database: str | None = None) -> int:
        return self.catalog.get_collection_srid(collection, self._db(database))

    # -- reads ---------------------------------------------------------------

    def get_collection(
        self,
        collection: str,
        query: str | None = None,
        database: str | None = None,
        limit: int | None = None,
        offset: int | None = None,
    ) -> pd.DataFrame:
        db = self._db(database)
        cands = scan.collection_candidates(
            self.catalog, collection, query, db, limit=limit, offset=offset
        )
        self.events.log("read", f"Collection {db}_{collection} read")
        return self._collect_geo(cands, cands.srid)

    def export_collection(
        self,
        collection: str,
        path: str,
        fmt: str = "geojson",
        query: str | None = None,
        database: str | None = None,
    ) -> None:
        """Distributed export (newline-delimited GeoJSON or CSV+WKT; the
        reference leaves export to single-node geopandas ``to_file``). An
        optional PostgREST ``query`` filters/projects before writing."""
        from xcube_geodb_spark.sources import write_csv_wkt, write_geojson_seq

        db = self._db(database)
        df = scan.get_collection(self.catalog, collection, query, db)
        if fmt == "geojson" and "geometry" not in df.columns:
            raise GeoDBError(
                "GeoJSON export needs the geometry column; the query's "
                "select= projected it away"
            )
        if fmt == "geojson":
            write_geojson_seq(df, path)
        elif fmt == "csv":
            write_csv_wkt(df, path)
        else:
            raise GeoDBError(f"Unsupported export format: {fmt!r}")
        self.events.log(
            "exported", f"Collection {db}_{collection} exported ({fmt})"
        )

    def get_collection_versions(
        self, collection: str, database: str | None = None
    ) -> list[dict]:
        """Retained time-travel snapshots (oldest first)."""
        return self.catalog.list_versions(collection, self._db(database))

    def get_collection_at_timestamp(
        self, collection: str, ts, database: str | None = None
    ) -> pd.DataFrame:
        """Collection content as of a wall-clock instant (Delta
        ``TIMESTAMP AS OF``): resolves to the newest snapshot committed at
        or before ``ts`` and reads that version."""
        db = self._db(database)
        version = self.catalog.version_at_timestamp(collection, db, ts)
        return self.get_collection_at_version(collection, version, database)

    def get_collection_at_version(
        self, collection: str, version: int, database: str | None = None
    ) -> pd.DataFrame:
        """Collection content as of an earlier commit (time travel over the
        snapshot manifests commit_version retains; engine-native — the
        reference's Postgres overwrites in place and cannot do this)."""
        db = self._db(database)
        srid = self.catalog.get_collection_srid(collection, db)
        df = self.catalog.load_df(collection, db, version=version)
        self.events.log(
            "read", f"Collection {db}_{collection} read at v{version}"
        )
        return self._collect_geo(df, srid)

    def get_collection_changes(
        self,
        collection: str,
        from_version: int,
        to_version: int | None = None,
        database: str | None = None,
    ) -> pd.DataFrame:
        """Row-level change feed between two snapshots (insert / update /
        delete + row image; operators/changes.py)."""
        from xcube_geodb_spark.operators.changes import collection_changes

        db = self._db(database)
        srid = self.catalog.get_collection_srid(collection, db)
        df = collection_changes(
            self.catalog, collection, db, from_version, to_version
        )
        return self._collect_geo(df, srid)

    def restore_collection(
        self, collection: str, version: int, database: str | None = None
    ) -> None:
        """Metadata-only rollback to a retained snapshot."""
        db = self._db(database)
        self.catalog.restore_collection(collection, db, version)
        self.events.log(
            "restored", f"Collection {db}_{collection} restored to v{version}"
        )

    def head_collection(
        self, collection: str, num_lines: int = 10, database: str | None = None
    ) -> pd.DataFrame:
        db = self._db(database)
        srid = self.catalog.get_collection_srid(collection, db)
        return self._collect_geo(
            scan.head_collection(self.catalog, collection, num_lines, db), srid
        )

    def get_collection_pg(
        self,
        collection: str,
        select: str = "*",
        where: str | None = None,
        group: str | None = None,
        order: str | None = None,
        limit: int | None = None,
        offset: int | None = None,
        database: str | None = None,
    ) -> pd.DataFrame:
        db = self._db(database)
        srid = self.catalog.get_collection_srid(collection, db)
        df = scan.get_collection_pg(
            self.catalog,
            collection,
            select=select,
            where=where,
            group=group,
            order=order,
            limit=limit,
            offset=offset,
            database=db,
        )
        self.events.log("read", f"Collection {db}_{collection} read")
        return self._collect_geo(df, srid, raise_empty=True)

    def get_collection_by_bbox(
        self,
        collection: str,
        bbox,
        comparison_mode: str = "contains",
        bbox_crs=4326,
        limit: int = 0,
        offset: int = 0,
        where: str | None = "id>-1",
        op: str = "AND",
        database: str | None = None,
        wsg84_order: str = "lon_lat",
    ) -> pd.DataFrame:
        db = self._db(database)
        args = (self.catalog, collection, tuple(bbox))
        kw = dict(
            comparison_mode=comparison_mode,
            bbox_crs=bbox_crs,
            where=where,
            op=op,
            database=db,
            wsg84_order=wsg84_order,
        )
        if limit or offset or (where and str(op).upper() == "OR"):
            # the exact filter must run before the limit, and an OR-ed
            # `where` admits rows the envelope pre-filter cannot bound
            df = spatial.get_collection_by_bbox(
                *args, limit=limit or None, offset=offset or None, **kw
            )
            refine = None
            srid = self.catalog.get_collection_srid(collection, db)
        else:
            df, refine = spatial.bbox_candidates(*args, **kw)
            srid = df.srid
        self.events.log("read", f"Collection {db}_{collection} read by bbox")
        return self._collect_geo(df, srid, refine)

    def get_collection_knn(
        self,
        collection: str,
        point,
        k: int = 10,
        point_crs=4326,
        database: str | None = None,
        wsg84_order: str = "lon_lat",
    ) -> pd.DataFrame:
        """Exact k nearest features to a point with their distances
        (engine superset: the PostGIS ``ORDER BY geom <-> q`` idiom)."""
        db = self._db(database)
        df, refine = spatial.knn_candidates(
            self.catalog,
            collection,
            (float(point[0]), float(point[1])),
            k=k,
            database=db,
            point_crs=point_crs,
            wsg84_order=wsg84_order,
        )
        self.events.log("read", f"Collection {db}_{collection} knn query")
        return self._collect_geo(df, df.srid, refine)

    def spatial_join_collections(
        self,
        left: str,
        right: str,
        predicate: str = "intersects",
        distance: float = 0.0,
        cell_size: float | None = None,
        database: str | None = None,
        right_database: str | None = None,
        rsuffix: str = "_r",
    ):
        """Distributed spatial join of two warehouse collections
        (``st_intersects`` / ``st_dwithin`` / ``st_within`` /
        ``st_contains`` / ``st_touches`` / ``st_overlaps`` /
        ``st_crosses`` / ``st_equals`` — the PostGIS join idioms the
        reference reaches through raw SQL passthrough — ``geodb.sql:
        1123-1177``). Both sides reuse their PERSISTED envelope columns,
        so no geometry is re-parsed for candidate generation; see
        ``functions/spatial_join`` for the grid-partitioned plan.

        Returns a Spark DataFrame (a join result can be collection-sized;
        ``.toPandas()`` it only when you know it is small). Right-side
        column names that clash get ``rsuffix``.
        """
        from xcube_geodb_spark.functions.spatial_join import spatial_join

        db = self._db(database)
        rdb = self._db(right_database) if right_database else db
        lf = self.catalog.load_df(left, db, include_system=True)
        rf = self.catalog.load_df(right, rdb, include_system=True)
        out = spatial_join(
            lf,
            rf,
            predicate=predicate,
            distance=distance,
            cell_size=cell_size,
            rsuffix=rsuffix,
        )
        drop = [c for c in out.columns if c.startswith("__")]
        self.events.log(
            "read", f"Spatial join {db}_{left} x {rdb}_{right} ({predicate})"
        )
        return out.drop(*drop)

    def count_collection_rows(
        self,
        collection: str,
        database: str | None = None,
        exact_count: bool = False,
    ) -> int:
        return scan.count_collection(
            self.catalog, collection, self._db(database), exact=exact_count
        )

    def profile_collection(
        self,
        collection: str,
        database: str | None = None,
        exact: bool = False,
        columns: list | None = None,
    ) -> pd.DataFrame:
        """ANALYZE-style per-column profile (row count, null count,
        min/max, distinct count). The default answers from the manifest's
        commit-time statistics with ZERO file IO and no Spark job — the
        engine's analogue of the reference reading planner stats
        (``pg_class``/``pg_stats``, geodb.sql:1276-1303); ``exact=True``
        runs one aggregation pass and adds exact distinct counts."""
        from xcube_geodb_spark.operators.stats import profile_collection

        db = self._db(database)
        out = profile_collection(
            self.catalog, collection, db, exact=exact, columns=columns
        )
        self.events.log("read", f"Collection {db}_{collection} profiled")
        return out

    def quantiles_collection(
        self,
        collection: str,
        column: str,
        qs: tuple = (0.25, 0.5, 0.75),
        bins: int = 1024,
        database: str | None = None,
        group_by: list | None = None,
    ) -> pd.DataFrame:
        """Deterministic histogram-interpolated percentiles of a numeric
        collection property, optionally per group (pg_stats percentile
        analogue; see operators/stats.quantiles_column). The histogram's
        grid bounds come FREE from the manifest's commit-time min/max when
        present — the data pass is then the single bucket-count
        aggregation."""
        from xcube_geodb_spark.operators.stats import quantiles_column

        db = self._db(database)
        m = self.catalog.meta(collection, db)
        bounds = None
        fstats = m.file_stats()
        if fstats and all(
            f in fstats and column in fstats[f] for f in m.files
        ):
            los = [fstats[f][column][0] for f in m.files]
            his = [fstats[f][column][1] for f in m.files]
            if all(v is not None for v in los + his):
                bounds = (float(min(los)), float(max(his)))
        df = self.catalog.load_df(collection, db)
        out = quantiles_column(
            df, column, qs=qs, bins=bins, bounds=bounds,
            group_cols=list(group_by) if group_by else None,
        ).toPandas()
        self.events.log(
            "read", f"Collection {db}_{collection} quantiles({column})"
        )
        return out

    def count_collection_by_bbox(
        self,
        collection: str,
        bbox,
        comparison_mode: str = "contains",
        bbox_crs=4326,
        where: str | None = "id>-1",
        op: str = "AND",
        database: str | None = None,
        wsg84_order: str = "lon_lat",
    ) -> int:
        return spatial.count_collection_by_bbox(
            self.catalog,
            collection,
            tuple(bbox),
            comparison_mode=comparison_mode,
            bbox_crs=bbox_crs,
            where=where,
            op=op,
            database=self._db(database),
            wsg84_order=wsg84_order,
        )

    def get_collection_bbox(
        self,
        collection: str,
        database: str | None = None,
        exact: bool = True,
    ):
        """Returns (miny, minx, maxy, maxx) — the reference client reorders
        the PostGIS BOX output exactly so (geodb.py:344-402, return at
        :400)."""
        bbox = spatial.get_collection_bbox(
            self.catalog, collection, self._db(database), exact=exact
        )
        if bbox is None:
            return None
        return (bbox[1], bbox[0], bbox[3], bbox[2])

    def get_geometry_types(
        self,
        collection: str,
        aggregate: bool = False,
        database: str | None = None,
    ) -> list[str]:
        df = spatial.get_geometry_types(
            self.catalog, collection, aggregate=aggregate, database=self._db(database)
        )
        return [r["geometrytype"] for r in df.collect()]

    def transform_bbox_crs(self, bbox, from_crs, to_crs, wsg84_order: str = "lon_lat"):
        from xcube_geodb_spark.geometry.crs import transform_bbox_crs

        return transform_bbox_crs(tuple(bbox), from_crs, to_crs, wsg84_order)

    # -- DML -------------------------------------------------------------------

    def insert_into_collection(
        self,
        collection: str,
        values,
        upsert: bool = False,
        crs: int | None = None,
        database: str | None = None,
        max_transfer_chunk_size: int = 1000,  # accepted for API compat; Spark
        # writes are already parallel (SURVEY.md §4)
    ) -> None:
        db = self._db(database)
        n = dml.insert_into_collection(
            self.catalog, collection, values, upsert=upsert, crs=crs, database=db
        )
        self.events.log("rows_added", f"{n} rows added to {db}_{collection}")

    def delete_from_collection(
        self, collection: str, query: str, database: str | None = None
    ) -> None:
        db = self._db(database)
        dml.delete_from_collection(self.catalog, collection, query, db)
        self.events.log("rows_dropped", f"Rows deleted from {db}_{collection}")

    def update_collection(
        self, collection: str, values: dict, query: str, database: str | None = None
    ) -> None:
        db = self._db(database)
        dml.update_collection(self.catalog, collection, values, query, db)
        self.events.log("rows_updated", f"Rows updated in {db}_{collection}")

    def dedup_collection(
        self,
        collection: str,
        prop: str,
        method: str = "exact",
        jaccard_threshold: float = 0.6,
        database: str | None = None,
    ) -> dict:
        """Deduplicate a collection in place on a text property, keeping the
        minimum-id row of each duplicate group (engine superset: the LLM
        training-corpus dedup pipeline applied through the table format).

        ``method='exact'`` removes byte-identical duplicates (one md5
        group-by); ``method='minhash'`` removes near-duplicates via MinHash
        LSH candidates -> exact n-gram Jaccard verify -> distributed
        connected components. Victims are deleted through the frame-based
        ``delete_ids`` DML, so only files whose id range intersects the
        victim set rewrite. Returns {"removed": n}."""
        from pyspark.sql import functions as F

        from xcube_geodb_spark.functions.dedup import (
            duplicate_clusters,
            ngram_jaccard_pairs,
        )

        db = self._db(database)
        df = self.catalog.load_df(collection, db).select("id", prop)
        if method == "exact":
            fp = df.select("id", F.md5(F.col(prop)).alias("__fp"))
            keepers = fp.groupBy("__fp").agg(F.min("id").alias("__keep"))
            victims = (
                fp.join(keepers, "__fp")
                .filter(F.col("id") != F.col("__keep"))
                .select("id")
            )
        elif method == "minhash":
            pairs = ngram_jaccard_pairs(
                df, prop, "id", threshold=jaccard_threshold
            ).select("id_a", "id_b")
            clusters = duplicate_clusters(pairs)
            victims = clusters.filter(
                F.col("doc_id") != F.col("cluster_id")
            ).select(F.col("doc_id").alias("id"))
        else:
            raise GeoDBError(f"Unknown dedup method {method!r}")
        victims = victims.cache()
        try:
            n = victims.count()
            if n:
                dml.delete_ids(self.catalog, collection, victims, database=db)
        finally:
            victims.unpersist()
        self.events.log(
            "rows_dropped", f"{n} duplicate rows removed from {db}_{collection}"
        )
        return {"removed": n}

    def search_collection(
        self,
        collection: str,
        query: str,
        prop: str,
        k: int = 10,
        database: str | None = None,
    ) -> pd.DataFrame:
        """Ranked full-text search over a collection property (engine
        superset: the reference's ``fts`` grammar filter is boolean-only;
        this returns the BM25 top-k with scores, through
        functions/retrieval.bm25_topk — corpus stats reduce to one driver
        row, scoring is a shuffle-free projection, top-k is a heap).
        Returns the matching rows joined back to all visible columns,
        best first, with a ``bm25`` score column."""
        import re as _re

        from pyspark.sql import functions as F

        from xcube_geodb_spark.catalog import SYSTEM_COLUMNS
        from xcube_geodb_spark.functions.retrieval import bm25_topk

        db = self._db(database)
        df = self.catalog.load_df(collection, db)
        # same normalization as functions/text.tokens, driver-side
        terms = [
            t for t in _re.sub(r"[^a-z0-9 ]", " ", query.lower()).split() if t
        ]
        if not terms:
            raise GeoDBError("search_collection needs a non-empty query")
        top = bm25_topk(df, list(dict.fromkeys(terms)), k=k,
                        text_col=prop, id_col="id")
        out = top.join(df.drop(*SYSTEM_COLUMNS), "id").orderBy(
            F.col("bm25").desc(), F.col("id")
        )
        return out.toPandas()

    # -- ACL / publish -----------------------------------------------------------

    def grant_access_to_collection(
        self, collection: str, user: str, database: str | None = None
    ) -> None:
        self.acl.grant_access(collection, user, self._db(database))

    def revoke_access_from_collection(
        self, collection: str, user: str, database: str | None = None
    ) -> None:
        self.acl.revoke_access(collection, user, self._db(database))

    def publish_collection(self, collection: str, database: str | None = None) -> None:
        db = self._db(database)
        self.acl.publish_collection(collection, db)
        self.events.log("published", f"Collection {db}_{collection} published")

    def unpublish_collection(self, collection: str, database: str | None = None) -> None:
        db = self._db(database)
        self.acl.unpublish_collection(collection, db)
        self.events.log("unpublished", f"Collection {db}_{collection} unpublished")

    def list_grants(self, collection: str, database: str | None = None) -> pd.DataFrame:
        return pd.DataFrame(self.acl.list_grants(collection, self._db(database)))

    def create_group(self, group: str) -> None:
        self.acl.create_group(group)

    def add_user_to_group(self, user: str, group: str) -> None:
        self.acl.add_user_to_group(user, group)

    def remove_user_from_group(self, user: str, group: str) -> None:
        self.acl.remove_user_from_group(user, group)

    def get_group_users(self, group: str) -> list[str]:
        return self.acl.get_group_users(group)

    def get_my_groups(self) -> list[str]:
        """Group memberships of the current user (``geodb.py:2516-2528``)."""
        return self.acl.get_user_groups(self.user)

    def publish_collection_to_group(
        self, collection: str, group: str, database: str | None = None
    ) -> None:
        """Read+write access for group members; owner-only
        (``geodb.py:2369-2413``)."""
        db = self._db(database)
        self.acl.publish_collection_to_group(collection, group, db, self.user)
        self.events.log("published_group", f"{collection}, {group}")

    def unpublish_collection_from_group(
        self, collection: str, group: str, database: str | None = None
    ) -> None:
        db = self._db(database)
        self.acl.unpublish_collection_from_group(collection, group, db, self.user)
        self.events.log("unpublished_group", f"{collection}, {group}")

    def publish_database_to_group(
        self, group: str, database: str | None = None
    ) -> None:
        """Let group members create collections in the database
        (``geodb.py:2457-2487``); existing collections stay private."""
        db = self._db(database)
        self.acl.publish_database_to_group(db, group, self.user)
        self.events.log("published_database", f"{db}, {group}")

    def unpublish_database_from_group(
        self, group: str, database: str | None = None
    ) -> None:
        db = self._db(database)
        self.acl.unpublish_database_from_group(db, group, self.user)
        self.events.log("unpublished_database", f"{db}, {group}")

    def get_access_rights(
        self, collection: str, database: str | None = None
    ) -> dict:
        """grantee -> [privileges] (``geodb.py:2545-2568``)."""
        return self.acl.get_access_rights(collection, self._db(database))

    def get_geodb_sql_version(self) -> str:
        """Engine version string (the reference reads
        ``geodb_version_info``, geodb.sql:791-798)."""
        from xcube_geodb_spark import __version__

        return __version__

    # -- indexes -------------------------------------------------------------------

    def create_index(
        self,
        collection: str,
        prop: str,
        database: str | None = None,
        kind: str | None = None,
        options: dict | None = None,
    ) -> None:
        db = self._db(database)
        self.indexes.create_index(collection, prop, db, kind=kind, options=options)
        self.events.log("index_created", f"Index on {prop} in {db}_{collection}")

    def find_nearest(
        self,
        collection: str,
        query_vector: list[float],
        k: int = 20,
        database: str | None = None,
        n_probe: int = 2,
    ) -> pd.DataFrame:
        """Top-k cosine neighbors via the collection's declared lsh/ivf
        index; scans only the data files whose at-rest bucket range admits
        the probe (operators/ann.py)."""
        from xcube_geodb_spark.operators.ann import ann_topk

        db = self._db(database)
        return ann_topk(
            self.catalog, collection, query_vector, k=k, database=db,
            n_probe=n_probe,
        ).toPandas()

    def remove_index(
        self, collection: str, prop: str, database: str | None = None
    ) -> None:
        db = self._db(database)
        self.indexes.remove_index(collection, prop, db)
        self.events.log("index_dropped", f"Index on {prop} in {db}_{collection}")

    def show_indexes(self, collection: str, database: str | None = None) -> pd.DataFrame:
        return pd.DataFrame(self.indexes.show_indexes(collection, self._db(database)))

    # -- STAC metadata ---------------------------------------------------------------

    def get_metadata(self, collection: str, database: str | None = None) -> dict:
        return self.stac.get_metadata(collection, self._db(database))

    def set_metadata_field(
        self, collection: str, field: str, value, database: str | None = None
    ) -> None:
        self.stac.set_metadata_field(collection, field, value, self._db(database))

    # -- GeoServer publishing (reference geodb.py:2151-2284) ---------------------------
    # Publication state lives in the catalog (offline source of truth).
    # With a geoservice configured (gs_url= / GEODB_SPARK_GS_URL), the
    # reference's exact wire calls fire FIRST (xcube_geodb_spark.gs) and
    # the flag records the service's acknowledgment — a failed PUT/DELETE
    # raises before any local state changes.

    def _set_gs_flag(self, collection: str, db: str, published: bool) -> None:
        """Record publication state as a PROPER versioned commit through
        the one CAS retry loop (catalog.commit_meta_change, fresh
        post-HTTP meta read): a plain metadata.json swap computed from a
        pre-HTTP snapshot would clobber any commit that landed during the
        geoservice round-trip — version regression + lost files. A no-op
        flag write (already published/unpublished) commits nothing."""

        def mutate(m):
            gs = dict(m.d.get("gs") or {})
            if gs.get("published", False) == published:
                return None
            gs["published"] = published
            return {"gs": gs}

        self.catalog.commit_meta_change(
            collection, db, mutate, operation="SET TBLPROPERTIES"
        )

    def publish_gs(self, collection: str, database: str | None = None) -> dict:
        """Publish to the geoservice. Failure order: a failed PUT leaves
        no local state; a failed FLAG COMMIT after a successful PUT
        attempts a compensating unpublish so remote and local state
        cannot silently diverge (if the compensation itself fails, the
        service stays authoritative — get_published_gs reads the service
        when one is configured, so the stale local flag is a best-effort
        cache, not the truth)."""
        db = self._db(database)
        self.catalog.meta(collection, db)  # existence check before HTTP
        remote = None
        if self.gs is not None:
            # service call FIRST: a failed PUT leaves no local state
            remote = self.gs.publish(db, collection)
        try:
            self._set_gs_flag(collection, db, True)
        except Exception:
            if self.gs is not None:
                try:
                    self.gs.unpublish(db, collection)
                except Exception:
                    pass  # service stays authoritative (docstring)
            raise
        self.events.log("published_gs", f"Collection {db}_{collection} published to gs")
        out = {"collection": collection, "database": db, "published": True}
        if remote is not None:
            out["geoservice"] = remote
        return out

    def unpublish_gs(self, collection: str, database: str | None = None) -> None:
        """Unpublish. Mirror of :meth:`publish_gs`: a failed flag commit
        after a successful DELETE attempts a compensating re-publish."""
        db = self._db(database)
        self.catalog.meta(collection, db)
        if self.gs is not None:
            self.gs.unpublish(db, collection)
        try:
            self._set_gs_flag(collection, db, False)
        except Exception:
            if self.gs is not None:
                try:
                    self.gs.publish(db, collection)
                except Exception:
                    pass
            raise
        self.events.log(
            "unpublished_gs", f"Collection {db}_{collection} unpublished from gs"
        )

    def get_published_gs(self, database: str | None = None) -> pd.DataFrame:
        db = self._db(database)
        if self.gs is not None:
            # the service's view is authoritative when configured
            # (reference GETs .../collections and frames the JSON);
            # normalize the shapes a service may answer with — list of
            # rows, list of names, or a dict wrapper — into the same
            # (database, collection) frame the offline path produces
            rows = self.gs.list_published(db)
            if isinstance(rows, dict):
                rows = rows.get("collections") or rows.get("rows") or []
            if rows and isinstance(rows, list) and isinstance(rows[0], str):
                rows = [{"database": db, "collection": c} for c in rows]
            elif rows and isinstance(rows, list) and isinstance(rows[0], dict):
                # dict rows may omit the database — default it so every
                # service shape yields the same (database, collection)
                # frame and get_all_published_gs can concat/dedup cleanly
                rows = [{"database": db, **r} for r in rows]
            if not rows:
                return pd.DataFrame(columns=["database", "collection"])
            return pd.DataFrame(rows)
        rows = [
            {"database": db, "collection": coll}
            for coll in self.catalog.list_collections(db)
            if self.catalog.meta(coll, db).d.get("gs", {}).get("published")
        ]
        return pd.DataFrame(rows)

    def get_all_published_gs(self) -> pd.DataFrame:
        frames = []
        for dbrow in self.catalog.get_my_databases(self.user) + [
            {"name": self.database}
        ]:
            frames.append(self.get_published_gs(dbrow["name"]))
        out = pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()
        return out.drop_duplicates() if len(out) else out

    # -- events / usage -----------------------------------------------------------------

    def get_event_log(
        self,
        collection: str | None = None,
        database: str | None = None,
        event_type: str | None = None,
    ) -> pd.DataFrame:
        db = self._db(database) if collection else None
        return self.events.get_event_log(collection, db, event_type).toPandas()

    def get_my_usage(self, pretty: bool = True):
        return self.catalog.get_usage(self.user, pretty=pretty)

    # -- whoami parity ------------------------------------------------------------------

    @property
    def whoami(self) -> str:
        return self.user

    @property
    def capabilities(self) -> dict:
        """The reference exposes the PostgREST OpenAPI document
        (``geodb.py:501-516``), which it mines for collection schemas.
        The engine equivalent: every collection this user can see with
        its property schema — the same information ``get_collection_info``
        reads, refreshed on each access (the reference invalidates its
        cache on DDL)."""
        out: dict = {"definitions": {}}
        for row in self.catalog.get_my_collections(self.user):
            db, name = row["database"], row["collection"]
            if not db or not name:
                continue
            try:
                props = self.catalog.get_properties(name, db)
            except GeoDBError:
                continue
            out["definitions"][f"{db}_{name}"] = {
                "properties": {
                    p["name"]: {"type": p["type"]} for p in props
                },
            }
        return out

    def list_my_grants(self) -> pd.DataFrame:
        """All access grants the current user has issued across their
        collections (``geodb_list_grants``, geodb.py:1009-1030) —
        including PUBLIC rows for published collections. Returns the
        reference's "No Grants" single-cell frame when none exist."""
        rows = []
        for row in self.catalog.get_my_collections(self.user):
            db, name = row["database"], row["collection"]
            if not db or not name:
                continue
            try:
                grants = self.acl.list_grants(name, db)
            except GeoDBError:
                continue
            for g in grants:
                rows.append({"database": db, "collection": name, **g})
        if not rows:
            return pd.DataFrame(data={"Grants": ["No Grants"]})
        return pd.DataFrame(rows)
