"""Warehouse catalog + table format.

The reference stores a collection as a Postgres table named
``{database}_{collection}`` with four mandatory columns (``geodb_create_collection``,
``xcube_geodb/sql/geodb.sql:309-322``) and a namespace registry
``geodb_user_databases`` (``geodb.sql:150-162``). This module provides the
Spark-native equivalent:

Layout::

    warehouse/
      _databases.json                  namespace registry (name -> owner/iss)
      _groups.json                     role/group membership registry
      _eventlog/                       append-only parquet event log
      {database}/{collection}/
        metadata.json                  current table state (atomic swap)
        data/{uuid}.parquet            immutable data files

``metadata.json`` carries schema, SRID, max_id, ACLs, STAC metadata, index
declarations and the **manifest** — the list of live data files. A write
produces new files plus a new metadata.json (written to a temp name, then
``os.replace`` — atomic on POSIX). Appends therefore never rewrite existing
data (critical at 100 TB); delete/update/upsert rewrite only as needed.

Note on name resolution: the reference's flat ``{database}_{collection}``
table names force a longest-database-prefix disambiguation rule on the
server (``geodb.sql:519-521``). This catalog keys collections by the
explicit ``(database, collection)`` pair — the client API still takes the
two names separately, exactly like the reference client, so the ambiguity
the prefix rule papers over cannot arise here.

Mandatory columns (parity with ``geodb.sql:309-314``):
``id`` bigint, ``created_at`` timestamp, ``modified_at`` timestamp,
``geometry`` binary WKB — plus engine envelope columns
``__xmin/__ymin/__xmax/__ymax`` persisted at ingest so spatial scans prune
parquet files/row-groups via min/max statistics (the Spark replacement for
the reference's GIST index, SURVEY.md §4).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xcube_geodb_spark.errors import GeoDBError

MANDATORY_PROPERTIES = ["geometry", "id", "created_at", "modified_at"]
SYSTEM_COLUMNS = ["__xmin", "__ymin", "__xmax", "__ymax"]

# Postgres type-name -> Spark type (reference properties are raw PG type
# strings, ``geodb.py:657-658``; tests use float/date/integer/int/text)
_PG_TO_SPARK: dict[str, T.DataType] = {
    "int": T.LongType(),
    "integer": T.LongType(),
    "int2": T.ShortType(),
    "int4": T.IntegerType(),
    "int8": T.LongType(),
    "bigint": T.LongType(),
    "smallint": T.ShortType(),
    "serial": T.LongType(),
    "float": T.DoubleType(),
    "float4": T.FloatType(),
    "float8": T.DoubleType(),
    "real": T.FloatType(),
    "double precision": T.DoubleType(),
    "double": T.DoubleType(),
    "numeric": T.DoubleType(),
    "number": T.DoubleType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
    "timestamptz": T.TimestampType(),
    "timestamp with time zone": T.TimestampType(),
    "timestamp without time zone": T.TimestampType(),
    "text": T.StringType(),
    "varchar": T.StringType(),
    "character varying": T.StringType(),
    "string": T.StringType(),
    "char": T.StringType(),
    "boolean": T.BooleanType(),
    "bool": T.BooleanType(),
    "json": T.StringType(),
    "jsonb": T.StringType(),
    "bytea": T.BinaryType(),
    "binary": T.BinaryType(),
    # PG array types — embedding / vector columns (pgvector-style workloads)
    "float[]": T.ArrayType(T.FloatType()),
    "real[]": T.ArrayType(T.FloatType()),
    "float4[]": T.ArrayType(T.FloatType()),
    "float8[]": T.ArrayType(T.DoubleType()),
    "double precision[]": T.ArrayType(T.DoubleType()),
    "double[]": T.ArrayType(T.DoubleType()),
    "int[]": T.ArrayType(T.LongType()),
    "bigint[]": T.ArrayType(T.LongType()),
    "text[]": T.ArrayType(T.StringType()),
}


def pg_type_to_spark(name: str) -> T.DataType:
    t = _PG_TO_SPARK.get(str(name).strip().lower())
    if t is None:
        raise GeoDBError(f"Unsupported property type: {name!r}")
    return t


def _now_iso() -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime())


def _stat_key(path: str) -> tuple:
    """(inode, mtime_ns, size) identity of a manifest file — atomic
    replacement on every commit gives a fresh inode, so an unchanged key
    proves unchanged bytes (same contract as _meta_parse_cache)."""
    st = os.stat(path)
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def _dictionary_columns(table) -> list[str]:
    """Columns parquet-mr would keep dictionary-encoded: it starts every
    column on a dictionary and falls back to PLAIN at the end of the first
    page unless dictionary plus index bytes are smaller than the plain
    bytes. Booleans never get one, and nested columns are left PLAIN
    here (their leaf values are not counted). pyarrow's default
    (a dictionary on every column) grows a 1,333-row land-use file by ~12 %
    over Spark's; with this rule the two agree within 0.1 %."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out = []
    for name, col in zip(table.column_names, table.columns):
        t = col.type
        if pa.types.is_boolean(t) or pa.types.is_nested(t):
            continue
        values = col.drop_null()
        n = len(values)
        if not n:
            continue
        uniq = pc.unique(values)
        if any(
            is_(t)
            for is_ in (
                pa.types.is_binary,
                pa.types.is_large_binary,
                pa.types.is_string,
                pa.types.is_large_string,
            )
        ):  # PLAIN byte arrays: a 4-byte length prefix each
            plain = pc.sum(pc.binary_length(values)).as_py() + 4 * n
            dictionary = pc.sum(pc.binary_length(uniq)).as_py() + 4 * len(uniq)
        else:
            width = t.bit_width // 8
            plain, dictionary = n * width, len(uniq) * width
        index = (n * max(len(uniq) - 1, 0).bit_length() + 7) // 8
        if dictionary + index < plain:
            out.append(name)
    return out


def write_local_parquet(table, out_dir: str, max_rows: int) -> list[str]:
    """Write a driver-side Arrow ``table`` as the parquet files of one
    commit, in the layout and encoding Spark's single-task write leaves:
    ``part-00000-<uuid>-c000.snappy.parquet``, split every ``max_rows``
    rows into ``c001``, ``c002``, ... (Spark's ``maxRecordsPerFile``), all
    columns nullable, snappy, parquet-mr's dictionary choice. An empty
    table writes no file (nor the directory). There is no ``_temporary``
    directory, ``_SUCCESS`` or ``.crc`` file: a file is only published by
    the manifest, and a crash leaves an orphan ``vacuum_collection``
    removes.

    Float columns holding a NaN get no footer statistics. pyarrow leaves
    NaN out of min/max, while Spark SQL orders NaN above every number, so
    such stats would let file pruning and Spark's parquet filter pushdown
    skip a NaN row that ``x > v`` selects. The rule lives here, in the
    file, because the pushdown reads the footer itself. Nested (array)
    columns are written PLAIN with no statistics: pyarrow matches both
    options by leaf path, and nothing prunes on an array. Returns the
    names written, in order."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if not table.num_rows:
        return []
    table = table.cast(pa.schema([f.with_nullable(True) for f in table.schema]))
    os.makedirs(out_dir, exist_ok=True)
    job = uuid.uuid4()
    names = []
    for i, start in enumerate(range(0, table.num_rows, max_rows)):
        part = table.slice(start, max_rows)
        nan_cols = {
            f.name
            for f in part.schema
            if pa.types.is_floating(f.type)
            and pc.any(pc.is_nan(part[f.name])).as_py()
        }
        name = f"part-00000-{job}-c{i:03d}.snappy.parquet"
        pq.write_table(
            part,
            os.path.join(out_dir, name),
            compression="snappy",
            use_dictionary=_dictionary_columns(part),
            write_statistics=[c for c in part.column_names if c not in nan_cols],
            store_schema=False,
        )
        names.append(name)
    return names


def _atomic_write_json(path: str, obj: dict) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, default=str)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


# stats-tree tuning: compaction triggers when the shard chain exceeds
# STATS_SHARD_COMPACT_AT and re-shards live files into clustered chunks of
# STATS_SHARD_CHUNK_FILES, each summarized in the manifest (probe skips
# whole chunks by hull).
STATS_SHARD_COMPACT_AT = 64
STATS_SHARD_CHUNK_FILES = 1024


class CollectionMeta:
    """In-memory view of a collection's metadata.json.

    Per-file column stats do NOT live inline: at 10^5 files a single
    JSON manifest becomes a multi-MB parse on every probe.  They live in
    immutable sidecar SHARDS under ``stats/`` (one delta shard per
    commit, merged when the shard list grows), listed in
    ``stats_files``; :meth:`file_stats` lazily loads them through the
    catalog's shard cache (immutable files -> cache never invalidates),
    so steady-state probe latency is a dict lookup regardless of file
    count or commit history."""

    def __init__(self, d: dict, path: str, stats_loader=None, derived=None):
        self._d = d
        self.path = path
        self._stats_loader = stats_loader
        self._stats_cache: dict | None = None
        self._bloom_cache: dict | None = None
        # per-manifest-VERSION memo shared by every CollectionMeta read of
        # the same snapshot (lives in the catalog's meta parse cache):
        # holds O(files) derivations — the absolute-path map, the live-file
        # set — that would otherwise rebuild on every probe
        self._derived: dict = derived if derived is not None else {}
        # the manifest file's _stat_key when read by GeoDBCatalog.meta
        self.stat_key: tuple | None = None

    def file_stats(self) -> dict:
        """Per-file column stats for the CURRENT snapshot's files:
        ``rel_path -> {col: [min, max], "::rows": [n, n], ...}`` — merged
        from the sidecar shards plus any legacy inline block, filtered to
        the manifest's live files (shards are append-only and may carry
        entries for files dropped by later commits)."""
        if self._stats_cache is None:
            merged: dict = {}
            if self._stats_loader is not None:
                merged.update(
                    self._stats_loader(self._d.get("stats_files") or [])
                )
            merged.update(self._d.get("file_stats") or {})
            files = set(self._d.get("files") or [])
            self._stats_cache = {f: s for f, s in merged.items() if f in files}
        return self._stats_cache

    @property
    def stats_complete(self) -> bool:
        """True when every live file is known to be covered by some stats
        shard — the precondition for the stats-tree probe fast path
        (pruning.split_files_by_constraints), which classifies files of
        summary-excluded shards as untouched WITHOUT loading them.
        Maintained at commit (new files all got stats) and healed by
        compaction (merged coverage re-checked against live files);
        legacy manifests without the flag default to the safe slow
        path."""
        return bool(self._d.get("stats_complete"))

    def stats_shards(self) -> list:
        """[(shard_name, summary_or_None)] in manifest order; summaries
        are the shard-level min/max hulls (pruning.shard_summary) kept in
        the manifest so probes can skip whole shards unloaded."""
        summaries = self._d.get("stats_summaries") or {}
        return [
            (s, summaries.get(s)) for s in self._d.get("stats_files") or []
        ]

    def load_stats_shard(self, name: str) -> dict:
        """One shard's raw per-file stats through the catalog shard cache
        (immutable file -> parse once per process)."""
        if self._stats_loader is None:
            return {}
        return self._stats_loader([name])

    def file_blooms(self) -> dict:
        """Per-file bloom filters (``::bloom:<col>`` equality,
        ``::bloom:fts:<col>`` token vocab) for the CURRENT snapshot.

        Blooms are kilobyte-sized payloads per file — at 10^5 files they
        would dominate the stats parse, so commits write them into their
        own ``blooms/`` shard family (``bloom_files``), loaded ONLY when
        a query actually carries a bloom-answerable constraint; the
        interval-pruning hot path never pays for them. Legacy shards
        with inline ``::bloom:`` keys are surfaced here too."""
        if self._bloom_cache is None:
            merged: dict = {}
            if self._stats_loader is not None:
                merged.update(
                    self._stats_loader(self._d.get("bloom_files") or [])
                )
            files = set(self._d.get("files") or [])
            out = {f: dict(b) for f, b in merged.items() if f in files}
            # legacy: blooms inline in the stats shards (pre-split commits)
            for f, st in self.file_stats().items():
                legacy = {
                    k: v for k, v in st.items() if k.startswith("::bloom:")
                }
                if legacy:
                    out.setdefault(f, {}).update(
                        {k: v for k, v in legacy.items() if k not in out[f]}
                    )
            self._bloom_cache = out
        return self._bloom_cache

    # -- raw access ---------------------------------------------------------
    @property
    def d(self) -> dict:
        return self._d

    @property
    def database(self) -> str:
        return self._d["database"]

    @property
    def collection(self) -> str:
        return self._d["collection"]

    @property
    def srid(self) -> int:
        return int(self._d["srid"])

    @property
    def max_id(self) -> int:
        return int(self._d["max_id"])

    @property
    def version(self) -> int:
        return int(self._d["version"])

    @property
    def files(self) -> list[str]:
        return list(self._d["files"])

    @property
    def properties(self) -> dict[str, str]:
        """User property name -> PG type string (insertion-ordered)."""
        return dict(self._d["properties"])

    @property
    def owner(self) -> str:
        return self._d["acl"]["owner"]

    def spark_schema(self, include_system: bool = True) -> T.StructType:
        fields = [
            T.StructField("id", T.LongType(), False),
            T.StructField("created_at", T.TimestampType(), True),
            T.StructField("modified_at", T.TimestampType(), True),
            T.StructField("geometry", T.BinaryType(), True),
        ]
        for name, pg_type in self._d["properties"].items():
            fields.append(T.StructField(name, pg_type_to_spark(pg_type), True))
        if include_system:
            for c in SYSTEM_COLUMNS:
                fields.append(T.StructField(c, T.DoubleType(), True))
        return T.StructType(fields)


class GeoDBCatalog:
    """Catalog over a warehouse directory (namespace + table registry)."""

    def __init__(self, spark: SparkSession, warehouse: str, user: str = "geodb"):
        self.spark = spark
        self.warehouse = os.path.abspath(warehouse)
        self.user = user
        os.makedirs(self.warehouse, exist_ok=True)
        self._db_registry_path = os.path.join(self.warehouse, "_databases.json")
        self._groups_path = os.path.join(self.warehouse, "_groups.json")
        # stats sidecar shards are immutable (uuid-named): parsed once,
        # cached for the catalog's lifetime
        self._stats_shard_cache: dict[str, dict] = {}
        # manifest pointer parse cache keyed by (inode, mtime_ns, size):
        # metadata.json is atomically replaced on every commit (fresh
        # inode), so an unchanged stat key proves the bytes are unchanged
        # and the parse can be reused — at 10^5 files the "files" list
        # alone is a ~50 ms JSON parse per probe otherwise
        self._meta_parse_cache: dict[str, tuple] = {}
        # DataFrame-handle memo for load_df keyed on the same manifest
        # stat key: building the parquet relation costs a py4j round trip
        # plus a fresh file index per call (~50-200 ms of driver latency),
        # and DataFrames are immutable so sharing the handle is safe. One
        # slot per (collection, database, include_system, version) —
        # replaced whenever the manifest's stat key changes, so any DML
        # commit invalidates it. Plans only, never materialized data.
        self._load_df_cache: dict[tuple, tuple] = {}

    # ------------------------------------------------------------------
    # databases (namespace registry — geodb.sql:150-214)
    # ------------------------------------------------------------------

    def _read_databases(self) -> dict:
        if not os.path.exists(self._db_registry_path):
            return {}
        with open(self._db_registry_path) as f:
            return json.load(f)

    def create_database(self, database: str, owner: str | None = None) -> None:
        dbs = self._read_databases()
        if database in dbs:
            raise GeoDBError(f"Database {database} exists already!")
        dbs[database] = {"owner": owner or self.user, "iso_created": _now_iso()}
        _atomic_write_json(self._db_registry_path, dbs)
        os.makedirs(os.path.join(self.warehouse, database), exist_ok=True)

    def database_exists(self, database: str) -> bool:
        return database in self._read_databases()

    def truncate_database(self, database: str) -> None:
        """Drop all collections, keep the namespace
        (``geodb_truncate_database``, geodb.sql:191-214)."""
        for coll in self.list_collections(database):
            self.drop_collection(coll, database)

    def drop_database(self, database: str) -> None:
        self.truncate_database(database)
        dbs = self._read_databases()
        dbs.pop(database, None)
        _atomic_write_json(self._db_registry_path, dbs)
        shutil.rmtree(os.path.join(self.warehouse, database), ignore_errors=True)

    def get_my_databases(self, owner: str | None = None) -> list[dict]:
        owner = owner or self.user
        return [
            {"name": name, **info}
            for name, info in sorted(self._read_databases().items())
            if info.get("owner") == owner
        ]

    # ------------------------------------------------------------------
    # collection paths / metadata
    # ------------------------------------------------------------------

    def _coll_dir(self, collection: str, database: str) -> str:
        return os.path.join(self.warehouse, database, collection)

    def _meta_path(self, collection: str, database: str) -> str:
        return os.path.join(self._coll_dir(collection, database), "metadata.json")

    def collection_exists(self, collection: str, database: str) -> bool:
        return os.path.exists(self._meta_path(collection, database))

    def meta(self, collection: str, database: str) -> CollectionMeta:
        p = self._meta_path(collection, database)
        try:
            st = os.stat(p)
        except OSError:
            raise GeoDBError(
                f"Collection {database}_{collection} does not exist"
            )
        key = (st.st_ino, st.st_mtime_ns, st.st_size)
        hit = self._meta_parse_cache.get(p)
        if hit is None or hit[0] != key:
            with open(p) as f:
                pristine = json.load(f)
            hit = (key, pristine, {})
            self._meta_parse_cache[p] = hit
        pristine, derived = hit[1], hit[2]
        # callers mutate meta.d (commit_version, index/STAC admin) before
        # the atomic write, so each CollectionMeta gets its own copy: a
        # deep copy of everything except the (immutable-string, possibly
        # huge) file list, which copies shallowly
        import copy as _copy

        d = _copy.deepcopy({k: v for k, v in pristine.items() if k != "files"})
        if "files" in pristine:
            d["files"] = list(pristine["files"])
        m = CollectionMeta(
            d, p, self._stats_loader(collection, database), derived=derived
        )
        m.stat_key = key
        return m

    def _stats_loader(self, collection: str, database: str):
        """Loader for stats sidecar shards with a catalog-level cache:
        shard files are content-immutable (uuid names), so a cached parse
        stays valid forever — repeated probes of a 10^5-file collection
        pay the JSON parse once per shard, not once per query."""
        cdir = self._coll_dir(collection, database)

        def load(shard_names: list[str]) -> dict:
            out: dict = {}
            for s in shard_names:
                path = os.path.join(cdir, s)
                cached = self._stats_shard_cache.get(path)
                if cached is None:
                    try:
                        with open(path) as f:
                            cached = json.load(f)
                    except (OSError, ValueError):
                        cached = {}
                    self._stats_shard_cache[path] = cached
                out.update(cached)
            return out

        return load

    def list_collections(self, database: str) -> list[str]:
        base = os.path.join(self.warehouse, database)
        if not os.path.isdir(base):
            return []
        return sorted(
            d
            for d in os.listdir(base)
            if os.path.exists(os.path.join(base, d, "metadata.json"))
        )

    def get_my_collections(self, owner: str | None = None) -> list[dict]:
        """(owner, database, collection) rows
        (``geodb_get_my_collections``, geodb.sql:484-541)."""
        owner = owner or self.user
        out = []
        for db in sorted(self._read_databases()):
            for coll in self.list_collections(db):
                m = self.meta(coll, db)
                if owner in (None, "*") or m.owner == owner:
                    out.append(
                        {"owner": m.owner, "database": db, "collection": coll}
                    )
        return out

    # ------------------------------------------------------------------
    # DDL
    # ------------------------------------------------------------------

    def create_collection(
        self,
        collection: str,
        properties: dict[str, str],
        crs: int = 4326,
        database: str = "public",
        force: bool = False,
        if_not_exists: bool = False,
    ) -> None:
        """Parity with ``geodb_create_collection`` (geodb.sql:291-354):
        mandatory columns + lower-cased user properties + per-collection SRID."""
        if not self.database_exists(database):
            raise GeoDBError(f"Database {database} does not exist")
        if self.collection_exists(collection, database):
            if if_not_exists:
                return
            if not force:
                raise GeoDBError(f"Collection {database}_{collection} exists")
            self.drop_collection(collection, database)
        props = {}
        for k, v in (properties or {}).items():
            k = k.lower()  # geodb.sql:226 lower-cases property names
            if k in MANDATORY_PROPERTIES:
                continue
            pg_type_to_spark(v)  # validate
            props[k] = v
        cdir = self._coll_dir(collection, database)
        os.makedirs(os.path.join(cdir, "data"), exist_ok=True)
        meta = {
            "collection": collection,
            "database": database,
            "srid": int(crs),
            "properties": props,
            "max_id": 0,
            "version": 0,
            "files": [],
            "created_at": _now_iso(),
            "acl": {"owner": self.user, "grants": {}, "published": False},
            "indexes": [{"property": "geometry", "type": "gist"}],
            "stac": {},
            # no files yet -> stats coverage vacuously complete; enables
            # the stats-tree probe fast path from the first commit
            "stats_complete": True,
        }
        meta["modified_at"] = meta["created_at"]
        _atomic_write_json(self._meta_path(collection, database), meta)
        # snapshot the empty v0 manifest so load_df(version=0), restore to
        # empty, and v0-anchored change feeds work after the first commit
        hdir = os.path.join(cdir, "history")
        os.makedirs(hdir, exist_ok=True)
        _atomic_write_json(os.path.join(hdir, "v0.json"), meta)

    def drop_collection(self, collection: str, database: str) -> None:
        if not self.collection_exists(collection, database):
            raise GeoDBError(f"Collection {database}_{collection} does not exist")
        shutil.rmtree(self._coll_dir(collection, database), ignore_errors=True)

    def rename_collection(
        self, collection: str, new_name: str, database: str
    ) -> None:
        self.move_collection(collection, new_name, database, database)

    def move_collection(
        self,
        collection: str,
        new_name: str,
        database: str,
        new_database: str,
    ) -> None:
        if not self.collection_exists(collection, database):
            raise GeoDBError(f"Collection {database}_{collection} does not exist")
        if not self.database_exists(new_database):
            raise GeoDBError(f"Database {new_database} does not exist")
        if self.collection_exists(new_name, new_database):
            raise GeoDBError(f"Collection {new_database}_{new_name} exists")
        src = self._coll_dir(collection, database)
        dst = self._coll_dir(new_name, new_database)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.move(src, dst)
        m = self.meta(new_name, new_database)
        m.d["collection"] = new_name
        m.d["database"] = new_database
        _atomic_write_json(self._meta_path(new_name, new_database), m.d)

    def copy_collection(
        self,
        collection: str,
        new_name: str,
        database: str,
        new_database: str,
    ) -> None:
        """``geodb_copy_collection`` (geodb.sql:1398-1438): structure + data."""
        if not self.collection_exists(collection, database):
            raise GeoDBError(f"Collection {database}_{collection} does not exist")
        if self.collection_exists(new_name, new_database):
            raise GeoDBError(f"Collection {new_database}_{new_name} exists")
        src = self._coll_dir(collection, database)
        dst = self._coll_dir(new_name, new_database)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copytree(src, dst)
        m = self.meta(new_name, new_database)
        m.d["collection"] = new_name
        m.d["database"] = new_database
        _atomic_write_json(self._meta_path(new_name, new_database), m.d)

    def commit_meta_change(
        self, collection: str, database: str, mutate, *, operation: str,
        retries: int = 3,
    ) -> None:
        """VERSIONED metadata-only change: ``mutate(meta) -> extra_meta``
        computed against a pinned snapshot, committed through the normal
        CAS protocol and recorded in the history as ``operation`` (ADD
        COLUMNS, ADD CONSTRAINT, CREATE INDEX, ...). Schema, constraint,
        and index changes go through here — a plain metadata.json swap
        would be INVISIBLE to the optimistic-concurrency version check, so
        a DML commit racing the change could enforce a stale
        schema/constraint set (and the change could clobber the DML's
        manifest). On a version conflict the mutation re-derives against
        the fresh snapshot and retries (jittered backoff, same as the DML
        append retry — under sustained load back-to-back attempts would
        all lose the same link race).

        ``mutate`` may return ``None`` to signal a no-op (the change is
        already in effect): nothing is committed, so idempotent admin
        calls don't bump versions or snapshot full history manifests."""
        import random
        import time

        last: Exception | None = None
        for attempt in range(retries + 1):
            if attempt:
                time.sleep(random.uniform(0.02, 0.1) * attempt)
            m = self.meta(collection, database)
            extra = mutate(m)
            if extra is None:
                return
            try:
                self.commit_version(
                    collection,
                    database,
                    None,
                    extra_meta=extra,
                    expected_version=m.version,
                    operation=operation,
                )
                return
            except GeoDBError as e:
                if "Concurrent modification" not in str(e):
                    raise
                last = e
        raise last

    def add_properties(
        self, collection: str, properties: dict[str, str], database: str
    ) -> None:
        """Schema evolution without data rewrite: new columns materialize as
        NULL on read (``geodb_add_properties``, geodb.sql:216-229)."""

        def mutate(m):
            props = dict(m.d["properties"])
            for k, v in properties.items():
                k = k.lower()
                if k in MANDATORY_PROPERTIES or k in props:
                    raise GeoDBError(f"Property {k} already exists")
                pg_type_to_spark(v)
                props[k] = v
            return {"properties": props}

        self.commit_meta_change(
            collection, database, mutate, operation="ADD COLUMNS"
        )

    def drop_properties(
        self, collection: str, properties: Iterable[str], database: str
    ) -> None:
        props_in = list(properties)

        def mutate(m):
            props = dict(m.d["properties"])
            for k in props_in:
                k = k.lower()
                if k in MANDATORY_PROPERTIES:
                    # client guards these at geodb.py:1170-1173
                    raise GeoDBError(f"Cannot drop mandatory property {k}")
                if k not in props:
                    raise GeoDBError(f"Property {k} does not exist")
                del props[k]
            return {"properties": props}

        self.commit_meta_change(
            collection, database, mutate, operation="DROP COLUMNS"
        )

    def add_constraint(
        self, collection: str, name: str, expr: str, database: str
    ) -> None:
        """CHECK constraint (Postgres parity the table format otherwise
        lacks): a boolean Spark SQL expression over the collection's
        columns, validated against all EXISTING rows at add time and
        enforced by every subsequent insert/update batch (Postgres
        semantics: a NULL check result passes). Stored in the metadata
        sidecar under ``constraints``."""
        from pyspark.sql import functions as F

        def mutate(m):
            cons = dict(m.d.get("constraints") or {})
            if name in cons:
                raise GeoDBError(f"Constraint {name} already exists")
            df = self.load_df(collection, database)
            try:
                bad = df.filter(
                    ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
                ).count()
            except Exception as e:
                raise GeoDBError(
                    f"Invalid constraint expression {expr!r}: {e}"
                ) from None
            if bad:
                raise GeoDBError(
                    f"Cannot add constraint {name}: {bad} existing row(s) "
                    f"violate ({expr})"
                )
            cons[name] = expr
            return {"constraints": cons}

        # versioned commit: a DML batch racing this sees the version
        # bump and conflicts (its _enforce_constraints ran against the
        # pre-constraint snapshot), instead of silently committing
        # violating rows past an invisible metadata swap
        self.commit_meta_change(
            collection, database, mutate, operation="ADD CONSTRAINT"
        )

    def drop_constraint(
        self, collection: str, name: str, database: str
    ) -> None:
        def mutate(m):
            cons = dict(m.d.get("constraints") or {})
            if name not in cons:
                raise GeoDBError(f"Constraint {name} does not exist")
            del cons[name]
            return {"constraints": cons}

        self.commit_meta_change(
            collection, database, mutate, operation="DROP CONSTRAINT"
        )

    def get_constraints(self, collection: str, database: str) -> dict:
        return dict(self.meta(collection, database).d.get("constraints", {}))

    def get_properties(self, collection: str, database: str) -> list[dict]:
        m = self.meta(collection, database)
        rows = [
            {"name": "id", "type": "bigint"},
            {"name": "created_at", "type": "timestamp with time zone"},
            {"name": "modified_at", "type": "timestamp with time zone"},
            {"name": "geometry", "type": "geometry"},
        ]
        rows += [{"name": k, "type": v} for k, v in m.properties.items()]
        return rows

    # ------------------------------------------------------------------
    # data IO
    # ------------------------------------------------------------------

    def meta_at_version(
        self, collection: str, database: str, version: int
    ) -> CollectionMeta:
        """Manifest snapshot as of ``version`` (commit_version writes one
        per commit under ``history/``). Raises if the snapshot has been
        expired by vacuum."""
        m = self.meta(collection, database)
        if version == m.version:
            return m
        p = os.path.join(
            self._coll_dir(collection, database), "history", f"v{version}.json"
        )
        if not os.path.exists(p):
            raise GeoDBError(
                f"Version {version} of {database}_{collection} does not exist "
                f"or was expired by vacuum (current: v{m.version})"
            )
        with open(p) as f:
            return CollectionMeta(
                json.load(f), p, self._stats_loader(collection, database)
            )

    def list_versions(self, collection: str, database: str) -> list[dict]:
        """Retained snapshots, oldest first: version, commit timestamp and
        the commit's ``operation`` and ``operationMetrics`` (see
        :meth:`commit_version`; None for a snapshot no commit wrote, such
        as the created collection)."""

        def record(d: dict) -> dict:
            return {
                "version": d["version"],
                "modified_at": d.get("modified_at"),
                "operation": d.get("operation"),
                "operationMetrics": d.get("operationMetrics"),
            }

        m = self.meta(collection, database)
        hdir = os.path.join(self._coll_dir(collection, database), "history")
        out = []
        if os.path.isdir(hdir):
            for fn in os.listdir(hdir):
                if fn.startswith("v") and fn.endswith(".json"):
                    with open(os.path.join(hdir, fn)) as f:
                        out.append(record(json.load(f)))
        if m.version not in {o["version"] for o in out}:
            out.append(record(m.d))
        return sorted(out, key=lambda o: o["version"])

    def version_at_timestamp(self, collection: str, database: str, ts) -> int:
        """Delta ``TIMESTAMP AS OF`` semantics: the newest retained version
        committed at or before ``ts`` (ISO ``YYYY-MM-DDTHH:MM:SS`` UTC
        string or a datetime). Raises when ``ts`` precedes the oldest
        retained snapshot (or vacuum expired everything older)."""
        import datetime as _dt

        if isinstance(ts, _dt.datetime):
            # modified_at strings are UTC (time.gmtime): align tz-aware
            # datetimes to UTC before comparing; naive ones assume UTC.
            if ts.tzinfo is not None:
                ts = ts.astimezone(_dt.timezone.utc)
            ts = ts.strftime("%Y-%m-%dT%H:%M:%S")
        versions = self.list_versions(collection, database)
        cands = [
            v["version"]
            for v in versions
            if v.get("modified_at") and v["modified_at"] <= ts
        ]
        if not cands:
            oldest = versions[0]["modified_at"] if versions else None
            raise GeoDBError(
                f"No snapshot of {database}_{collection} at or before {ts} "
                f"(oldest retained: {oldest})"
            )
        return max(cands)

    def restore_collection(
        self, collection: str, database: str, version: int
    ) -> None:
        """Roll the collection back to a snapshot — metadata-only (a new
        commit whose manifest lists the old version's files; no data is
        copied or rewritten, exactly like Delta's RESTORE). The snapshot's
        SCHEMA (properties + srid) restores too: add/drop_properties
        mutate metadata without a data commit, and reading v1 files under
        a post-drop schema would silently prune the restored column."""
        cur = self.meta(collection, database)
        old = self.meta_at_version(collection, database, version)
        missing = [
            f
            for f in old.files
            if not os.path.exists(
                os.path.join(self._coll_dir(collection, database), f)
            )
        ]
        if missing:
            raise GeoDBError(
                f"Cannot restore {database}_{collection} to v{version}: "
                f"{len(missing)} data files already vacuumed"
            )
        # restore is the ONE commit whose keep set can contain files
        # outside the previous live set; a compaction since `version` may
        # have dropped their stats entries, so the stats-tree
        # completeness flag must be re-derived from actual shard
        # coverage, never carried forward (a wrong True would let the
        # tree probe silently skip restored files)
        loader = self._stats_loader(collection, database)
        covered = set(loader(cur.d.get("stats_files") or []))
        covered.update(cur.d.get("file_stats") or {})
        self.commit_version(
            collection,
            database,
            None,
            keep_files=old.files,
            max_id=old.max_id,
            expected_version=cur.version,
            extra_meta={
                "properties": old.properties,
                "srid": old.srid,
                "stats_complete": set(old.files) <= covered,
            },
            operation="RESTORE",
        )

    def load_df(
        self,
        collection: str,
        database: str,
        include_system: bool = False,
        version: int | None = None,
        meta: CollectionMeta | None = None,
    ) -> DataFrame:
        """Current snapshot as a DataFrame; evolved schema applied on read
        (missing columns -> NULL, dropped columns pruned). ``version``
        time-travels to an earlier manifest snapshot; ``meta`` reads the
        snapshot a caller already holds (from :meth:`meta`)."""
        cache_key = (collection, database, include_system, version)
        if meta is not None:
            stat_key = meta.stat_key
        else:
            try:
                stat_key = _stat_key(self._meta_path(collection, database))
            except OSError:
                stat_key = None
        if stat_key is not None:
            hit = self._load_df_cache.get(cache_key)
            if hit is not None and hit[0] == stat_key:
                return hit[1]
        if meta is not None:
            m = meta
        elif version is None:
            m = self.meta(collection, database)
        else:
            m = self.meta_at_version(collection, database, version)
        schema = m.spark_schema(include_system=True)
        if not m.files:
            df = self.spark.createDataFrame([], schema)
        else:
            paths = [
                os.path.join(self._coll_dir(collection, database), f)
                for f in m.files
            ]
            # Read with the DECLARED schema, not per-file inference: with a
            # mixed-schema manifest (add_properties then insert) inference
            # picks one arbitrary file and an evolved column could read back
            # all-NULL. Declared schema fills missing columns with NULL per
            # file and prunes dropped ones.
            df = self.spark.read.schema(schema).parquet(*paths)
        order = [f.name for f in schema.fields if include_system or f.name not in SYSTEM_COLUMNS]
        out = df.select(*order)
        if stat_key is not None:
            self._load_df_cache[cache_key] = (stat_key, out)
        return out

    def load_files(
        self,
        collection: str,
        database: str,
        files: list[str],
        meta: CollectionMeta | None = None,
    ) -> DataFrame:
        """DataFrame over a subset of manifest files (schema evolution
        applied) — used by DML to rewrite only touched files. Pass ``meta``
        to reuse an already-read manifest (the ANN probe path reads it
        once per query)."""
        m = meta if meta is not None else self.meta(collection, database)
        schema = m.spark_schema(include_system=True)
        if not files:
            return self.spark.createDataFrame([], schema)
        paths = [
            os.path.join(self._coll_dir(collection, database), f) for f in files
        ]
        # the declared schema already fixes the column order (an identity
        # select on top costs ~15 ms of analysis per rewrite)
        return self.spark.read.schema(schema).parquet(*paths)

    def manifest_paths(
        self,
        collection: str,
        database: str,
        meta: CollectionMeta | None = None,
    ) -> dict[str, str]:
        """manifest-relative name -> absolute path for the current snapshot.

        Plain string concatenation, not os.path.join: at 10^5 files the
        per-file join dominates warm probe latency (profiled ~0.2 s per
        call); manifest-relative names are always separator-free-rooted
        uuid paths written by this catalog."""
        m = meta if meta is not None else self.meta(collection, database)
        cached = m._derived.get("paths")
        if cached is not None:
            return cached
        base = self._coll_dir(collection, database).rstrip(os.sep) + os.sep
        paths = {f: base + f for f in m.files}
        m._derived["paths"] = paths
        return paths

    def commit_version(
        self,
        collection: str,
        database: str,
        new_df: DataFrame | None,
        *,
        keep_files: list[str] | None = None,
        max_id: int | None = None,
        expected_version: int | None = None,
        extra_meta: dict | None = None,
        merge_meta: dict | None = None,
        rebase_on_disjoint: bool = False,
        local_batch: bool = False,
        cluster_persist: bool = False,
        operation: str = "WRITE",
    ) -> None:
        """Write ``new_df`` (if any) as new data files; the next snapshot is
        ``keep_files + written files``.

        ``new_df`` is written on one of three lanes:

        - ``driver``: a ``pyarrow.Table`` the caller built on the driver
          (a pandas insert or a one-file delete or update,
          ``operators/dml.py``, of a collection whose layout passes
          ``dml.driver_layout``: no CHECK constraint, no btree or ANN
          index) is sorted by the
          envelope-centre Z-order key (:func:`plans.layout.zorder_key_arrow`;
          a stable sort, as the collect lane's ``sortWithinPartitions``
          over one partition is) and written by :func:`write_local_parquet`,
          with no Spark job.
        - ``collect`` (``local_batch``, a batch
          :func:`operators.dml.fits_driver_write` proved small): the
          clustered batch is collected in ONE Spark job (``toArrow`` over
          ``coalesce(1).sortWithinPartitions(key)``, so Spark still
          evaluates every cast, predicate and the clustering key) and
          :func:`write_local_parquet` writes its files on the driver — no
          Spark write job, no output-committer protocol.
        - ``spark``: any other batch takes the range-clustered distributed
          Spark write.

        The manifest, stats shards, history link, version checks and
        orphan cleanup below are the same for all three. A batch of no
        rows adds no file on any lane (the schema-only file a Spark write
        leaves is removed); its version still commits.

        Each history record carries Delta's ``operation`` (named by the
        caller: INSERT, UPSERT, DELETE, UPDATE, OPTIMIZE, RESTORE, STREAM,
        WRITE by default) and ``operationMetrics``: the ``lane`` (None for
        a commit with no batch), ``files_added`` and
        ``files_removed`` (the manifest delta), ``rows_added`` and
        ``rows_removed`` (the sums of those files' ``::rows`` stats; None
        when a file has none), ``bytes_added`` (the sizes of the added
        files) and ``duration_ms`` (this call up to the commit point).

        Multi-writer safety (optimistic concurrency, Delta-style): the
        commit POINT is an exclusive hard-link of the serialized manifest
        into ``history/v{N}.json`` — the filesystem arbitrates exactly one
        winner per version; the loser gets ``FileExistsError``, removes
        its orphaned data files, and raises a concurrent-modification
        error. ``metadata.json`` is the atomically-swapped pointer cache,
        updated after the link; a crash in between leaves an orphaned
        history file that the next committer ROLLS FORWARD (pointer swap
        to the already-durable snapshot) before proceeding, so no commit
        is ever half-applied. ``expected_version`` additionally pins the
        base snapshot the caller computed against (read-modify-write DML
        uses it so a racing append can't be silently dropped).

        ``extra_meta`` keys REPLACE top-level metadata keys in the same
        atomic swap (restore uses it to roll schema back). ``merge_meta``
        keys one-level-MERGE into existing dict values against the FRESH
        post-write metadata read — the streaming sink records its epoch
        watermark this way, so two streams feeding one collection can
        never clobber each other's epochs with a stale driver-side read,
        and data + epoch cannot diverge across a crash.

        ``rebase_on_disjoint`` (file-rewrite commits only — delete /
        update / compaction): when the version pin fails but every file
        THIS commit replaces is still live in the fresh manifest (the
        concurrent commits touched a disjoint file set) and the schema is
        unchanged, the commit REBASES — keep_files recomputes against the
        fresh snapshot and the commit proceeds, so a compaction and an
        update racing on different files both land instead of one
        aborting. Delta-style WriteSerializable: the rebased operation
        applies to the snapshot it read; disjoint concurrent commits
        serialize around it. Never set for commits whose PAYLOAD depends
        on whole-table state (upsert merges, bm25 totals)."""

        def _try_rebase(fresh) -> bool:
            nonlocal keep_files, expected_version
            if (
                not rebase_on_disjoint
                or keep_files is None
                or expected_version is None
            ):
                return False
            try:
                base = self.meta_at_version(
                    collection, database, expected_version
                )
            except GeoDBError:
                return False
            if (
                base.d.get("properties") != fresh.d.get("properties")
                or base.d.get("srid") != fresh.d.get("srid")
                # a concurrently added/changed CHECK constraint was not
                # enforced against THIS commit's rows, and index
                # declarations drive the clustering the already-written
                # files were laid out with — either change is a true
                # conflict, never rebasable. Normalize missing keys to
                # their empty value: a collection has no 'constraints'
                # key until the first add_constraint, so None vs {} after
                # an add+drop round-trip is NOT a conflict.
                or (base.d.get("constraints") or {})
                != (fresh.d.get("constraints") or {})
                or (base.d.get("indexes") or [])
                != (fresh.d.get("indexes") or [])
            ):
                return False
            ours = set(base.files) - set(keep_files)
            if not ours <= set(fresh.files):
                return False  # a racer rewrote a file we read: true conflict
            keep_files = [f for f in fresh.files if f not in ours]
            expected_version = fresh.version
            return True

        import pyarrow as pa
        import pyarrow.compute as pc

        from xcube_geodb_spark.plans.layout import zorder_key_arrow

        started = time.perf_counter()
        if new_df is None:
            lane = None
        elif isinstance(new_df, pa.Table):
            lane = "driver"
        else:
            lane = "collect" if local_batch else "spark"
        self._roll_forward_crashed_commit(collection, database)
        m = self.meta(collection, database)
        if expected_version is not None and m.version != expected_version:
            if not _try_rebase(m):
                raise GeoDBError(
                    f"Concurrent modification of {database}_{collection}: "
                    f"expected v{expected_version}, found v{m.version}"
                )
        cdir = self._coll_dir(collection, database)
        new_files: list[str] = []
        if new_df is not None:
            sub = os.path.join("data", uuid.uuid4().hex)
            out_dir = os.path.join(cdir, sub)
            # bound file size: rows within a partition are cluster-sorted, so
            # split files keep disjoint key/z-order spans for footer pruning
            max_rows = int(m.d.get("max_file_rows", 2_000_000))
            if lane == "driver":
                if "__xmin" in new_df.column_names:
                    new_df = new_df.take(pc.sort_indices(zorder_key_arrow(new_df)))
                names = write_local_parquet(new_df, out_dir, max_rows)
            else:
                new_df, cached = self._apply_clustering(
                    new_df,
                    m,
                    local_batch=local_batch,
                    cluster_persist=cluster_persist,
                )
            if lane == "collect":
                # one collect job; the files are written here, without
                # Spark's write planning and output-committer protocol
                names = write_local_parquet(new_df.toArrow(), out_dir, max_rows)
            elif lane == "spark":
                try:
                    new_df.write.option("maxRecordsPerFile", max_rows).mode(
                        "overwrite"
                    ).parquet(out_dir)
                finally:
                    if cached is not None:
                        cached.unpersist()
                names = sorted(
                    f for f in os.listdir(out_dir) if f.endswith(".parquet")
                )
            new_files = [os.path.join(sub, f) for f in names]
        # Re-read metadata AFTER the (long) Spark write: a commit landing in
        # between would otherwise pass the stale pre-write check and have its
        # files silently dropped from the manifest (lost update).
        m = self.meta(collection, database)
        if expected_version is not None and m.version != expected_version:
            if not _try_rebase(m):
                for f in new_files:
                    try:
                        os.remove(os.path.join(cdir, f))
                    except OSError:
                        pass
                raise GeoDBError(
                    f"Concurrent modification of {database}_{collection}: "
                    f"expected v{expected_version}, found v{m.version}"
                )
        # Delta-style data skipping: per-file column min/max computed ONCE
        # at commit (one footer read per new file), so selective scans/DML
        # prune files without touching any footer at query time. Stats are
        # NOT inlined in the manifest: each commit writes one immutable
        # DELTA shard under stats/ covering only its new files — commit
        # cost is O(new files) however many the collection holds, and the
        # manifest pointer stays small at 10^5 files. The shard list merges
        # down when it grows so reads stay O(shards) bounded.
        from xcube_geodb_spark.operators.stats import (
            file_bloom_filters,
            file_column_stats,
            file_fts_blooms,
        )

        bloom_cols = [
            i["property"]
            for i in m.d.get("indexes", [])
            if i.get("type") == "bloom"
        ]
        fts_cols = {
            i["property"]: i.get("dictionary", "english")
            for i in m.d.get("indexes", [])
            if i.get("type") == "fts"
        }
        delta_stats: dict[str, dict] = {}
        # bloom payloads (kilobytes per file) go to their OWN shard family
        # so the interval-stats hot path stays small at 10^5 files; they
        # are loaded only by queries that carry bloom-answerable filters
        delta_blooms: dict[str, dict] = {}
        for f in new_files:
            try:
                st = file_column_stats(os.path.join(cdir, f))
                bl: dict = {}
                if bloom_cols:
                    bl.update(
                        file_bloom_filters(os.path.join(cdir, f), bloom_cols)
                    )
                if fts_cols:
                    bl.update(
                        file_fts_blooms(os.path.join(cdir, f), fts_cols)
                    )
                delta_stats[f] = st
                if bl:
                    delta_blooms[f] = bl
            except Exception:
                pass  # unreadable stats never block a commit
        # a batch of no rows adds no file: the Spark write still leaves a
        # schema-only one, which is removed here
        empty = {f for f in new_files if delta_stats.get(f, {}).get("::rows") == [0, 0]}
        for f in empty:
            os.remove(os.path.join(cdir, f))
            del delta_stats[f]
            delta_blooms.pop(f, None)
        new_files = [f for f in new_files if f not in empty]
        keep = list(keep_files) if keep_files is not None else m.files
        before = set(m.files)
        m.d["files"] = keep + new_files
        added = [f for f in m.d["files"] if f not in before]
        removed = before - set(m.d["files"])
        from xcube_geodb_spark.operators.pruning import shard_summary

        # stats_complete: the stats-tree probe precondition — every live
        # file covered by some shard. Advanced per commit (all new files
        # produced stats), healed by compaction (coverage re-checked).
        new_complete = bool(m.d.get("stats_complete")) and all(
            f in delta_stats for f in new_files
        )
        # legacy inline stats (pre-shard collections) migrate into the
        # delta shard once, shrinking the manifest permanently
        inline = m.d.pop("file_stats", None)
        if inline:
            delta_stats = {**inline, **delta_stats}
        shards = list(m.d.get("stats_files") or [])
        base_shards = list(shards)
        summaries = dict(m.d.get("stats_summaries") or {})
        sdir = os.path.join(cdir, "stats")
        if delta_stats:
            os.makedirs(sdir, exist_ok=True)
            sname = os.path.join("stats", f"{uuid.uuid4().hex}.json")
            _atomic_write_json(os.path.join(cdir, sname), delta_stats)
            shards.append(sname)
            summaries[sname] = shard_summary(delta_stats)
        if len(shards) > STATS_SHARD_COMPACT_AT:
            # amortized compaction of the shard chain: live files re-shard
            # into ~1k-file CLUSTERED chunks (ordered by each file's id
            # min, the write-clustering order), each with its own manifest
            # summary — the stats TREE: a selective probe checks O(shards)
            # hulls and loads one chunk, however many files are live.
            # Superseded shards stay on disk for older snapshots until
            # vacuum expires them.
            loader = self._stats_loader(collection, database)
            full = loader(shards)
            live = set(m.d["files"])
            merged = {f: s for f, s in full.items() if f in live}

            def _id_lo(item):
                v = (item[1].get("id") or [None, None])[0]
                return (0, v, item[0]) if isinstance(v, (int, float)) else (
                    1, 0, item[0]
                )

            ordered = sorted(merged.items(), key=_id_lo)
            chunk = STATS_SHARD_CHUNK_FILES
            shards, summaries = [], {}
            os.makedirs(sdir, exist_ok=True)
            for i in range(0, len(ordered), chunk):
                part = dict(ordered[i : i + chunk])
                sname = os.path.join("stats", f"{uuid.uuid4().hex}.json")
                _atomic_write_json(os.path.join(cdir, sname), part)
                shards.append(sname)
                summaries[sname] = shard_summary(part)
            new_complete = set(merged) >= live
        m.d["stats_files"] = shards
        m.d["stats_summaries"] = {
            s: v for s, v in summaries.items() if s in set(shards)
        }
        m.d["stats_complete"] = new_complete
        bshards = list(m.d.get("bloom_files") or [])
        bdir = os.path.join(cdir, "blooms")
        if delta_blooms:
            os.makedirs(bdir, exist_ok=True)
            bname = os.path.join("blooms", f"{uuid.uuid4().hex}.json")
            _atomic_write_json(os.path.join(cdir, bname), delta_blooms)
            bshards.append(bname)
        if len(bshards) > STATS_SHARD_COMPACT_AT:
            loader = self._stats_loader(collection, database)
            full = loader(bshards)
            live = set(m.d["files"])
            merged = {f: b for f, b in full.items() if f in live}
            os.makedirs(bdir, exist_ok=True)
            bname = os.path.join("blooms", f"{uuid.uuid4().hex}.json")
            _atomic_write_json(os.path.join(cdir, bname), merged)
            bshards = [bname]
        if bshards:
            m.d["bloom_files"] = bshards
        m.d["version"] = m.version + 1
        m.d["modified_at"] = _now_iso()
        if max_id is not None:
            m.d["max_id"] = int(max_id)
        if extra_meta:
            m.d.update(extra_meta)
        if merge_meta:
            for k, v in merge_meta.items():
                merged = dict(m.d.get(k) or {})
                merged.update(v)
                m.d[k] = merged

        def rows(files) -> int | None:
            # the ``::rows`` stats of ``files``: the new files' from this
            # commit, any other's from the base snapshot's shards
            known = delta_stats
            if not known.keys() >= set(files):
                known = {**self._stats_loader(collection, database)(base_shards), **delta_stats}
            try:
                return sum(known[f]["::rows"][0] for f in files)
            except KeyError:
                return None

        m.d["operation"] = operation
        m.d["operationMetrics"] = {
            "lane": lane,
            "files_added": len(added),
            "files_removed": len(removed),
            "rows_added": rows(added),
            "rows_removed": rows(removed),
            "bytes_added": sum(os.path.getsize(os.path.join(cdir, f)) for f in added),
            "duration_ms": round(1000 * (time.perf_counter() - started), 1),
        }
        # COMMIT POINT: exclusive hard-link of the serialized manifest into
        # the history slot — the filesystem admits exactly one v{N} writer.
        # The history snapshot also serves time travel (load_df(version=...),
        # restore_collection); files dropped from the current manifest stay
        # on disk — still referenced by older snapshots — until
        # vacuum_collection expires them.
        hdir = os.path.join(cdir, "history")
        os.makedirs(hdir, exist_ok=True)
        hist_path = os.path.join(hdir, f"v{m.d['version']}.json")
        tmp = f"{hist_path}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(m.d, f, indent=1, default=str)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, hist_path)
        except FileExistsError:
            for f in new_files:
                try:
                    os.remove(os.path.join(cdir, f))
                except OSError:
                    pass
            raise GeoDBError(
                f"Concurrent modification of {database}_{collection}: "
                f"another writer committed v{m.d['version']} first; "
                "re-read and retry"
            )
        finally:
            try:
                os.remove(tmp)
            except OSError:
                pass
        # pointer cache swap — a crash before this is repaired by the next
        # committer's roll-forward
        _atomic_write_json(m.path, m.d)

    def meta_for_write(self, collection: str, database: str) -> "CollectionMeta":
        """Snapshot read for a WRITE path: completes any crashed commit's
        pointer swap first, so the version pin and the id watermark
        derive from the latest durable commit. Without this, the first
        write after a crash-after-commit-point reads the stale pointer
        and always burns one conflict retry (and its id assignment,
        though never committed, is wasted work). Read paths keep the
        plain ``meta`` — no side effects, no write permission needed."""
        self._roll_forward_crashed_commit(collection, database)
        return self.meta(collection, database)

    def _roll_forward_crashed_commit(self, collection: str, database: str) -> None:
        """Complete a commit that durably linked ``history/v{N}.json`` but
        crashed before swapping the ``metadata.json`` pointer: swap the
        pointer to the already-committed snapshot (idempotent — a live
        winner doing its own swap writes identical content)."""
        m = self.meta(collection, database)
        nxt = os.path.join(
            self._coll_dir(collection, database),
            "history",
            f"v{m.version + 1}.json",
        )
        if os.path.exists(nxt):
            with open(nxt) as f:
                d = json.load(f)
            _atomic_write_json(m.path, d)

    def _cluster_by(
        self, df: DataFrame, keys: list, local_batch: bool, persist: bool
    ) -> tuple[DataFrame, DataFrame | None]:
        """Range-cluster ``df`` by ``keys`` for the write.

        ``repartitionByRange`` runs a SEPARATE sampling job to find the
        range bounds — a full extra evaluation of the upstream plan. Two
        shapes bound that cost:

        - driver-local batches (``local_batch``): the sampling job would
          cost more than the data — coalesce to one partition and sort
          within it. Same rows, same within-file ordering, no sampling
          job, no shuffle; the collect of this plan is the commit's only
          Spark job.
        - ``persist``: cache the prepared batch so the sampling pass
          materializes it once and the write re-reads it instead of
          recomputing an expensive upstream (upsert merges re-run joins +
          the Arrow envelope kernel otherwise). Callers whose upstream is
          a plain parquet scan + cheap expressions (delete/update/
          compaction rewrites) leave it off — recomputing those is
          cheaper than holding a second copy of the batch. The handle is
          unpersisted by commit_version right after the write.
        """
        if local_batch:
            return df.coalesce(1).sortWithinPartitions(*keys), None
        if not persist:
            return (
                df.repartitionByRange(*keys).sortWithinPartitions(*keys),
                None,
            )
        from pyspark import StorageLevel

        cached = df.persist(StorageLevel.MEMORY_AND_DISK)
        return (
            cached.repartitionByRange(*keys).sortWithinPartitions(*keys),
            cached,
        )

    def _apply_clustering(
        self,
        df: DataFrame,
        m: CollectionMeta,
        local_batch: bool = False,
        cluster_persist: bool = False,
    ) -> tuple[DataFrame, DataFrame | None]:
        """Honor declared indexes as physical layout: a btree index on a
        property range-partitions + sorts files by it; the (default) gist
        geometry index clusters by envelope-center Z-order. Range
        partitioning (not just a within-partition sort) gives each output
        file a disjoint key interval, so parquet min/max stats prune whole
        files for selective scans and DML — the Spark stand-in for
        geodb.sql:1456-1471. AQE coalesces the shuffle for small commits.

        Returns ``(clustered_df, cached_df_or_None)``; a non-None second
        element is a persisted handle the caller must unpersist after the
        write (see :meth:`_cluster_by`)."""
        btree = [
            i["property"]
            for i in m.d.get("indexes", [])
            if i["type"] == "btree" and i["property"] in df.columns
        ]
        if btree:
            cols = [F.col(c) for c in btree]
            return self._cluster_by(df, cols, local_batch, cluster_persist)
        ann = next(
            (
                i
                for i in m.d.get("indexes", [])
                if i["type"] in ("lsh", "ivf", "ivfpq")
                and i["property"] in df.columns
            ),
            None,
        )
        if ann is not None:
            # ANN at-rest layout: persist the bucket as a physical-only
            # column (__annbucket — not part of the declared read schema)
            # and range-cluster files by it, so probe queries prune whole
            # files from footer min/max instead of scanning the table.
            from xcube_geodb_spark.functions.similarity import (
                _to_double,
                lsh_hyperplanes,
                rotation_bucket,
                with_centroid_assignment,
            )

            if ann["type"] == "lsh":
                hp = lsh_hyperplanes(
                    int(ann["dim"]),
                    int(ann.get("n_bits", 8)),
                    int(ann.get("seed", 42)),
                )
                # pass the column NAME: rotation_bucket's parsed-SQL fast
                # path (one py4j round trip instead of bits x dim)
                df = df.select(
                    "*", _to_double(F.col(ann["property"])).alias("__annv")
                ).withColumn(
                    "__annbucket", rotation_bucket("__annv", hp)
                ).drop("__annv")
            else:
                df = with_centroid_assignment(
                    df, ann["centroids"], vec_col=ann["property"]
                ).withColumnRenamed("centroid_id", "__annbucket")
                if ann["type"] == "ivfpq":
                    # composed IVF-PQ layout: persist the m-byte PQ code
                    # next to the coarse bucket so a probe scan reads only
                    # (id, __annbucket, __pqcode) — never the raw vectors.
                    # With residual=true the code quantizes
                    # v - centroid[bucket] (IVFADC), same scan shape.
                    from xcube_geodb_spark.functions.similarity import (
                        pq_encode,
                    )

                    df = pq_encode(
                        df,
                        ann["codebooks"],
                        vec_col=ann["property"],
                        out_col="__pqcode",
                        centroids=(
                            ann["centroids"]
                            if ann.get("residual")
                            else None
                        ),
                        bucket_col="__annbucket",
                    )
            return self._cluster_by(
                df, [F.col("__annbucket")], local_batch, cluster_persist
            )
        if "__xmin" in df.columns:
            from xcube_geodb_spark.plans.layout import (
                zorder_interleave_sql,
                zorder_quantize_sql,
            )

            # quantize the envelope centre once per row, then interleave
            # over the column references (one parsed expression each)
            df = df.withColumns(
                {
                    "__qx": F.expr(
                        zorder_quantize_sql("(__xmin + __xmax) / 2", -180.0, 180.0)
                    ),
                    "__qy": F.expr(
                        zorder_quantize_sql("(__ymin + __ymax) / 2", -90.0, 90.0)
                    ),
                }
            )
            zkey = F.expr(zorder_interleave_sql("__qx", "__qy"))
            out, cached = self._cluster_by(
                df, [zkey], local_batch, cluster_persist
            )
            return out.drop("__qx", "__qy"), cached
        return df, None

    # ------------------------------------------------------------------
    # SRID / info
    # ------------------------------------------------------------------

    def get_collection_srid(self, collection: str, database: str) -> int:
        return self.meta(collection, database).srid

    def get_collection_info(self, collection: str, database: str) -> dict:
        m = self.meta(collection, database)
        return {
            "collection": collection,
            "database": database,
            "srid": m.srid,
            "properties": self.get_properties(collection, database),
            "version": m.version,
            "required": MANDATORY_PROPERTIES,
        }

    # ------------------------------------------------------------------
    # usage (geodb.sql:1028-1120: SUM(pg_total_relation_size))
    # ------------------------------------------------------------------

    def get_usage(self, owner: str | None = None, pretty: bool = False):
        owner = owner or self.user
        total = 0
        for row in self.get_my_collections(owner):
            cdir = self._coll_dir(row["collection"], row["database"])
            for root, _dirs, files in os.walk(cdir):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        if pretty:
            for unit in ("bytes", "kB", "MB", "GB", "TB"):
                if total < 1024 or unit == "TB":
                    return f"{total:.0f} {unit}" if unit == "bytes" else f"{total:.1f} {unit}"
                total /= 1024
        return total
