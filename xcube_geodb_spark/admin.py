"""Admin parity: event log, access control, groups, indexes, STAC metadata.

These are API/metadata operators, not data-path operators (SURVEY.md §2.9,
§2.10) — but the reference's tests exercise them heavily, so they get full
functional parity on engine-level metadata.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame

from xcube_geodb_spark.catalog import GeoDBCatalog, _atomic_write_json
from xcube_geodb_spark.errors import GeoDBError

# ---------------------------------------------------------------------------
# event log (geodb_eventlog, geodb.sql:98-140; client EventType geodb.py:91-117)
# ---------------------------------------------------------------------------

EVENT_TYPES = (
    "created",
    "dropped",
    "renamed",
    "copied",
    "moved",
    "published",
    "unpublished",
    "published_gs",
    "unpublished_gs",
    "read",
    "wrote",
    "updated",
    "deleted",
    "index_created",
    "index_dropped",
    "property_added",
    "property_dropped",
    "rows_added",
    "rows_dropped",
    "rows_updated",
    "database_created",
    "database_dropped",
)


class EventLog:
    """Append-only event log — one JSONL file per writer session, queried as
    a DataFrame. JSONL (not parquet) keeps single-event appends O(1)."""

    def __init__(self, catalog: GeoDBCatalog):
        self.catalog = catalog
        self.dir = os.path.join(catalog.warehouse, "_eventlog")
        os.makedirs(self.dir, exist_ok=True)
        self._file = os.path.join(self.dir, f"events-{uuid.uuid4().hex[:12]}.jsonl")

    def log(self, event_type: str, message: str, user: str | None = None) -> None:
        rec = {
            "event_type": event_type,
            "message": message,
            "username": user or self.catalog.user,
            "date": time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime()),
        }
        with open(self._file, "a") as f:
            f.write(json.dumps(rec) + "\n")

    def get_event_log(
        self,
        collection: str | None = None,
        database: str | None = None,
        event_type: str | None = None,
    ) -> DataFrame:
        """%-wildcard matching parity (geodb.sql:123-140: ``event_type LIKE``
        and ``message LIKE '%{db}_{collection}%'``)."""
        from pyspark.sql import functions as F

        files = [f for f in os.listdir(self.dir) if f.endswith(".jsonl")]
        if not files:
            return self.catalog.spark.createDataFrame(
                [], "event_type string, message string, username string, date string"
            )
        df = self.catalog.spark.read.json(os.path.join(self.dir, "*.jsonl"))

        if event_type and event_type != "%":
            df = df.filter(F.col("event_type").like(event_type.replace("*", "%")))
        if collection:
            name = f"{database}_{collection}" if database else collection
            df = df.filter(F.col("message").like(f"%{name}%"))
        return df.select("event_type", "message", "username", "date")


# ---------------------------------------------------------------------------
# access control (geodb.sql:380-424, 651-682, 1514-1676)
# ---------------------------------------------------------------------------


class AccessControl:
    """Grants live in each collection's metadata; groups in _groups.json.
    Authorization rule parity: ``geodb_user_allowed`` — the user owns the
    database prefix or inherits via (recursive) group membership
    (geodb.sql:732-775)."""

    def __init__(self, catalog: GeoDBCatalog):
        self.catalog = catalog
        self._groups_path = catalog._groups_path

    # groups -----------------------------------------------------------
    def _read_groups(self) -> dict:
        if not os.path.exists(self._groups_path):
            return {}
        with open(self._groups_path) as f:
            return json.load(f)

    def create_group(self, group: str) -> None:
        groups = self._read_groups()
        if group in groups:
            raise GeoDBError(f"Group {group} exists")
        groups[group] = {"members": []}
        _atomic_write_json(self._groups_path, groups)

    def add_user_to_group(self, user: str, group: str) -> None:
        groups = self._read_groups()
        if group not in groups:
            raise GeoDBError(f"Group {group} does not exist")
        if user not in groups[group]["members"]:
            groups[group]["members"].append(user)
        _atomic_write_json(self._groups_path, groups)

    def remove_user_from_group(self, user: str, group: str) -> None:
        groups = self._read_groups()
        if group not in groups:
            raise GeoDBError(f"Group {group} does not exist")
        if user in groups[group]["members"]:
            groups[group]["members"].remove(user)
        _atomic_write_json(self._groups_path, groups)

    def get_group_users(self, group: str) -> list[str]:
        groups = self._read_groups()
        if group not in groups:
            raise GeoDBError(f"Group {group} does not exist")
        return list(groups[group]["members"])

    def _principals(self, user: str) -> set[str]:
        """user + every group (transitively) containing them."""
        groups = self._read_groups()
        out = {user}
        changed = True
        while changed:
            changed = False
            for g, info in groups.items():
                if g not in out and out & set(info["members"]):
                    out.add(g)
                    changed = True
        return out

    def get_user_groups(self, user: str) -> list[str]:
        """Groups the user belongs to, directly or transitively — the
        reference returns the user's roles minus their own role
        (``geodb_get_user_roles``, geodb.py:2516-2528)."""
        return sorted(self._principals(user) - {user})

    # group publish (geodb.py:2369-2514; geodb.sql group_publish functions)

    GROUP_PRIVILEGES = ("SELECT", "INSERT", "UPDATE", "DELETE")

    def _require_group(self, group: str) -> None:
        if group not in self._read_groups():
            raise GeoDBError(f"Group {group} does not exist")

    def _require_owner(self, collection: str, database: str, user: str, verb: str):
        m = self.catalog.meta(collection, database)
        if m.owner != user:
            raise GeoDBError(
                f"User {user} must be owner of collection "
                f"{database}_{collection} to {verb}."
            )
        return m

    def _commit_acl(
        self,
        collection: str,
        database: str,
        mutate_acl,
        *,
        owner: str | None = None,
        verb: str = "modify",
    ) -> None:
        """Apply ``mutate_acl(acl_dict)`` through the VERSIONED metadata
        commit: a plain metadata.json swap computed from a snapshot would
        silently revert the manifest pointer of any DML commit that landed
        between the read and the write (the DML's data survives via
        roll-forward, but the ACL change itself is lost and reads see a
        stale snapshot until the next commit). Routing through
        ``commit_meta_change`` makes the grant a CAS commit that re-derives
        against the fresh snapshot on conflict — same protocol as schema
        and index changes. Ownership is re-checked against the fresh
        snapshot inside the retry loop."""
        import copy

        def mutate(m):
            if owner is not None and m.owner != owner:
                raise GeoDBError(
                    f"User {owner} must be owner of collection "
                    f"{database}_{collection} to {verb}."
                )
            acl = copy.deepcopy(m.d["acl"])
            mutate_acl(acl)
            if acl == m.d["acl"]:
                # idempotent grant/revoke: nothing changed, commit
                # nothing — a version bump would snapshot the full
                # history manifest and push concurrent DML through the
                # conflict/rebase path for no effect
                return None
            return {"acl": acl}

        self.catalog.commit_meta_change(
            collection, database, mutate, operation="SET ACL"
        )

    def publish_collection_to_group(
        self, collection: str, group: str, database: str, user: str
    ) -> None:
        """Group members get read and write access, but no grant rights
        (``geodb_group_publish_collection``, geodb.py:2369-2413)."""
        self._require_group(group)

        def mutate_acl(acl):
            acl["grants"][group] = list(self.GROUP_PRIVILEGES)

        self._commit_acl(
            collection, database, mutate_acl, owner=user, verb="publish"
        )

    def unpublish_collection_from_group(
        self, collection: str, group: str, database: str, user: str
    ) -> None:
        self._require_group(group)

        def mutate_acl(acl):
            acl["grants"].pop(group, None)

        self._commit_acl(
            collection, database, mutate_acl, owner=user, verb="unpublish"
        )

    def publish_database_to_group(
        self, database: str, group: str, user: str
    ) -> None:
        """Group members may CREATE collections in the database; existing
        collections stay private until published individually
        (``geodb_group_publish_database``, geodb.py:2457-2487)."""
        self._require_group(group)
        dbs = self.catalog._read_databases()
        if database not in dbs:
            raise GeoDBError(f"Database {database} does not exist")
        if dbs[database].get("owner") != user:
            raise GeoDBError(
                f"User {user} must be owner of database {database} to publish."
            )
        acc = dbs[database].setdefault("group_access", [])
        if group not in acc:
            acc.append(group)
        _atomic_write_json(self.catalog._db_registry_path, dbs)

    def unpublish_database_from_group(
        self, database: str, group: str, user: str
    ) -> None:
        self._require_group(group)
        dbs = self.catalog._read_databases()
        if database not in dbs:
            raise GeoDBError(f"Database {database} does not exist")
        if dbs[database].get("owner") != user:
            raise GeoDBError(
                f"User {user} must be owner of database {database} to unpublish."
            )
        acc = dbs[database].setdefault("group_access", [])
        if group in acc:
            acc.remove(group)
        _atomic_write_json(self.catalog._db_registry_path, dbs)

    def database_allowed(self, database: str, user: str) -> bool:
        """May ``user`` create collections in ``database``? Owner, or member
        of a group the database was published to."""
        dbs = self.catalog._read_databases()
        if database not in dbs:
            return False
        info = dbs[database]
        if info.get("owner") == user:
            return True
        return bool(set(info.get("group_access", [])) & self._principals(user))

    def get_access_rights(self, collection: str, database: str) -> dict:
        """grantee -> [privileges] (``geodb_get_grants`` grouped by grantee,
        geodb.py:2545-2568)."""
        out: dict[str, list[str]] = {}
        for row in self.list_grants(collection, database):
            out.setdefault(row["grantee"], []).append(row["privilege"])
        return out

    # grants -------------------------------------------------------------
    def grant_access(
        self, collection: str, user: str, database: str, privilege: str = "SELECT"
    ) -> None:
        def mutate_acl(acl):
            grants = acl["grants"]
            grants.setdefault(user, [])
            if privilege not in grants[user]:
                grants[user].append(privilege)

        self._commit_acl(collection, database, mutate_acl)

    def revoke_access(
        self, collection: str, user: str, database: str, privilege: str = "SELECT"
    ) -> None:
        def mutate_acl(acl):
            grants = acl["grants"]
            if user in grants and privilege in grants[user]:
                grants[user].remove(privilege)
                if not grants[user]:
                    del grants[user]

        self._commit_acl(collection, database, mutate_acl)

    def publish_collection(self, collection: str, database: str) -> None:
        """= GRANT SELECT TO PUBLIC (geodb.py:789-821)."""
        self._commit_acl(
            collection, database, lambda acl: acl.__setitem__("published", True)
        )

    def unpublish_collection(self, collection: str, database: str) -> None:
        self._commit_acl(
            collection, database, lambda acl: acl.__setitem__("published", False)
        )

    def list_grants(self, collection: str, database: str) -> list[dict]:
        m = self.catalog.meta(collection, database)
        rows = [
            {"grantee": u, "privilege": p}
            for u, privs in m.d["acl"]["grants"].items()
            for p in privs
        ]
        if m.d["acl"].get("published"):
            rows.append({"grantee": "PUBLIC", "privilege": "SELECT"})
        return rows

    def user_allowed(self, collection: str, database: str, user: str) -> bool:
        m = self.catalog.meta(collection, database)
        acl = m.d["acl"]
        if acl.get("published"):
            return True
        principals = self._principals(user)
        if acl["owner"] in principals:
            return True
        return bool(principals & set(acl["grants"]))


# ---------------------------------------------------------------------------
# indexes (geodb.sql:1441-1510)
# ---------------------------------------------------------------------------


class IndexManager:
    """Index declarations are physical-layout hints: the catalog sorts data
    files by the indexed column (or envelope Z-order for geometry) on the
    next rewrite so parquet min/max stats prune scans — the Spark stand-in
    for GIST/B-tree."""

    def __init__(self, catalog: GeoDBCatalog):
        self.catalog = catalog

    @staticmethod
    def index_name(prop: str, collection: str) -> str:
        """``idx_{prop}_{collection}`` truncated to 63 chars by shortening the
        collection from the left (geodb.sql:1499-1505)."""
        name = f"idx_{prop}_{collection}"
        if len(name) > 63:
            overshoot = len(name) - 63
            name = f"idx_{prop}_{collection[overshoot:]}"
        return name

    def create_index(
        self,
        collection: str,
        prop: str,
        database: str,
        kind: str | None = None,
        options: dict | None = None,
    ) -> None:
        """Default kinds mirror the reference (gist for geometry, btree
        otherwise); ``lsh``/``ivf`` declare an ANN layout on an embedding
        column — files are range-clustered by sign-LSH bucket / centroid id
        on the next rewrite so probes prune at rest. ``bloom`` declares a
        per-file bloom filter (built at commit, stored in the manifest)
        for equality pruning on NON-clustered columns, where min/max
        intervals overlap and can't skip anything.

        ``fts`` declares a per-file token bloom on a text column (built
        at commit like ``bloom``, but over the column's tokenized — and,
        with the default ``english`` dictionary, Porter-stemmed —
        vocabulary), so fts-family scans prune whole files from the
        manifest: the 100 TB stand-in for a tsvector GIN index.

        lsh options: ``dim`` (required), ``n_bits`` (8), ``seed`` (42).
        ivf options: ``centroids`` (list of vectors) or ``n_centroids``
        (derived from the deterministic lowest-id sample).
        ivfpq options: the ivf options plus ``codebooks``
        ([subspace][centroid][dim] floats) or ``n_subspaces`` (8) /
        ``pq_centroids`` (8) to derive deterministic codebooks from the
        lowest-id sample — the composed 100 TB vector layout: the coarse
        quantizer range-clusters files (probe prunes at rest), and every
        row additionally persists an m-byte ``__pqcode`` so the probe
        scan reads codes, never the raw embedding column. Add
        ``residual: True`` (IVFADC) to quantize ``v - centroid[bucket]``
        instead of the raw vector — markedly better ADC recall at the
        same code size; auto-derived codebooks then seed from residual
        space, and explicit ``codebooks`` must be residual-trained."""
        # early existence check (raises) before any expensive
        # centroid/codebook derivation; validation itself happens inside
        # the CAS mutate against the fresh snapshot
        self.catalog.meta(collection, database)
        if kind is None:
            kind = "gist" if prop == "geometry" else "btree"
        if kind not in ("gist", "btree", "lsh", "ivf", "ivfpq", "bloom",
                        "fts"):
            raise GeoDBError(f"Unknown index type {kind!r}")
        entry = {"property": prop, "type": kind,
                 "name": self.index_name(prop, collection)}
        opts = dict(options or {})
        if kind == "lsh":
            if "dim" not in opts:
                raise GeoDBError("lsh index requires options={'dim': <vector length>}")
            entry.update(
                dim=int(opts["dim"]),
                n_bits=int(opts.get("n_bits", 8)),
                seed=int(opts.get("seed", 42)),
            )
        elif kind in ("ivf", "ivfpq"):
            cents = opts.get("centroids")
            if cents is None:
                from xcube_geodb_spark.functions.similarity import seed_centroids

                df = self.catalog.load_df(collection, database)
                cents = seed_centroids(
                    df, int(opts.get("n_centroids", 8)), vec_col=prop, id_col="id"
                )
                if not cents:
                    raise GeoDBError(
                        f"{kind} index needs data or explicit"
                        " options={'centroids': ...}"
                    )
            entry["centroids"] = [[float(x) for x in c] for c in cents]
            if kind == "ivfpq":
                residual = bool(opts.get("residual", False))
                books = opts.get("codebooks")
                if books is None:
                    from xcube_geodb_spark.functions.similarity import (
                        pq_codebooks,
                        pq_codebooks_residual,
                    )

                    df = self.catalog.load_df(collection, database)
                    if df.limit(1).count() == 0:
                        raise GeoDBError(
                            "ivfpq index needs data or explicit"
                            " options={'codebooks': ...}"
                        )
                    if residual:
                        books = pq_codebooks_residual(
                            df,
                            entry["centroids"],
                            int(opts.get("n_subspaces", 8)),
                            int(opts.get("pq_centroids", 8)),
                            vec_col=prop,
                            id_col="id",
                        )
                    else:
                        books = pq_codebooks(
                            df,
                            int(opts.get("n_subspaces", 8)),
                            int(opts.get("pq_centroids", 8)),
                            vec_col=prop,
                            id_col="id",
                        )
                entry["codebooks"] = [
                    [[float(x) for x in c] for c in sub] for sub in books
                ]
                if residual:
                    # IVFADC: __pqcode quantizes v - centroid[bucket];
                    # probes must build per-list query-residual tables
                    entry["residual"] = True
        if kind == "fts":
            dic = str(opts.get("dictionary", "english")).lower()
            if dic not in ("english", "simple"):
                raise GeoDBError(
                    f"Unknown fts dictionary {dic!r} (available: english,"
                    " simple)"
                )
            entry["dictionary"] = dic
        def mutate(fresh):
            idx = list(fresh.d["indexes"])
            if any(i["property"] == prop for i in idx):
                raise GeoDBError(f"Index on {prop} already exists")
            return {"indexes": idx + [entry]}

        # versioned commit (catalog.commit_meta_change): index
        # declarations drive physical clustering + per-file bloom builds
        # at commit time, so a DML batch racing this change must conflict
        # rather than write files laid out for a stale declaration
        self.catalog.commit_meta_change(
            collection, database, mutate, operation="CREATE INDEX"
        )

    def remove_index(self, collection: str, prop: str, database: str) -> None:
        def mutate(fresh):
            idx = [i for i in fresh.d["indexes"] if i["property"] != prop]
            if len(idx) == len(fresh.d["indexes"]):
                raise GeoDBError(f"No index on {prop}")
            return {"indexes": idx}

        self.catalog.commit_meta_change(
            collection, database, mutate, operation="DROP INDEX"
        )

    def show_indexes(self, collection: str, database: str) -> list[dict]:
        return list(self.catalog.meta(collection, database).d["indexes"])


# ---------------------------------------------------------------------------
# STAC metadata (geodb.sql:1767-2036; client geodb.py:2577-2702, metadata.py)
# ---------------------------------------------------------------------------

STAC_FIELDS = (
    "title",
    "description",
    "license",
    "keywords",
    "stac_extensions",
    "links",
    "providers",
    "assets",
    "item_assets",
    "temporal_extent",
    "summaries",
)

STAC_VERSION = "1.1.0"  # metadata.py:542


class StacMetadata:
    def __init__(self, catalog: GeoDBCatalog):
        self.catalog = catalog

    def get_metadata(self, collection: str, database: str) -> dict:
        m = self.catalog.meta(collection, database)
        stac = dict(m.d.get("stac") or {})
        stac.setdefault("stac_version", STAC_VERSION)
        stac.setdefault("id", f"{database}_{collection}")
        if "spatial_extent" not in stac:
            # auto-compute from collection bbox when missing
            # (metadata.py:371-380); stored extents are EPSG:4326 like
            # geodb_set_spatial_extent's ST_Transform(..., 4326)
            # (geodb.sql:1840-1867)
            from xcube_geodb_spark.geometry.crs import transform_bbox_crs
            from xcube_geodb_spark.operators.spatial import get_collection_bbox

            bbox = get_collection_bbox(self.catalog, collection, database)
            if bbox is not None:
                srid = self.catalog.get_collection_srid(collection, database)
                try:
                    bbox = transform_bbox_crs(bbox, srid, 4326)
                except GeoDBError:
                    pass  # unsupported CRS: report in native coordinates
                stac["spatial_extent"] = [list(bbox)]
        return stac

    def set_metadata_field(
        self, collection: str, field: str, value, database: str
    ) -> None:
        if field not in STAC_FIELDS:
            # invalid field -> ValueError parity (geodb.py:2689,
            # geodb.sql:2033)
            raise GeoDBError(
                f"Invalid metadata field {field!r}; valid: {', '.join(STAC_FIELDS)}"
            )
        self._validate(field, value)

        # versioned merge commit: a snapshot-based metadata.json swap would
        # revert a concurrently-landed DML commit's manifest pointer and
        # lose this field on roll-forward (same rationale as ACL grants)
        def mutate(m):
            stac = dict(m.d.get("stac") or {})
            if field in stac and stac[field] == value:
                return None  # unchanged: no version bump (same as ACL)
            stac[field] = value
            return {"stac": stac}

        self.catalog.commit_meta_change(
            collection, database, mutate, operation="SET TBLPROPERTIES"
        )

    @staticmethod
    def _validate(field: str, value) -> None:
        if field in ("title", "description", "license") and not isinstance(value, str):
            raise GeoDBError(f"{field} must be a string")
        if field in ("keywords", "stac_extensions") and not (
            isinstance(value, list) and all(isinstance(v, str) for v in value)
        ):
            raise GeoDBError(f"{field} must be a list of strings")
        if field in ("links", "providers") and not (
            isinstance(value, list) and all(isinstance(v, dict) for v in value)
        ):
            raise GeoDBError(f"{field} must be a list of objects")
        if field in ("assets", "item_assets", "summaries") and not isinstance(
            value, dict
        ):
            raise GeoDBError(f"{field} must be an object")
        if field == "temporal_extent":
            if not isinstance(value, list):
                raise GeoDBError("temporal_extent must be a list of [start, end]")
