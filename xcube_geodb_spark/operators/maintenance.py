"""Table-maintenance operators: small-file compaction + orphan-file vacuum.

The reference delegates storage hygiene to Postgres — autovacuum keeps the
heap compact behind the btree/gist indexes its DDL declares
(``xcube_geodb/sql/geodb.sql:1456-1471``), so its client never needs a
maintenance API. A parquet-manifest warehouse has no such daemon, and the
engine's DML (``operators/dml.py``) deliberately rewrites only touched
files, so a long-lived collection accumulates

* **small files** — per-batch appends and narrow update/delete rewrites
  land sub-target files; at 100 TB thousands of them destroy scan
  parallelism (one task per tiny file) and footer-pruning selectivity
  (each file's min/max span shrinks the more rows it holds of one range);
* **orphan files** — a commit that crashes between the Spark write and the
  atomic metadata swap (``catalog.commit_version``) leaves data files on
  disk that no manifest references, leaking storage forever.

Both operators here are metadata-first: file *selection* reads parquet
footers / the filesystem on the driver (no Spark job, exactly like the
jobless count/extent paths in ``operators/stats.py``); only the rewrite of
the selected small files is a Spark job. The rewrite goes through
``catalog.commit_version`` and therefore ``catalog._apply_clustering``, so
the collection's declared physical layout — btree range partitioning, gist
Z-order, ANN bucket clustering — and the ``max_file_rows`` bound re-apply
to the compacted output. Compaction never touches files already at target
size: at scale the job only ever reads the fragmented tail, not the table.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq

from xcube_geodb_spark.operators.dml import files_fit_driver

__all__ = ["optimize_collection", "vacuum_collection"]


def optimize_collection(
    catalog,
    collection: str,
    database: str,
    *,
    small_file_rows: int | None = None,
    dry_run: bool = False,
) -> dict:
    """Compact manifest files smaller than ``small_file_rows`` (default:
    half the collection's ``max_file_rows`` target) into full-size,
    re-clustered files.

    Returns a stats dict: ``files_before/files_after/compacted/rows_moved``.
    With ``dry_run=True``, reports what would be compacted without writing.

    Selection is footer-only; the single Spark job reads just the small
    files. Concurrent-writer safety comes from ``commit_version``'s
    optimistic version check — a commit landing mid-compaction aborts the
    compaction, never the other writer.
    """
    m = catalog.meta(collection, database)
    target = int(m.d.get("max_file_rows", 2_000_000))
    thresh = int(small_file_rows) if small_file_rows is not None else target // 2
    cdir = catalog._coll_dir(collection, database)
    # manifest row stats first (a dict lookup at any file count); parquet
    # footer reads only for legacy files the stats shards don't cover
    fstats = m.file_stats()
    rows = {}
    for f in m.files:
        r = (fstats.get(f) or {}).get("::rows")
        rows[f] = (
            int(r[0])
            if r
            else pq.ParquetFile(os.path.join(cdir, f)).metadata.num_rows
        )
    small = [f for f in m.files if rows[f] < thresh]
    stats = {
        "files_before": len(m.files),
        "files_after": len(m.files),
        "compacted": 0,
        "rows_moved": 0,
        "dry_run": dry_run,
    }
    if len(small) < 2:
        return stats  # one small file is already as compact as it gets
    stats["compacted"] = len(small)
    stats["rows_moved"] = sum(rows[f] for f in small)
    if dry_run:
        return stats
    df = catalog.load_files(collection, database, small)
    small_set = set(small)
    keep = [f for f in m.files if f not in small_set]
    catalog.commit_version(
        collection,
        database,
        df,
        keep_files=keep,
        expected_version=m.version,
        rebase_on_disjoint=True,
        # a compaction whose small files fit the driver is one collect job
        # and a driver-side write, no range-sampling job
        local_batch=files_fit_driver(catalog, collection, database, small),
        operation="OPTIMIZE",
    )
    stats["files_after"] = len(catalog.meta(collection, database).files)
    return stats


def vacuum_collection(
    catalog,
    collection: str,
    database: str,
    *,
    older_than_seconds: float = 3600.0,
    dry_run: bool = False,
) -> dict:
    """Delete data files under the collection directory that no retained
    manifest references — debris from crashed commits plus files only
    reachable from EXPIRED time-travel snapshots — along with Spark's
    ``_SUCCESS``/CRC markers, emptied commit directories, and the expired
    snapshot manifests themselves.

    ``older_than_seconds`` is both the snapshot-retention window (history
    versions older than it stop being time-travelable, like Delta VACUUM's
    retention) and the safety window for concurrent writers (an in-flight
    commit has written files not yet published in any manifest). The
    current version is never expired. Returns ``{"removed": [...],
    "expired_versions": [...], "retained_recent": n, "dry_run": ...}``.
    """
    m = catalog.meta(collection, database)
    cdir = catalog._coll_dir(collection, database)
    live = set(m.files)
    live_shards = set(m.d.get("stats_files") or []) | set(
        m.d.get("bloom_files") or []
    )
    now = time.time()
    expired_versions: list[int] = []
    hdir = os.path.join(cdir, "history")
    if os.path.isdir(hdir):
        for fn in sorted(os.listdir(hdir)):
            if not (fn.startswith("v") and fn.endswith(".json")):
                continue
            p = os.path.join(hdir, fn)
            ver = int(fn[1:-5])
            try:
                fresh = now - os.path.getmtime(p) < older_than_seconds
            except OSError:
                continue
            if ver == m.version or fresh:
                # retained snapshot: every file it references stays live
                with open(p) as fh:
                    snap = json.load(fh)
                live.update(snap.get("files", []))
                live_shards.update(snap.get("stats_files") or [])
                live_shards.update(snap.get("bloom_files") or [])
            else:
                expired_versions.append(ver)
                if not dry_run:
                    try:
                        os.remove(p)
                    except OSError:
                        pass
    data_root = os.path.join(cdir, "data")
    removed: list[str] = []
    retained = 0
    if os.path.isdir(data_root):
        for root, _dirs, files in os.walk(data_root, topdown=False):
            for fn in files:
                p = os.path.join(root, fn)
                rel = os.path.relpath(p, cdir)
                if rel in live:
                    continue
                # only clean what a Spark parquet write produces
                if not (
                    fn.endswith(".parquet")
                    or fn.startswith("_")
                    or fn.endswith(".crc")
                ):
                    continue
                try:
                    if now - os.path.getmtime(p) < older_than_seconds:
                        retained += 1
                        continue
                except OSError:
                    continue
                if not dry_run:
                    try:
                        os.remove(p)
                    except OSError:
                        continue
                removed.append(rel)
            if not dry_run and root != data_root and not os.listdir(root):
                try:
                    os.rmdir(root)
                except OSError:
                    pass
    # stats/bloom sidecar shards referenced by no retained snapshot expire
    # with the snapshots that pointed at them
    for family in ("stats", "blooms"):
        sdir = os.path.join(cdir, family)
        if not os.path.isdir(sdir):
            continue
        for fn in os.listdir(sdir):
            rel = os.path.join(family, fn)
            if rel in live_shards or not fn.endswith(".json"):
                continue
            p = os.path.join(sdir, fn)
            try:
                if now - os.path.getmtime(p) < older_than_seconds:
                    retained += 1
                    continue
            except OSError:
                continue
            if not dry_run:
                try:
                    os.remove(p)
                except OSError:
                    continue
            removed.append(rel)
    return {
        "removed": sorted(removed),
        "expired_versions": expired_versions,
        "retained_recent": retained,
        "dry_run": dry_run,
    }
