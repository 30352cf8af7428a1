#!/usr/bin/env python
"""Phase-level wall-clock attribution for the composed warehouse operators
(the five slowest bench keys per the r12 verdict: ann_index_build,
ann_ivfpq_build, ann_index_topk, warehouse_ingest,
dml_delete_update_roundtrip).

Monkeypatches timers around the phases of the insert/commit path (the
file write both as the driver-side ``write_local_parquet`` and as Spark's
``DataFrameWriter.parquet``) and runs each composed op the way bench.py
does, printing a per-phase breakdown so the optimization targets the
measured cost, not a guess (guide §1).
"""

from __future__ import annotations

import functools
import os
import sys
import time
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PHASES: dict[str, float] = defaultdict(float)
CALLS: dict[str, int] = defaultdict(int)


def timed(label, obj, name, patch=setattr):
    fn = getattr(obj, name)

    @functools.wraps(fn)
    def wrap(*a, **kw):
        t0 = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            PHASES[label] += time.perf_counter() - t0
            CALLS[label] += 1

    patch(obj, name, wrap)
    return fn


def install_timers(patch=setattr) -> None:
    """Wrap the phases of the insert/commit path with timers (outermost
    first so nesting is visible). ``patch`` sets each wrapper in place."""
    from pyspark.sql.readwriter import DataFrameWriter

    import xcube_geodb_spark.catalog as cat_mod
    import xcube_geodb_spark.operators.dml as dml_mod
    import xcube_geodb_spark.operators.stats as stats_mod

    for label, obj, name in (
        ("commit_version(total)", cat_mod.GeoDBCatalog, "commit_version"),
        ("  apply_clustering(plan)", cat_mod.GeoDBCatalog, "_apply_clustering"),
        # the commit's file write: on the driver for small batches (their
        # collect job runs just before, inside commit_version), a Spark
        # write job for the others
        ("  driver_write.parquet", cat_mod, "write_local_parquet"),
        ("  spark_write.parquet(job)", DataFrameWriter, "parquet"),
        ("  file_column_stats(footer)", stats_mod, "file_column_stats"),
        ("  atomic_json_write", cat_mod, "_atomic_write_json"),
        ("prepare_values_df", dml_mod, "prepare_values_df"),
        # dml calls these by the names it imported
        ("assign_ids(count job+plan)", dml_mod, "assign_sequential_ids_counted"),
        ("assign_ids+size(count job+plan)", dml_mod, "assign_sequential_ids_measured"),
        ("small_commit_probe", dml_mod, "fits_driver_write"),
        ("with_envelopes(plan)", dml_mod, "_with_envelopes"),
        ("create_collection", cat_mod.GeoDBCatalog, "create_collection"),
        ("meta(parse)", cat_mod.GeoDBCatalog, "meta"),
        ("noop_save(job)", DataFrameWriter, "save"),
    ):
        timed(label, obj, name, patch)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from xcube_geodb_spark.session import get_spark

    spark = get_spark(app_name="profile_composed")
    spark.range(1000).selectExpr("sum(id)").collect()

    import xcube_geodb_spark.catalog as cat_mod

    install_timers()

    import shutil
    import tempfile

    from xcube_geodb_spark.client import GeoDBSparkClient
    from xcube_geodb_spark.functions import similarity
    from xcube_geodb_spark.operators import dml, spatial
    from xcube_geodb_spark.operators.ann import ann_topk
    from xcube_geodb_spark.suite.geo import _squares
    from xcube_geodb_spark.suite.llm import _query_vector
    from xcube_geodb_spark.suite.util import load
    from xcube_geodb_spark.suite import QUERIES

    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    reps = int(os.environ.get("PROFILE_REPS", "3"))

    def run(name, fn):
        if which not in ("all", name):
            return
        best, bestphases = None, None
        for _ in range(reps):
            PHASES.clear()
            CALLS.clear()
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            if best is None or dt < best:
                best, bestphases = dt, (dict(PHASES), dict(CALLS))
        ph, ca = bestphases
        print(f"\n=== {name}: total {best:.3f}s (best of {reps}) ===")
        accounted = 0.0
        for label in sorted(ph, key=ph.get, reverse=True):
            print(f"  {ph[label]:7.3f}s  x{ca[label]:<3d} {label}")
            if not label.startswith(" "):
                accounted += ph[label]
        print(f"  ({best - accounted:.3f}s unattributed driver/py4j/other)")

    def warehouse_ingest():
        src = _squares(spark, sf_dir).select("geometry", "c_acctbal", "h")
        wh = tempfile.mkdtemp(prefix="prof_wh_")
        try:
            catalog = cat_mod.GeoDBCatalog(spark, wh, user="bench")
            catalog.create_database("bench")
            catalog.create_collection(
                "squares", {"c_acctbal": "float", "h": "float"}, crs=4326,
                database="bench",
            )
            dml.insert_into_collection(
                catalog, "squares", src, database="bench"
            )
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    def ann_index_build():
        emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        wh = tempfile.mkdtemp(prefix="prof_ann_")
        try:
            c = GeoDBSparkClient(spark, warehouse=wh, user="bench")
            c.create_collection("emb", {"vec_id": "int", "embedding": "float[]"})
            c.create_index("emb", "embedding", kind="lsh", options={"dim": 64})
            c.insert_into_collection("emb", emb)
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    def ann_ivfpq_build():
        emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        wh = tempfile.mkdtemp(prefix="prof_ivfpq_")
        try:
            c = GeoDBSparkClient(spark, warehouse=wh, user="bench")
            seeds = similarity.seed_vectors(emb, 8)
            cents = similarity.seed_centroids(emb, n_centroids=8, seeds=seeds)
            books = similarity.pq_codebooks(
                emb, n_subspaces=8, n_centroids=8, seeds=seeds
            )
            c.create_collection("emb", {"vec_id": "int", "embedding": "float[]"})
            c.create_index(
                "emb", "embedding", kind="ivfpq",
                options={"centroids": cents, "codebooks": books},
            )
            c.insert_into_collection("emb", emb)
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    def ann_topk_suite():
        QUERIES["ann_index_topk"](spark, sf_dir).write.mode(
            "overwrite"
        ).format("noop").save()

    def dml_roundtrip():
        QUERIES["dml_delete_update_roundtrip"](spark, sf_dir).write.mode(
            "overwrite"
        ).format("noop").save()

    run("warehouse_ingest", warehouse_ingest)
    run("ann_index_build", ann_index_build)
    run("ann_ivfpq_build", ann_ivfpq_build)
    run("ann_index_topk", ann_topk_suite)
    run("dml_delete_update_roundtrip", dml_roundtrip)


if __name__ == "__main__":
    main()
