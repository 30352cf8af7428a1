"""ANN probe operators that prune data files at rest.

The reference has no vector search (it delegates spatial indexing to GIST,
``xcube_geodb/sql/geodb.sql:1441-1510``); this is the LLM-pipeline
extension: an ``lsh``/``ivf`` index declaration makes the catalog persist a
physical-only ``__annbucket`` column and range-cluster data files by it
(catalog._apply_clustering). A probe then:

1. computes the query's bucket / probe-centroid ids driver-side (no job),
2. keeps only manifest files whose parquet-footer ``__annbucket`` min/max
   admits those ids (``operators/pruning.py`` — conservative, never drops a
   candidate), and
3. runs the exact in-bucket filter + cosine top-k on the surviving files.

At 100 TB step 2 is the point: a 256-bucket LSH layout turns a full-table
scan into ~1/256 of the files before any Spark job starts; IVF with
``n_probe`` of ``n_centroids`` lists reads ``n_probe/n_centroids`` of them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from xcube_geodb_spark.catalog import GeoDBCatalog
from xcube_geodb_spark.errors import GeoDBError
from xcube_geodb_spark.functions.similarity import (
    bucket_of,
    ivf_topk_seeded,
    lsh_hyperplanes,
    lsh_multitable_topk,
    lsh_probe_buckets,
    probe_ids,
)
from xcube_geodb_spark.operators.pruning import split_files_by_constraints


def _ann_index(m, collection: str, database: str) -> dict:
    idx = next(
        (
            i
            for i in m.d.get("indexes", [])
            if i["type"] in ("lsh", "ivf", "ivfpq")
        ),
        None,
    )
    if idx is None:
        raise GeoDBError(
            f"Collection {database}_{collection} has no lsh/ivf/ivfpq index"
        )
    return idx


def ann_probe_files(
    catalog: GeoDBCatalog,
    collection: str,
    query_vector: list[float],
    database: str = "public",
    n_probe: int = 2,
    meta=None,
    lsh_n_probe: int = 1,
) -> tuple[list[str], list[str]]:
    """(touched, pruned) manifest files for a query vector — footer-stat
    pruning only, no Spark job. Exposed for tests and EXPLAIN-style
    introspection. ``meta`` reuses an already-read manifest.
    ``n_probe`` is the ivf/ivfpq coarse-list count; ``lsh_n_probe``
    controls multi-probe LSH separately (default 1 = the classic
    own-bucket probe) so the two index families keep independent
    defaults."""
    m = meta if meta is not None else catalog.meta(collection, database)
    idx = _ann_index(m, collection, database)
    paths = catalog.manifest_paths(collection, database, meta=m)
    if idx["type"] == "lsh":
        hp = lsh_hyperplanes(
            int(idx["dim"]), int(idx.get("n_bits", 8)), int(idx.get("seed", 42))
        )
        if lsh_n_probe > 1:
            # multi-probe LSH: the base bucket + lowest-margin bit flips
            buckets = lsh_probe_buckets(query_vector, hp, lsh_n_probe)
            constraints = [("__annbucket", "in", buckets)]
        else:
            constraints = [
                ("__annbucket", "eq", bucket_of(query_vector, hp))
            ]
    else:  # ivf and ivfpq share the coarse-quantizer probe
        probes = probe_ids(query_vector, idx["centroids"], n_probe)
        constraints = [("__annbucket", "in", [int(p) for p in probes])]
    return split_files_by_constraints(
        paths, ["__annbucket"], constraints, meta=m
    )


def ann_topk(
    catalog: GeoDBCatalog,
    collection: str,
    query_vector: list[float],
    k: int = 20,
    database: str = "public",
    n_probe: int = 2,
    id_col: str = "id",
    lsh_n_probe: int = 1,
) -> DataFrame:
    """Top-k cosine neighbors via the declared ANN index, scanning only the
    files whose at-rest bucket range admits the probe. File pruning is
    conservative (a file spanning several buckets survives), so the exact
    bucket/centroid filter is re-applied row-wise on the survivors.

    The manifest is read ONCE per probe and shared across index lookup,
    file pruning, and the scan — probe latency pays one metadata read plus
    the footer checks, nothing else driver-side.

    NOTE: the ``lsh`` index is ONE hyperplane table, probed as
    :func:`~xcube_geodb_spark.functions.similarity.lsh_multitable_topk`
    with ``tables=[hp]``; a single table carries the recall ceiling
    documented there (0.12-0.18 on weakly structured corpora even with
    the full Hamming-1 ring). For production LSH recall use the at-rest
    multitable pair :func:`build_lsh_tables_collection` /
    :func:`ann_lsh_tables_topk` (measured 0.91), or an ivf/ivfpq
    index."""
    m = catalog.meta(collection, database)
    idx = _ann_index(m, collection, database)
    prop = idx["property"]
    touched, _pruned = ann_probe_files(
        catalog, collection, query_vector, database, n_probe, meta=m,
        lsh_n_probe=lsh_n_probe,
    )
    sub = catalog.load_files(collection, database, touched, meta=m)
    if idx["type"] == "lsh":
        hp = lsh_hyperplanes(
            int(idx["dim"]), int(idx.get("n_bits", 8)), int(idx.get("seed", 42))
        )
        return lsh_multitable_topk(
            sub, query_vector, k, vec_col=prop, id_col=id_col,
            tables=[hp], n_probe=lsh_n_probe,
        )
    return ivf_topk_seeded(
        sub,
        query_vector,
        idx["centroids"],
        k=k,
        n_probe=n_probe,
        vec_col=prop,
        id_col=id_col,
    )


def ann_ivfpq_topk(
    catalog: GeoDBCatalog,
    collection: str,
    query_vector: list[float],
    k: int = 20,
    database: str = "public",
    n_probe: int = 2,
    id_col: str = "id",
) -> DataFrame:
    """Composed IVF-PQ probe — the realistic 100 TB vector-search layout:

    1. the coarse quantizer prunes whole data files from manifest footer
       stats (``__annbucket`` min/max vs the ``n_probe`` nearest centroid
       ids — no Spark job),
    2. the surviving files are read with an explicit 3-column schema
       ``(id, __annbucket, __pqcode)`` — the raw embedding column never
       leaves parquet (at dim 64 float32 vs m=8 int8-sized codes that is
       a ~32x scan-byte reduction on the probed lists),
    3. rows are re-filtered to the probed lists exactly (file pruning is
       conservative), and ADC top-k scores the m-byte codes against the
       query's driver-side distance table (:func:`pq_topk`; for a
       ``residual: true`` index, :func:`pq_topk_residual` builds one
       table per probed list from ``q - centroid[list]`` — IVFADC).

    Returns ``(id_col, dist_adc)`` ascending. Approximate by design (PQ
    quantization error); recall vs the exact scan is covered in
    tests/test_ann_layout.py."""
    from pyspark.sql import functions as F, types as T

    from xcube_geodb_spark.functions.similarity import (
        pq_topk,
        pq_topk_residual,
    )

    m = catalog.meta(collection, database)
    idx = _ann_index(m, collection, database)
    if idx["type"] != "ivfpq":
        raise GeoDBError(
            f"Collection {database}_{collection} has no ivfpq index"
        )
    probes = probe_ids(query_vector, idx["centroids"], n_probe)
    touched, _pruned = ann_probe_files(
        catalog, collection, query_vector, database, n_probe, meta=m
    )
    declared = {f.name: f.dataType for f in m.spark_schema()}
    if id_col not in declared:
        raise GeoDBError(f"Unknown id column {id_col!r}")
    probe_schema = T.StructType(
        [
            T.StructField(id_col, declared[id_col], True),
            T.StructField("__annbucket", T.IntegerType(), True),
            T.StructField(
                "__pqcode", T.ArrayType(T.IntegerType()), True
            ),
        ]
    )
    paths = catalog.manifest_paths(collection, database, meta=m)
    if not touched:
        return catalog.spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(id_col, declared[id_col], True),
                    T.StructField("dist_adc", T.DoubleType(), True),
                ]
            ),
        )
    sub = catalog.spark.read.schema(probe_schema).parquet(
        *[paths[f] for f in touched]
    )
    cand = sub.filter(F.col("__annbucket").isin([int(p) for p in probes]))
    if idx.get("residual"):
        return pq_topk_residual(
            cand,
            query_vector,
            idx["codebooks"],
            idx["centroids"],
            [int(p) for p in probes],
            k=k,
            code_col="__pqcode",
            id_col=id_col,
            bucket_col="__annbucket",
        )
    return pq_topk(
        cand,
        query_vector,
        idx["codebooks"],
        k=k,
        code_col="__pqcode",
        id_col=id_col,
    )


def ann_ivfpq_topk_refined(
    catalog: GeoDBCatalog,
    collection: str,
    query_vector: list[float],
    k: int = 20,
    database: str = "public",
    n_probe: int = 2,
    id_col: str = "id",
    expand: int = 20,
    cand_extra_lists: int = 1,
) -> DataFrame:
    """Two-stage IVF-PQ probe with exact re-ranking — the standard recipe
    that recovers exact-metric ordering at PQ scan cost:

    1. ADC over the code-only scan selects ``k * expand`` candidates
       (:func:`ann_ivfpq_topk` — file-pruned, never reads embeddings).
       The candidate stage probes ``n_probe + cand_extra_lists`` coarse
       lists: code bytes are ~32x smaller than raw vectors, so widening
       the CANDIDATE scan is nearly free while it lifts the coarse recall
       ceiling the exact re-rank can reach (the raw-vector read below
       stays bounded by the candidate id list either way),
    2. ONLY those candidate rows' raw embeddings are read back (an
       ``id IN (...)`` point-lookup over the probed files — pushed to the
       parquet scan, and one footer-pruned file on an id-clustered
       layout) and exact cosine re-ranks them to the final k.

    The candidate id list is k*expand values — driver-sized by
    construction. The ``expand`` default (20) is recall-tuned: on the
    structure-free sf0.1 fixture ADC ordering is noisy enough that true
    neighbors routinely rank 100-200th among ~1900 probed rows, so
    expand=10 measured recall@10 0.70/0.56 (raw/residual) while
    expand=20 measures 0.82/0.77 — and the extra cost is only a wider
    IN-list point lookup, not a wider scan. Returns
    ``(id_col, cos_sim)`` descending."""
    from pyspark.sql import functions as F

    from xcube_geodb_spark.functions.similarity import _cosine_topk_jvm

    if expand < 1:
        raise GeoDBError("expand must be >= 1")
    n_probe_cand = n_probe + max(0, int(cand_extra_lists))
    cand = ann_ivfpq_topk(
        catalog, collection, query_vector, k=k * expand,
        database=database, n_probe=n_probe_cand, id_col=id_col,
    )
    ids = [r[id_col] for r in cand.collect()]
    m = catalog.meta(collection, database)
    idx = _ann_index(m, collection, database)
    touched, _ = ann_probe_files(
        catalog, collection, query_vector, database, n_probe_cand, meta=m
    )
    rows = catalog.load_files(collection, database, touched, meta=m).filter(
        F.col(id_col).isin(ids)
    )
    return _cosine_topk_jvm(
        rows, query_vector, k, vec_col=idx["property"], id_col=id_col
    )


# ---------------------------------------------------------------------------
# At-rest MULTI-TABLE LSH: a compact (table, bucket, id) postings
# collection — the standard multi-table layout (one index per hyperplane
# set, union of per-table candidates) re-expressed warehouse-native.
# Postings are range-clustered by the composite table<<bits|bucket key, so
# a probe reads a strict file subset of the POSTINGS (L * n_probe point
# ranges), and only the candidate ids' vectors are fetched from the data
# collection. Storage cost is L small integer rows per vector — the
# vectors themselves are never duplicated (FAISS's multi-table tradeoff,
# minus the vector copies).
# ---------------------------------------------------------------------------


def _lsh_tables_postings(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    n_bits: int,
    n_tables: int,
    seed: int,
    dim: int,
) -> DataFrame:
    from pyspark.sql import functions as F

    from xcube_geodb_spark.functions.similarity import (
        _to_double,
        lsh_table_hyperplanes,
        rotation_bucket,
    )

    tabs = lsh_table_hyperplanes(dim, n_bits, n_tables, seed)
    v = _to_double(F.col(vec_col))
    staged = vectors.select(F.col(id_col), v.alias("__v"))
    tbs = F.array(
        *[
            (
                F.lit(t * (1 << n_bits))
                + F.conv(rotation_bucket("__v", hp), 2, 10).cast("int")
            )
            for t, hp in enumerate(tabs)
        ]
    )
    return staged.select(
        F.col(id_col).cast("long").alias(id_col), tbs.alias("__tbs")
    ).select(
        id_col, F.explode("__tbs").alias("tb")
    )


def build_lsh_tables_collection(
    catalog: GeoDBCatalog,
    name: str,
    vectors: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    database: str = "public",
    n_bits: int = 4,
    n_tables: int = 16,
    seed: int = 42,
    max_file_rows: int | None = None,
) -> None:
    """Materialize the multi-table LSH postings as a warehouse collection
    range-clustered by the composite ``tb`` key (btree index), with the
    table parameters in the collection metadata — committed atomically
    with the postings. One JVM-codegen pass computes all L bucket ids;
    the shuffle is the range-clustering exchange on ``tb`` only."""
    from xcube_geodb_spark.admin import IndexManager
    from xcube_geodb_spark.operators.dml import insert_into_collection

    catalog.create_collection(
        name, {id_col: "bigint", "tb": "int"}, database=database
    )
    if max_file_rows is not None:
        catalog.commit_meta_change(
            name,
            database,
            lambda m: {"max_file_rows": int(max_file_rows)},
            operation="SET TBLPROPERTIES",
        )
    IndexManager(catalog).create_index(name, "tb", database, kind="btree")
    insert_into_collection(
        catalog,
        name,
        _lsh_tables_postings(
            vectors, id_col, vec_col, n_bits, n_tables, seed, dim
        ),
        database=database,
        merge_meta={
            "lsh_tables": {
                "dim": int(dim),
                "n_bits": int(n_bits),
                "n_tables": int(n_tables),
                "seed": int(seed),
            }
        },
    )


def extend_lsh_tables_collection(
    catalog: GeoDBCatalog,
    name: str,
    new_vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    database: str = "public",
) -> None:
    """Incrementally index a new vector batch: new ids make the postings
    disjoint, so they APPEND (same protocol as extend_bm25_collection);
    at-rest tb clustering degrades as appends interleave —
    optimize_collection restores it without changing any result."""
    from xcube_geodb_spark.operators.dml import insert_into_collection

    m = catalog.meta_for_write(name, database)
    params = m.d.get("lsh_tables") or {}
    if not params:
        raise GeoDBError(
            f"Collection {database}_{name} carries no lsh_tables metadata"
        )
    insert_into_collection(
        catalog,
        name,
        _lsh_tables_postings(
            new_vectors, id_col, vec_col,
            int(params["n_bits"]), int(params["n_tables"]),
            int(params["seed"]), int(params["dim"]),
        ),
        database=database,
        expected_version=m.version,
    )


def ann_lsh_tables_topk(
    catalog: GeoDBCatalog,
    index_collection: str,
    data: DataFrame,
    query_vector: list[float],
    k: int = 20,
    database: str = "public",
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k via the at-rest multi-table postings: the probe's
    ``L * n_probe`` bucket keys turn into one file-pruned postings scan
    (``tb IN (...)`` reaches the manifest stats AND the parquet footers
    on the range-clustered layout), candidate ids join back to the data
    frame, exact cosine re-ranks. Result equals
    ``lsh_multitable_topk(data, q)`` by construction — the same
    candidates, computed from postings instead of a full scan."""
    from pyspark.sql import functions as F

    from xcube_geodb_spark.functions.similarity import (
        _cosine_topk_jvm,
        lsh_probe_buckets,
        lsh_table_hyperplanes,
    )
    from xcube_geodb_spark.operators.scan import get_collection

    m = catalog.meta(index_collection, database)
    params = m.d.get("lsh_tables") or {}
    if not params:
        raise GeoDBError(
            f"Collection {database}_{index_collection} carries no "
            "lsh_tables metadata"
        )
    n_bits = int(params["n_bits"])
    tabs = lsh_table_hyperplanes(
        int(params["dim"]), n_bits, int(params["n_tables"]),
        int(params["seed"]),
    )
    keys: list[int] = []
    for t, hp in enumerate(tabs):
        for b in lsh_probe_buckets(query_vector, hp, n_probe):
            keys.append(t * (1 << n_bits) + int(b, 2))
    cand = get_collection(
        catalog,
        index_collection,
        f"tb=in.({','.join(str(x) for x in sorted(set(keys)))})"
        f"&select={id_col}",
        database=database,
    ).distinct()
    rows = data.join(cand, on=id_col, how="leftsemi")
    return _cosine_topk_jvm(rows, query_vector, k, vec_col, id_col)
