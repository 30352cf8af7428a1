"""LLM-pipeline queries: dedup, similarity search, text analysis,
multimodal plumbing — the BASELINE.json north-star extensions, each with a
DuckDB oracle that replays the identical md5-based math in ANSI SQL.

The documents table has no natural duplicates, so dedup queries operate on
a deterministically AUGMENTED corpus built the same way on both sides:
exact copies of every 10th doc and a near-duplicate (tail-appended) copy of
every 7th doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xcube_geodb_spark.functions import dedup, similarity, text
from xcube_geodb_spark.functions.multimodal import attach_binary_payload, decode_features
from xcube_geodb_spark.suite.util import load

# --- augmented corpus (identical in Spark and SQL) -------------------------

_NEAR_TAIL = " zz extra tail words appended"


def _augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    exact = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    near = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_NEAR_TAIL)).alias("text"),
    )
    return docs.unionByName(exact).unionByName(near)


_AUG_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 2000000, text || '{_NEAR_TAIL}' FROM documents WHERE doc_id % 7 = 0
"""

# --- dedup ------------------------------------------------------------------


def dedup_exact(spark, sf_dir):
    return dedup.exact_duplicates(_augmented(spark, sf_dir))


def dedup_minhash_pairs(spark, sf_dir):
    return dedup.minhash_candidate_pairs(_augmented(spark, sf_dir))


def dedup_jaccard_verified(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_augmented(spark, sf_dir), threshold=0.5)


def dedup_simhash(spark, sf_dir):
    return dedup.simhash_buckets(_augmented(spark, sf_dir))


def dedup_pipeline_kept(spark, sf_dir):
    """End-to-end dedup (LSH -> Jaccard verify -> connected components ->
    keep min per cluster). Oracle: DuckDB ``WITH RECURSIVE`` transitive
    closure over the verified pairs, kept = ids that are the minimum of
    their component."""
    kept = dedup.dedup_pipeline(_augmented(spark, sf_dir), jaccard_threshold=0.5)
    return kept.select("doc_id")


def dedup_simhash_near(spark, sf_dir):
    """SimHash near-dup pairs at Hamming distance <= 2 via the pigeonhole
    block join — a COMPLETE cover (unlike probabilistic MinHash banding),
    so the oracle is simply every fingerprint pair within distance 2."""
    return dedup.simhash_near_pairs(
        _augmented(spark, sf_dir), bits=16, max_hamming=2
    )


def dedup_duplicate_spans(spark, sf_dir):
    """Duplicate-span detection (ExactSubstr-lite): 20-token windows at
    stride 10 hashed corpus-wide; occurrences of repeated windows flagged.
    The augmented copies guarantee shared passages."""
    return dedup.duplicate_spans(
        _augmented(spark, sf_dir), n=20, stride=10, min_count=2
    )


def text_bigram_nll(spark, sf_dir):
    """Interpolated-bigram NLL quality signal (functions/text.bigram_logprob)
    under the corpus's own model; oracle replays counts + the fixed float
    interpolation expression + decimal surprisal sums."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return text.bigram_logprob(docs)


def text_fuzzy_join(spark, sf_dir):
    """Similarity join between two frames (record linkage): originals vs
    the near-duplicate copies, LSH banding then exact Jaccard >= 0.4."""
    aug = _augmented(spark, sf_dir)
    return dedup.fuzzy_join(
        aug.filter(F.col("doc_id") < 1000000),
        aug.filter(F.col("doc_id") >= 2000000),
        threshold=0.4,
    )


def _lined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augmented docs re-laid-out as newline-separated 10-token lines, so
    the synthetic corpus (which has no newlines) exercises line-level
    dedup: duplicated/near-duplicated docs share exact lines.

    The explicit repartition sizes the CPU-dense re-lining (split /
    slice / concat per token) to the full core count: Spark sizes scan
    splits by INPUT bytes, and compressed text is ~x00 CPU-ops per
    input byte, so a ~25 MB scan otherwise fans to 6 openCost-floored
    splits and runs 6-wide on 32 cores (measured 3.5x end-to-end on the
    10x anchor: 5.7 s -> 1.6 s). At 100 TB the input already fans past
    every core and the same shuffle is noise relative to one pass over
    the text."""
    aug = _augmented(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = F.split(F.col("text"), " ")
    n_lines = F.greatest(
        F.ceil(F.size(toks) / F.lit(10.0)).cast("int"), F.lit(1)
    )
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * 10 + 1, 10)),
    )
    return aug.select("doc_id", F.concat_ws("\n", lines).alias("text"))


def dedup_lines_rebuilt(spark, sf_dir):
    """Corpus-level exact line dedup (CCNet/RefinedWeb): lines occurring
    >= 2 times corpus-wide removed, documents rebuilt from survivors."""
    return dedup.line_dedup(_lined(spark, sf_dir), min_count=2)


def dedup_lines_by_source(spark, sf_dir):
    """Per-source line dedup: frequencies count within each source only
    (site boilerplate repeats per site). Augmented copies inherit their
    base document's source, so within-source repeats exist."""
    lined = _lined(spark, sf_dir)
    src = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("__bid"), "source"
    )
    with_src = lined.join(
        src, (F.col("doc_id") % 1000000) == F.col("__bid")
    ).drop("__bid")
    return dedup.line_dedup(with_src, min_count=2, group_cols=["source"])


def dedup_incremental_kept(spark, sf_dir):
    """Incremental dedup of a new batch against an existing corpus: the
    augmented copies (ids >= 1000000) are the new batch, the originals the
    corpus; exact md5 anti-join then LSH + Jaccard-verified near-dup
    anti-join. Returns the surviving new ids."""
    aug = _augmented(spark, sf_dir)
    corpus = aug.filter(F.col("doc_id") < 1000000)
    new = aug.filter(F.col("doc_id") >= 1000000)
    kept = dedup.dedup_against(new, corpus, jaccard_threshold=0.5)
    return kept.select("doc_id")


# shared SQL fragments mirroring functions/text.normalized and
# functions/dedup.shingles
_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)

_SHINGLE_CTES = f"""
    norm AS (SELECT doc_id, {_NORM} AS t FROM aug),
    tok AS (SELECT doc_id, string_split(t, ' ') AS toks, t FROM norm),
    sh AS (
        SELECT doc_id,
               list_distinct(
                   CASE WHEN len(toks) >= 3 THEN
                       list_transform(range(1, len(toks) - 1),
                           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                   ELSE [t] END
               ) AS sh
        FROM tok
    )
"""

_K, _BANDS, _R = 12, 4, 3
# one 32-bit md5 base hash + affine permutations mod the Mersenne prime,
# mirroring dedup.minhash_signatures / dedup._MINHASH_COEFFS exactly
# (all operands < 2^62: BIGINT arithmetic is exact on both engines)
from xcube_geodb_spark.functions.dedup import (  # noqa: E402
    _MINHASH_COEFFS as _MH_AB,
    _MINHASH_P as _MH_P,
)

_SIG_COLS = ", ".join(
    f"list_min(list_transform(sh, s -> ({a} * (CAST(('0x' || "
    f"substr(md5(s), 1, 8)) AS BIGINT) % {_MH_P}) + {b}) % {_MH_P})) AS m{j}"
    for j, (a, b) in enumerate(_MH_AB[:_K])
)
_BAND_SELECTS = " UNION ALL ".join(
    "SELECT doc_id, {b} AS band, md5({parts}) AS band_hash FROM sig".format(
        b=b,
        parts=" || '|' || ".join(
            f"CAST(m{b * _R + r} AS VARCHAR)" for r in range(_R)
        ),
    )
    for b in range(_BANDS)
)

_MINHASH_CTES = f"""
    WITH aug AS ({_AUG_SQL}),
    {_SHINGLE_CTES},
    sig AS (SELECT doc_id, {_SIG_COLS} FROM sh),
    bands AS ({_BAND_SELECTS}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b USING (band, band_hash)
        WHERE a.doc_id < b.doc_id
    )
"""

_SIMHASH_BITS = 16
_VOTE_COLS = ", ".join(
    f"sum(CASE WHEN substr(md5(tok), {b + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS s{b}"
    for b in range(_SIMHASH_BITS)
)
_FP_CONCAT = " || ".join(
    f"CASE WHEN s{b} >= 0 THEN '1' ELSE '0' END" for b in range(_SIMHASH_BITS)
)

LLM_DEDUP_ORACLES = {
    # keep min doc_id per identical text; ids were assigned in doc_id
    # order, so the collection's min-id keeper is the min-doc_id keeper
    "dedup_collection_roundtrip": f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id FROM (
            SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS k
            FROM ({_AUG_SQL})
        ) WHERE doc_id = k
    """,
    "dedup_exact": f"""
        WITH aug AS ({_AUG_SQL})
        SELECT md5(text) AS fingerprint, min(doc_id) AS keeper_id,
               count(*) AS n_docs
        FROM aug GROUP BY 1 HAVING count(*) > 1
    """,
    "dedup_minhash_pairs": f"{_MINHASH_CTES} SELECT id_a, id_b FROM pairs",
    "dedup_pipeline_kept": f"""
        {_MINHASH_CTES.replace("WITH aug", "WITH RECURSIVE aug", 1)},
        verified AS (
            SELECT id_a, id_b FROM (
                SELECT id_a, id_b,
                       len(list_intersect(a.sh, b.sh)) * 1.0 /
                       len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
                FROM pairs
                JOIN sh a ON a.doc_id = id_a
                JOIN sh b ON b.doc_id = id_b
            ) WHERE jaccard >= 0.5
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM verified
            UNION
            SELECT id_b AS src, id_a AS dst FROM verified
        ),
        reach AS (
            SELECT src AS id, dst AS r FROM edges
            UNION
            SELECT rr.id, e.dst AS r FROM reach rr JOIN edges e ON e.src = rr.r
        ),
        losers AS (SELECT id FROM reach GROUP BY id HAVING min(r) < id)
        SELECT doc_id FROM aug WHERE doc_id NOT IN (SELECT id FROM losers)
    """,
    "dedup_jaccard_verified": f"""
        {_MINHASH_CTES}
        SELECT id_a, id_b, jaccard FROM (
            SELECT id_a, id_b,
                   round(len(list_intersect(a.sh, b.sh)) * 1.0 /
                         len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
            FROM pairs
            JOIN sh a ON a.doc_id = id_a
            JOIN sh b ON b.doc_id = id_b
        ) WHERE jaccard >= 0.5
    """,
    "dedup_simhash": f"""
        WITH aug AS ({_AUG_SQL}),
        norm AS (SELECT doc_id, {_NORM} AS t FROM aug),
        tokd AS (
            SELECT doc_id, unnest(list_distinct(string_split(t, ' '))) AS tok
            FROM norm
        ),
        votes AS (SELECT doc_id, {_VOTE_COLS} FROM tokd GROUP BY doc_id),
        fp AS (SELECT doc_id, {_FP_CONCAT} AS simhash FROM votes)
        SELECT simhash, min(doc_id) AS keeper_id, count(*) AS n_docs
        FROM fp GROUP BY simhash HAVING count(*) > 1
    """,
    "text_fuzzy_join": f"""
        {_MINHASH_CTES},
        cross_pairs AS (
            SELECT DISTINCT a.doc_id AS idl, b.doc_id AS idr
            FROM bands a JOIN bands b USING (band, band_hash)
            WHERE a.doc_id < 1000000 AND b.doc_id >= 2000000
        )
        SELECT doc_id_l, doc_id_r, jaccard FROM (
            SELECT idl AS doc_id_l, idr AS doc_id_r,
                   round(len(list_intersect(a.sh, b.sh)) * 1.0 /
                         len(list_distinct(list_concat(a.sh, b.sh))), 6)
                       AS jaccard
            FROM cross_pairs
            JOIN sh a ON a.doc_id = idl
            JOIN sh b ON b.doc_id = idr
        ) WHERE jaccard >= 0.4
    """,
    "dedup_duplicate_spans": f"""
        WITH aug AS ({_AUG_SQL}),
        tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM aug),
        anch AS (
            SELECT doc_id, toks,
                   list_filter(range(1, len(toks) + 1),
                       i -> (CAST(('0x' || substr(md5(toks[i]), 1, 8))
                                  AS BIGINT) % 10 = 0) OR i = 1) AS anchors
            FROM tok
        ),
        spans AS (
            SELECT doc_id, CAST(i - 1 AS BIGINT) AS start_tok,
                   md5(array_to_string(
                       list_slice(toks, CAST(i AS INT),
                                  CAST(i + 19 AS INT)), ' ')) AS span_hash
            FROM anch, LATERAL unnest(anchors) AS t(i)
        ),
        freq AS (
            SELECT span_hash, count(*) AS n_occurrences
            FROM spans GROUP BY 1 HAVING count(*) >= 2
        )
        SELECT s.doc_id, s.start_tok, s.span_hash, f.n_occurrences
        FROM spans s JOIN freq f USING (span_hash)
    """,
    "dedup_simhash_near": f"""
        WITH aug AS ({_AUG_SQL}),
        norm AS (SELECT doc_id, {_NORM} AS t FROM aug),
        tokd AS (
            SELECT doc_id, unnest(list_distinct(string_split(t, ' '))) AS tok
            FROM norm
        ),
        votes AS (SELECT doc_id, {_VOTE_COLS} FROM tokd GROUP BY doc_id),
        fp AS (SELECT doc_id, {_FP_CONCAT} AS simhash FROM votes)
        SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_filter(range(1, 17),
                       i -> a.simhash[i] <> b.simhash[i])) AS hamming
            FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        ) WHERE hamming <= 2
    """,
    "dedup_lines_rebuilt": f"""
        WITH aug AS ({_AUG_SQL}),
        lined AS (
            SELECT doc_id,
                   array_to_string(list_transform(
                       range(0, greatest(
                           CAST(ceil(len(toks) / 10.0) AS BIGINT), 1)),
                       i -> array_to_string(
                           list_slice(toks, CAST(i * 10 + 1 AS INT),
                                      CAST(i * 10 + 10 AS INT)), ' ')),
                       chr(10)) AS text
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM aug)
        ),
        l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined),
        lines AS (
            SELECT doc_id, ls[i] AS line, i AS pos, len(ls) AS n_total
            FROM l, LATERAL unnest(range(1, len(ls) + 1)) AS t(i)
        ),
        freq AS (SELECT md5(line) AS h, count(*) AS c FROM lines GROUP BY 1),
        kept AS (
            SELECT doc_id, line, pos, n_total
            FROM lines JOIN freq ON md5(line) = h WHERE c < 2
        )
        SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
               count(*) AS n_lines,
               CAST(any_value(n_total) - count(*) AS BIGINT) AS n_removed
        FROM kept GROUP BY doc_id
    """,
    "dedup_lines_by_source": f"""
        WITH aug AS ({_AUG_SQL}),
        aug2 AS (
            SELECT a.doc_id, a.text, d.source
            FROM aug a JOIN documents d ON a.doc_id % 1000000 = d.doc_id
        ),
        lined AS (
            SELECT doc_id, source,
                   array_to_string(list_transform(
                       range(0, greatest(
                           CAST(ceil(len(toks) / 10.0) AS BIGINT), 1)),
                       i -> array_to_string(
                           list_slice(toks, CAST(i * 10 + 1 AS INT),
                                      CAST(i * 10 + 10 AS INT)), ' ')),
                       chr(10)) AS text
            FROM (SELECT doc_id, source, string_split(text, ' ') AS toks
                  FROM aug2)
        ),
        l AS (SELECT doc_id, source, string_split(text, chr(10)) AS ls
              FROM lined),
        lines AS (
            SELECT doc_id, source, ls[i] AS line, i AS pos,
                   len(ls) AS n_total
            FROM l, LATERAL unnest(range(1, len(ls) + 1)) AS t(i)
        ),
        freq AS (
            SELECT source, md5(line) AS h, count(*) AS c
            FROM lines GROUP BY 1, 2
        ),
        kept AS (
            SELECT doc_id, line, pos, n_total
            FROM lines JOIN freq
              ON freq.source = lines.source AND md5(line) = h
            WHERE c < 2
        )
        SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
               count(*) AS n_lines,
               CAST(any_value(n_total) - count(*) AS BIGINT) AS n_removed
        FROM kept GROUP BY doc_id
    """,
    "dedup_incremental_kept": f"""
        {_MINHASH_CTES},
        exact_removed AS (
            SELECT DISTINCT doc_id FROM aug
            WHERE doc_id >= 1000000 AND md5(text) IN
                  (SELECT md5(text) FROM aug WHERE doc_id < 1000000)
        ),
        cross_pairs AS (
            SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_corpus
            FROM bands a JOIN bands b USING (band, band_hash)
            WHERE a.doc_id >= 1000000 AND b.doc_id < 1000000
              AND a.doc_id NOT IN (SELECT doc_id FROM exact_removed)
        ),
        near_removed AS (
            SELECT DISTINCT id_new AS doc_id FROM cross_pairs
            JOIN sh a ON a.doc_id = id_new
            JOIN sh b ON b.doc_id = id_corpus
            WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
                  len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
        )
        SELECT doc_id FROM aug
        WHERE doc_id >= 1000000
          AND doc_id NOT IN (SELECT doc_id FROM exact_removed)
          AND doc_id NOT IN (SELECT doc_id FROM near_removed)
    """,
}

# --- similarity ---------------------------------------------------------------


def _query_vector(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .collect()[0]
    )
    return [float(v) for v in row["embedding"]]


def dedup_embedding_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs. The embeddings table has no
    natural near-dups, so every 10th vector is duplicated scaled by 1.01
    (cosine-invariant) on both sides; sign-LSH bucketing bounds the join."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    scaled = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 10 == 0)
        .select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.transform(
                F.col("embedding"), lambda x: x.cast("double") * 1.01
            ).alias("embedding"),
        )
    )
    aug = emb.unionByName(scaled)
    return similarity.pairwise_cosine_above(aug, 0.99, hyperplanes=_HP)


def dedup_semantic_kept(spark, sf_dir):
    """SemDeDup (functions/dedup.semantic_dedup — Abbas et al. 2023):
    k-means cluster + within-cluster greedy lowest-id-first cosine
    pruning. Fixture: each customer gets the one-hot vector of its
    group (custkey % 25); even custkeys instead get the mixed direction
    (e_g + e_{g+25}), whose cosine against the base one-hot is exactly
    1/sqrt(2) < 0.95, so parity forms its own kept class. Identical
    vectors always land in the same k-means cluster (same argmax), so
    the closed form is exact whatever the trained centroids: one
    survivor — the min custkey — per (group, parity) class, and nothing
    else ever crosses the threshold (cross-class cosines are 0 or
    1/sqrt(2))."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("vec_id")
    )
    g = (F.col("vec_id") % 25).cast("int")
    even = (F.col("vec_id") % 2) == 0
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(49)),
        lambda i: (
            F.when(i == g, F.lit(1.0)).otherwise(F.lit(0.0))
            + F.when(even & (i == (g + 25)), F.lit(1.0)).otherwise(
                F.lit(0.0)
            )
        ).cast("double"),
    )
    df = c.select("vec_id", vec.alias("embedding"))
    kept = dedup.semantic_dedup(
        df, threshold=0.95, n_clusters=8, sample_size=10000
    )
    return kept.orderBy("vec_id")


LLM_DEDUP_ORACLES["dedup_semantic_kept"] = """
    SELECT min(c_custkey) AS vec_id
    FROM customer
    GROUP BY c_custkey % 25, c_custkey % 2
    ORDER BY vec_id
"""


def sim_cosine_topk(spark, sf_dir):
    """Exact cosine top-k over the full corpus (similarity.cosine_topk):
    the library picks its scorer from the optimizer's size estimate —
    the JVM expression on a corpus it proves tiny (sf0.1), the Arrow
    numpy scan at corpus scale. Both return identical rows on this
    corpus (every vector non-null, >= k rows; pinned in
    tests/test_functions.py and by the DuckDB oracle at every SF)."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, _query_vector(spark, sf_dir), k=20)


def sim_matryoshka_topk(spark, sf_dir):
    """Truncated-dimension (MRL-style) cosine top-k: score on the first
    16 of 64 components — the cheap first pass of a prefix-column
    funnel at corpus scale (similarity.cosine_topk_truncated). The
    oracle slices the same prefix with DuckDB 1-based list slicing."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_truncated(
        emb, _query_vector(spark, sf_dir), k=20, dims=16
    )


def sim_matryoshka_funnel(spark, sf_dir):
    """The composed MRL funnel: top-100 candidates by 16-dim PREFIX
    cosine, exact 64-dim rerank to top-20
    (similarity.cosine_topk_funnel — candidate join broadcasts, rerank
    is the JVM expression scorer). Deterministic end-to-end (both
    stages order by the rounded score with id tiebreak), so the oracle
    replays the same two-stage funnel in SQL."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_funnel(
        emb, _query_vector(spark, sf_dir), k=20, dims=16, expand=100
    )


def ann_index_topk(spark, sf_dir):
    """Warehouse ANN end-to-end: lsh-indexed collection -> ingest (files
    range-clustered by the persisted __annbucket) -> probe that prunes data
    files from parquet footers before the scan (operators/ann.py). Logical
    result equals the direct one-table lsh_multitable_topk scan, so the
    same SQL oracle applies."""
    import tempfile

    from xcube_geodb_spark.client import GeoDBSparkClient
    from xcube_geodb_spark.operators.ann import ann_topk

    c = GeoDBSparkClient(
        spark, warehouse=tempfile.mkdtemp(prefix="geodb_ann_"), user="driver"
    )
    c.create_collection("emb", {"vec_id": "int", "embedding": "float[]"})
    c.create_index("emb", "embedding", kind="lsh", options={"dim": 64})
    c.insert_into_collection(
        "emb", load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    out = ann_topk(
        c.catalog, "emb", _query_vector(spark, sf_dir), k=20,
        database="driver", id_col="vec_id",
    )
    return out.select("vec_id", "cos_sim")


def ann_ivfpq_topk(spark, sf_dir):
    """Composed IVF-PQ warehouse ANN (operators/ann.ann_ivfpq_topk): an
    ``ivfpq`` index range-clusters files by coarse-centroid id AND
    persists per-row PQ codes, so the probe prunes files from footer
    stats and then reads ONLY ``(vec_id, __annbucket, __pqcode)`` —
    the raw embedding column never leaves parquet. ADC scores the codes
    against the query's driver-side distance table. Centroids and
    codebooks both seed from the 8 lowest-vec_id vectors, so the oracle
    re-derives the full index relationally."""
    import tempfile

    from xcube_geodb_spark.client import GeoDBSparkClient
    from xcube_geodb_spark.operators.ann import ann_ivfpq_topk as _probe

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seeds = similarity.seed_vectors(emb, 8)
    cents = similarity.seed_centroids(emb, n_centroids=8, seeds=seeds)
    books = similarity.pq_codebooks(
        emb, n_subspaces=8, n_centroids=8, seeds=seeds
    )
    c = GeoDBSparkClient(
        spark, warehouse=tempfile.mkdtemp(prefix="geodb_ivfpq_"), user="driver"
    )
    c.create_collection("emb", {"vec_id": "int", "embedding": "float[]"})
    c.create_index(
        "emb",
        "embedding",
        kind="ivfpq",
        options={"centroids": cents, "codebooks": books},
    )
    c.insert_into_collection("emb", emb)
    return _probe(
        c.catalog,
        "emb",
        _query_vector(spark, sf_dir),
        k=20,
        database="driver",
        n_probe=2,
        id_col="vec_id",
    )


def ann_ivfpq_refined(spark, sf_dir):
    """Two-stage IVF-PQ: ADC top-60 over codes, then exact cosine
    re-ranking of ONLY those 60 candidates' raw vectors (point lookups
    over the probed files) to the final 20
    (operators/ann.ann_ivfpq_topk_refined). The oracle replays ADC
    candidate selection and the exact rerank."""
    import tempfile

    from xcube_geodb_spark.client import GeoDBSparkClient
    from xcube_geodb_spark.operators.ann import ann_ivfpq_topk_refined

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seeds = similarity.seed_vectors(emb, 8)
    cents = similarity.seed_centroids(emb, n_centroids=8, seeds=seeds)
    books = similarity.pq_codebooks(
        emb, n_subspaces=8, n_centroids=8, seeds=seeds
    )
    c = GeoDBSparkClient(
        spark, warehouse=tempfile.mkdtemp(prefix="geodb_ivfpqr_"),
        user="driver",
    )
    c.create_collection("emb", {"vec_id": "int", "embedding": "float[]"})
    c.create_index(
        "emb",
        "embedding",
        kind="ivfpq",
        options={"centroids": cents, "codebooks": books},
    )
    c.insert_into_collection("emb", emb)
    return ann_ivfpq_topk_refined(
        c.catalog,
        "emb",
        _query_vector(spark, sf_dir),
        k=20,
        database="driver",
        n_probe=2,
        id_col="vec_id",
        expand=3,
        # the DuckDB oracle replays ADC candidate selection at EXACTLY
        # n_probe=2 / top-60 — pin the candidate stage to those semantics
        # (the recall-tuned default widens it by one list)
        cand_extra_lists=0,
    ).select("vec_id", "cos_sim")


def ann_ivfpq_residual(spark, sf_dir):
    """IVFADC — residual-encoded IVF-PQ (Jegou et al. 2011): ``__pqcode``
    quantizes ``embedding - centroid[bucket]`` instead of the raw vector,
    so the codebook's dynamic range covers only the within-list
    displacement (markedly better recall at the same m bytes/row on
    clustered corpora — tests/test_ann_layout.py measures it). The probe
    is the same footer-pruned 3-column scan as ann_ivfpq_topk, but ADC
    builds one distance table per probed list from the QUERY's residual
    ``q - centroid[list]``, selected per row by coarse bucket inside
    codegen. Centroids seed from the 8 lowest-vec_id vectors and
    codebooks from the NEXT 8 vectors' residuals (the centroid rows'
    own residuals are exactly zero — pq_codebooks_residual skips them),
    so the oracle re-derives the full residual index relationally."""
    import tempfile

    from xcube_geodb_spark.client import GeoDBSparkClient
    from xcube_geodb_spark.operators.ann import ann_ivfpq_topk as _probe

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seeds = similarity.seed_vectors(emb, 16)  # 8 centroids + 8 residual seeds
    cents = similarity.seed_centroids(emb, n_centroids=8, seeds=seeds)
    books = similarity.pq_codebooks_residual(
        emb, cents, n_subspaces=8, n_centroids=8, seed_rows=seeds
    )
    c = GeoDBSparkClient(
        spark, warehouse=tempfile.mkdtemp(prefix="geodb_ivfadc_"),
        user="driver",
    )
    c.create_collection("emb", {"vec_id": "int", "embedding": "float[]"})
    c.create_index(
        "emb",
        "embedding",
        kind="ivfpq",
        options={"centroids": cents, "codebooks": books, "residual": True},
    )
    c.insert_into_collection("emb", emb)
    return _probe(
        c.catalog,
        "emb",
        _query_vector(spark, sf_dir),
        k=20,
        database="driver",
        n_probe=2,
        id_col="vec_id",
    )


def ann_lsh_multiprobe(spark, sf_dir):
    """Multi-probe LSH through the warehouse index (Lv et al. 2007):
    the probe scans the query's own bucket PLUS the 2 buckets differing
    in the lowest-|margin| bits — the hyperplanes the query sits closest
    to, where a true neighbor most likely fell on the other side. File
    pruning admits all 3 buckets (an IN constraint over footer stats);
    recall is monotone in the probe count at probes/2^b of the data
    scanned. The oracle derives the identical probe set relationally
    (margins, flips, bucket membership)."""
    import tempfile

    from xcube_geodb_spark.client import GeoDBSparkClient
    from xcube_geodb_spark.operators.ann import ann_topk

    c = GeoDBSparkClient(
        spark, warehouse=tempfile.mkdtemp(prefix="geodb_annmp_"),
        user="driver",
    )
    c.create_collection("emb", {"vec_id": "int", "embedding": "float[]"})
    c.create_index("emb", "embedding", kind="lsh", options={"dim": 64})
    c.insert_into_collection(
        "emb", load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    out = ann_topk(
        c.catalog, "emb", _query_vector(spark, sf_dir), k=20,
        database="driver", id_col="vec_id", lsh_n_probe=3,
    )
    return out.select("vec_id", "cos_sim")


def sim_lsh_topk(spark, sf_dir):
    """Single-table sign-LSH: multi-table LSH with one 8-bit table,
    probing only the query's own bucket."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.lsh_multitable_topk(
        emb, _query_vector(spark, sf_dir), k=20, n_bits=8, n_tables=1
    )


def ann_lsh_multitable(spark, sf_dir):
    """Standard L-table LSH (Gionis et al. 1999): candidates are the
    UNION of the query's sign bucket across 8 independent 4-bit
    hyperplane tables, exact cosine top-20 over the union — the recall
    repair for single-table LSH (recall@10 measured 0.12 single-table ->
    ~0.74 here on the structure-free fixture). The oracle replays all 8
    bucket equalities as an OR."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.lsh_multitable_topk(
        emb, _query_vector(spark, sf_dir), k=20
    ).select("vec_id", "cos_sim")


def ann_lsh_tables_atrest(spark, sf_dir):
    """AT-REST multi-table LSH: a compact (id, tb) postings collection —
    tb = table<<bits | bucket — range-clustered by tb (btree index), so
    the probe's L bucket keys become one file-pruned postings scan;
    candidate ids semi-join the vectors and exact cosine re-ranks. Same
    logical result as the direct lsh_multitable_topk scan, so the
    OR-of-tables oracle applies verbatim."""
    import tempfile

    from xcube_geodb_spark.client import GeoDBSparkClient
    from xcube_geodb_spark.operators.ann import (
        ann_lsh_tables_topk,
        build_lsh_tables_collection,
    )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    c = GeoDBSparkClient(
        spark, warehouse=tempfile.mkdtemp(prefix="geodb_lshtab_"),
        user="driver",
    )
    build_lsh_tables_collection(
        c.catalog, "emb_tabs", emb, dim=64, database="driver",
        max_file_rows=512,
    )
    return ann_lsh_tables_topk(
        c.catalog, "emb_tabs", emb, _query_vector(spark, sf_dir), k=20,
        database="driver",
    ).select("vec_id", "cos_sim")


def sim_ivf_topk(spark, sf_dir):
    """IVF ANN with the deterministic seed quantizer (lowest-id sample) so a
    plain-SQL oracle derives identical centroids and replays assignment +
    probing. The k-means quantizer (``ivf_centroids``) stays recall-tested
    in tests/test_functions.py."""
    emb = load(spark, sf_dir, "embeddings")
    cents = similarity.seed_centroids(emb, n_centroids=8)
    return similarity.ivf_topk_seeded(
        emb, _query_vector(spark, sf_dir), cents, k=20, n_probe=2
    ).select("vec_id", "cos_sim")


_COS_CTES = """
    WITH q AS (
        SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id = 0
    ),
    s AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               embedding
        FROM embeddings
    )
"""

_COS_EXPR = (
    "round(list_dot_product(v, qv) / "
    "(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6)"
)

# the identical seeded rotation hyperplanes on both sides (dim 64, 8 bits,
# seed 42); integer-valued coefficients parse to bit-identical doubles
_HP = similarity.lsh_hyperplanes(64, 8, 42)


def _hp_bucket_sql_for(planes, vec_expr: str) -> str:
    return " || ".join(
        "CASE WHEN list_dot_product({v}, [{coefs}]) >= 0 "
        "THEN '1' ELSE '0' END".format(
            v=vec_expr, coefs=", ".join(f"{c:.1f}" for c in r)
        )
        for r in planes
    )


def _hp_bucket_sql(vec_expr: str) -> str:
    return _hp_bucket_sql_for(_HP, vec_expr)


# the 8 independent 4-bit tables of the multi-table path (seed ladder
# 42 + 7919*t), identical literals on both engines
_MT_TABLES = similarity.lsh_table_hyperplanes(64, n_bits=4, n_tables=16)


_LSH_BUCKET_V = _hp_bucket_sql("v")

LLM_SIM_ORACLES = {
    "sim_knn_join": """
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 50 = 0),
        scored AS (
            SELECT q.query_id, e.vec_id,
                   round(list_dot_product(v, qv) /
                         (sqrt(list_dot_product(v, v)) *
                          sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
            FROM e, q
        ),
        r AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC
            ) AS rn FROM scored
        )
        SELECT query_id, vec_id, cos_sim FROM r WHERE rn <= 5
    """,
    "sim_quantize_int8": """
        SELECT vec_id,
               round(scale, 9) AS scale_r,
               CAST(q[1] AS BIGINT) AS q0,
               CAST(list_sum(q) AS BIGINT) AS q_sum,
               round(list_max(list_transform(
                   list_zip(e, q), p -> abs(p[1] - p[2] * scale))), 9
               ) AS max_abs_err
        FROM (
            SELECT vec_id, e, scale,
                   list_transform(e, x -> round(x / scale)) AS q
            FROM (
                SELECT vec_id, e,
                       greatest(list_max(list_transform(e, x -> abs(x))),
                                1e-12) / 127.0 AS scale
                FROM (SELECT vec_id,
                             list_transform(embedding, x -> CAST(x AS DOUBLE))
                                 AS e
                      FROM embeddings)
            )
        )
    """,
    "sim_normalize": """
        SELECT vec_id, round(nb, 6) AS norm_before,
               round(e[1] / greatest(nb, 1e-12), 6) AS u0,
               round(sqrt(list_sum(list_transform(
                   list_transform(e, x -> x / greatest(nb, 1e-12)),
                   y -> y * y))), 6) AS norm_after
        FROM (
            SELECT vec_id, e,
                   sqrt(list_sum(list_transform(e, x -> x * x))) AS nb
            FROM (SELECT vec_id,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                  FROM embeddings)
        )
    """,
    "dedup_embedding_pairs": f"""
        WITH aug AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
            UNION ALL
            SELECT vec_id + 1000000,
                   list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.01)
            FROM embeddings WHERE vec_id % 10 = 0
        ),
        s AS (SELECT vec_id, v, ({_LSH_BUCKET_V}) AS bucket FROM aug)
        SELECT id_a, id_b, cos_sim FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.v, b.v) /
                         (sqrt(list_dot_product(a.v, a.v)) *
                          sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
            FROM s a JOIN s b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        ) WHERE cos_sim >= 0.99
    """,
    "sim_cosine_topk": f"""
        {_COS_CTES}
        SELECT vec_id, {_COS_EXPR} AS cos_sim
        FROM s, q ORDER BY cos_sim DESC, vec_id ASC LIMIT 20
    """,
    "sim_matryoshka_topk": f"""
        {_COS_CTES}
        SELECT vec_id,
               round(list_dot_product(v[1:16], qv[1:16]) /
                     (sqrt(list_dot_product(v[1:16], v[1:16]))
                      * sqrt(list_dot_product(qv[1:16], qv[1:16]))), 6)
                   AS cos_sim
        FROM s, q ORDER BY cos_sim DESC, vec_id ASC LIMIT 20
    """,
    "sim_matryoshka_funnel": f"""
        {_COS_CTES},
        pre AS (
            SELECT vec_id,
                   round(list_dot_product(v[1:16], qv[1:16]) /
                         (sqrt(list_dot_product(v[1:16], v[1:16]))
                          * sqrt(list_dot_product(qv[1:16], qv[1:16]))),
                         6) AS pc
            FROM s, q ORDER BY pc DESC, vec_id ASC LIMIT 100
        )
        SELECT s.vec_id, {_COS_EXPR} AS cos_sim
        FROM s JOIN pre USING (vec_id), q
        ORDER BY cos_sim DESC, vec_id ASC LIMIT 20
    """,
    "sim_lsh_topk": f"""
        {_COS_CTES}
        SELECT vec_id, {_COS_EXPR} AS cos_sim
        FROM s, q
        WHERE ({_hp_bucket_sql("v")}) = (SELECT {_hp_bucket_sql("qv")} FROM q)
        ORDER BY cos_sim DESC, vec_id ASC LIMIT 20
    """,
    # at-rest postings probe must equal the direct multitable scan
    "ann_lsh_tables_atrest": f"""
        {_COS_CTES}
        SELECT vec_id, {_COS_EXPR} AS cos_sim
        FROM s, q
        WHERE {" OR ".join(
            f"(({_hp_bucket_sql_for(t, 'v')}) = "
            f"(SELECT {_hp_bucket_sql_for(t, 'qv')} FROM q))"
            for t in _MT_TABLES
        )}
        ORDER BY cos_sim DESC, vec_id ASC LIMIT 20
    """,
    # L-table LSH: candidate iff ANY of the 8 independent 4-bit tables
    # agrees on the query's bucket — the OR replays the engine's union
    "ann_lsh_multitable": f"""
        {_COS_CTES}
        SELECT vec_id, {_COS_EXPR} AS cos_sim
        FROM s, q
        WHERE {" OR ".join(
            f"(({_hp_bucket_sql_for(t, 'v')}) = "
            f"(SELECT {_hp_bucket_sql_for(t, 'qv')} FROM q))"
            for t in _MT_TABLES
        )}
        ORDER BY cos_sim DESC, vec_id ASC LIMIT 20
    """,
    # the warehouse ANN path must produce the same logical result as the
    # direct one-table lsh_multitable_topk scan (vec_id mapped through the
    # int->bigint property)
    "ann_index_topk": f"""
        {_COS_CTES}
        SELECT CAST(vec_id AS BIGINT) AS vec_id, {_COS_EXPR} AS cos_sim
        FROM s, q
        WHERE ({_hp_bucket_sql("v")}) = (SELECT {_hp_bucket_sql("qv")} FROM q)
        ORDER BY cos_sim DESC, vec_id ASC LIMIT 20
    """,
    # multi-probe LSH: probe set = base bucket + the buckets differing in
    # the (n_probe-1) lowest-|margin| bits (ties -> lowest bit index);
    # margins per hyperplane are enumerated as VALUES rows so the flips
    # and the string bit-surgery replay the engine's driver-side
    # lsh_probe_buckets exactly
    "ann_lsh_multiprobe": f"""
        {_COS_CTES},
        mp AS (
            SELECT t.i,
                   abs(list_dot_product(qv, t.h))
                   / sqrt(list_dot_product(t.h, t.h)) AS m
            FROM q, (VALUES {", ".join(
                f"({i}, [{', '.join(f'{c:.1f}' for c in r)}])"
                for i, r in enumerate(_HP)
            )}) AS t(i, h)
        ),
        flips AS (SELECT i FROM mp ORDER BY m ASC, i ASC LIMIT 2),
        base AS (SELECT ({_hp_bucket_sql("qv")}) AS b FROM q),
        probes AS (
            SELECT b FROM base
            UNION ALL
            SELECT substr(b, 1, i)
                   || (CASE substr(b, i + 1, 1) WHEN '1' THEN '0'
                       ELSE '1' END)
                   || substr(b, i + 2) AS b
            FROM base, flips
        )
        SELECT CAST(vec_id AS BIGINT) AS vec_id, {_COS_EXPR} AS cos_sim
        FROM s, q
        WHERE ({_hp_bucket_sql("v")}) IN (SELECT b FROM probes)
        ORDER BY cos_sim DESC, vec_id ASC LIMIT 20
    """,
    "sim_ivf_topk": f"""
        {_COS_CTES},
        cents AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
            FROM (SELECT vec_id, v FROM s ORDER BY vec_id LIMIT 8)
        ),
        probes AS (
            SELECT cid FROM cents, q
            ORDER BY list_dot_product(cv, qv) /
                     (sqrt(list_dot_product(cv, cv)) *
                      sqrt(list_dot_product(qv, qv))) DESC, cid ASC
            LIMIT 2
        ),
        assign AS (
            SELECT vec_id, v, cid FROM (
                SELECT s.vec_id, s.v, c.cid,
                       row_number() OVER (
                           PARTITION BY s.vec_id
                           ORDER BY list_dot_product(s.v, c.cv) /
                                    (sqrt(list_dot_product(s.v, s.v)) *
                                     sqrt(list_dot_product(c.cv, c.cv))) DESC,
                           c.cid ASC
                       ) AS rn
                FROM s CROSS JOIN cents c
            ) WHERE rn = 1
        )
        SELECT vec_id, {_COS_EXPR} AS cos_sim
        FROM assign, q
        WHERE cid IN (SELECT cid FROM probes)
        ORDER BY cos_sim DESC, vec_id ASC
        LIMIT 20
    """,
}

# --- text analysis ---------------------------------------------------------------


def sim_normalize(spark, sf_dir):
    """Embedding L2 normalization (functions/similarity.l2_normalize),
    verified through scalar projections (norm before, first component
    after, norm after == 1) to keep the oracle float-exact."""
    from xcube_geodb_spark.functions.similarity import (
        l2_normalize,
        norm as vnorm,
        _to_double,
    )

    emb = load(spark, sf_dir, "embeddings")
    unit = l2_normalize(F.col("embedding"))
    return emb.select(
        "vec_id",
        F.round(vnorm(_to_double(F.col("embedding"))), 6).alias("norm_before"),
        F.round(F.element_at(unit, 1), 6).alias("u0"),
        F.round(vnorm(unit), 6).alias("norm_after"),
    )


def text_quality(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    out = text.with_quality_score(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "stop_ratio",
        "alpha_ratio",
        "punct_ratio",
        "quality",
    )


def text_lang_id(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return text.with_lang_id(docs).select("doc_id", "lang_pred")


def text_token_count(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return text.with_token_stats(docs).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_subword_est").cast("long").alias("n_subword_est"),
    )


def text_fingerprint(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return text.with_fingerprint(docs).select("doc_id", "fingerprint")


def text_profile(spark, sf_dir):
    """One driver gate for the whole text-analysis family: quality scoring,
    subword token estimate, language id, and fingerprint in a single
    per-document projection (all column algebra — one pass, no shuffle)."""
    docs = load(spark, sf_dir, "documents")
    out = text.with_profile(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_subword_est").cast("long").alias("n_subword_est"),
        "stop_ratio",
        "alpha_ratio",
        "punct_ratio",
        "quality",
        "lang_pred",
        "fingerprint",
    )


def text_scrub(spark, sf_dir):
    """PII/URL scrubbing (functions/text.with_scrubbed): regexes chosen to
    parse identically under Java regex and DuckDB's RE2."""
    docs = load(spark, sf_dir, "documents")
    return text.with_scrubbed(docs).select("doc_id", "text_scrubbed")


def text_repetition(spark, sf_dir):
    """Token-repetition quality signal (functions/text.with_repetition)."""
    docs = load(spark, sf_dir, "documents")
    return text.with_repetition(docs).select("doc_id", "rep_ratio")


def multimodal_frames(spark, sf_dir):
    """Frame-sampling fan-out (functions/multimodal.sample_frames): one row
    per kept 16-byte fake frame, every 2nd frame. The oracle replays the
    byte windows with substr over a lateral range."""
    from xcube_geodb_spark.functions.multimodal import (
        attach_binary_payload,
        sample_frames,
    )

    docs = attach_binary_payload(load(spark, sf_dir, "documents"), "text")
    return sample_frames(docs, every_n=2).select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.decode("frame", "UTF-8").alias("frame_text"),
    )


def dedup_collection_roundtrip(spark, sf_dir):
    """Exact dedup applied THROUGH the table format: ingest the documents
    corpus into a warehouse collection (ordered by doc_id so collection
    ids rank identically), client.dedup_collection keeps the min-id row
    per md5(text) group via the frame-based delete_ids DML, scan back."""
    import tempfile as _tf

    from xcube_geodb_spark.client import GeoDBSparkClient

    c = GeoDBSparkClient(
        spark, warehouse=_tf.mkdtemp(prefix="geodb_dedup_"), user="driver"
    )
    c.create_collection("docs", {"doc_id": "bigint", "text": "text"})
    src = _augmented(spark, sf_dir).orderBy("doc_id").toPandas()
    src["geometry"] = "POINT (0 0)"
    c.insert_into_collection("docs", src)
    stats = c.dedup_collection("docs", "text", method="exact")
    assert stats["removed"] > 0, "augmented corpus must contain exact dups"
    return c.catalog.load_df("docs", "driver").select("doc_id")


def multimodal_decode(spark, sf_dir):
    docs = attach_binary_payload(load(spark, sf_dir, "documents"), "text")
    return decode_features(docs)


_TOKS = f"string_split({_NORM.replace('text', 'text')}, ' ')"


def _stop_filter(words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(toks, t -> t IN ({inlist})))"


_QUALITY_SQL = f"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(stop_hits * 1.0 / greatest(len(toks), 1), 6) AS stop_ratio,
           round(alpha_chars * 1.0 / greatest(n_chars, 1), 6) AS alpha_ratio,
           round(punct_chars * 1.0 / greatest(n_chars, 1), 6) AS punct_ratio,
           round(0.35 * least(len(toks) / 100.0, 1.0)
                 + 0.35 * (stop_hits * 1.0 / greatest(len(toks), 1))
                 + 0.20 * (alpha_chars * 1.0 / greatest(n_chars, 1))
                 + 0.10 * (1.0 - least((punct_chars * 1.0 / greatest(n_chars, 1)) * 5,
                                       1.0)), 6) AS quality
    FROM (
        SELECT doc_id, toks,
               {_stop_filter(text.STOPWORDS_EN)} AS stop_hits,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
               length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct_chars,
               length(text) AS n_chars
        FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    )
"""

_LANG_SCORES = ", ".join(
    f"{_stop_filter(sw)} AS s_{lang}" for lang, sw in text.LANG_STOPWORDS.items()
)
_LANGS = list(text.LANG_STOPWORDS)
_LANG_CASE = "CASE " + " ".join(
    "WHEN s_{l} > 0 AND {conds} THEN '{l}'".format(
        l=lang,
        conds=" AND ".join(
            f"s_{lang} >= s_{other}" for other in _LANGS if other != lang
        ),
    )
    for lang in _LANGS
) + " ELSE 'und' END"

LLM_TEXT_ORACLES = {
    "text_scrub": r"""
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                       'https?://[^ \t\n]+', '<URL>', 'g'),
                   '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'
               ) AS text_scrubbed
        FROM documents
    """,
    "text_repetition": f"""
        SELECT doc_id,
               round(1.0 - len(list_distinct(toks)) * 1.0
                         / greatest(len(toks), 1), 6) AS rep_ratio
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    """,
    "text_quality": _QUALITY_SQL,
    "text_lang_id": f"""
        SELECT doc_id, {_LANG_CASE} AS lang_pred
        FROM (SELECT doc_id, {_LANG_SCORES}
              FROM (SELECT doc_id, {_TOKS} AS toks FROM documents))
    """,
    "text_token_count": f"""
        SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
               CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subword_est
        FROM documents
    """,
    "text_fingerprint": f"SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents",
    "text_profile": f"""
        SELECT q.doc_id, q.n_tokens, t.n_subword_est, q.stop_ratio,
               q.alpha_ratio, q.punct_ratio, q.quality, l.lang_pred,
               f.fingerprint
        FROM ({_QUALITY_SQL}) q
        JOIN (SELECT doc_id,
                     CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subword_est
              FROM documents) t ON q.doc_id = t.doc_id
        JOIN (SELECT doc_id, {_LANG_CASE} AS lang_pred
              FROM (SELECT doc_id, {_LANG_SCORES}
                    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents))) l
          ON q.doc_id = l.doc_id
        JOIN (SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents) f
          ON q.doc_id = f.doc_id
    """,
    "multimodal_frames": """
        SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
               substr(text, CAST(i * 16 + 1 AS INT), 16) AS frame_text
        FROM (
            SELECT doc_id, text,
                   unnest(range(0, greatest(
                       CAST(ceil(length(text) / 16.0) AS BIGINT), 1))) AS i
            FROM documents
        )
        WHERE i % 2 = 0
    """,
    "multimodal_decode": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
               CAST(CASE WHEN length(text) >= 1 THEN ascii(substr(text, 1, 1)) ELSE 0 END AS DOUBLE) AS feat0,
               CAST(CASE WHEN length(text) >= 2 THEN ascii(substr(text, 2, 1)) ELSE 0 END AS DOUBLE) AS feat1,
               CAST(CASE WHEN length(text) >= 3 THEN ascii(substr(text, 3, 1)) ELSE 0 END AS DOUBLE) AS feat2,
               CAST(CASE WHEN length(text) >= 4 THEN ascii(substr(text, 4, 1)) ELSE 0 END AS DOUBLE) AS feat3
        FROM documents
    """,
}

def sample_stratified_lang(spark, sf_dir):
    """Per-stratum deterministic sampling (functions/sampling): rebalance
    the corpus by language — keep all German, half the French, a quarter
    of the English, 10% of everything else. The cutoff is a codegen'd
    CASE chain (no join); the oracle replays the md5 bucket arithmetic."""
    from xcube_geodb_spark.functions.sampling import stratified_sample

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(
        docs,
        "doc_id",
        "lang",
        {"en": 0.25, "de": 1.0, "fr": 0.5},
        default_fraction=0.1,
        seed="strat",
    )


def sample_split_documents(spark, sf_dir):
    """Deterministic train/val/test split (functions/sampling.py): per-row
    membership is a pure function of md5(seed || doc_id) — auditable and
    replayed bit-for-bit by the SQL oracle."""
    from xcube_geodb_spark.functions.sampling import train_val_test_split

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return train_val_test_split(
        docs, "doc_id", val_fraction=0.05, test_fraction=0.05, seed="r2"
    ).select("doc_id", "split")


def pack_documents_budget(spark, sf_dir):
    """Token-budget sequence packing per language shard: window cumsum over
    doc_id order, pack cut when the running total crosses 2048 estimated
    subword tokens."""
    from pyspark.sql import functions as F

    from xcube_geodb_spark.functions.sampling import pack_by_token_budget

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.ceil(F.col("n_chars") / 4).cast("long").alias("toks"),
    )
    return pack_by_token_budget(
        docs, "toks", "doc_id", budget=2048, partition_cols=["lang"]
    ).select("doc_id", "lang", "pack_id")


def chunk_documents(spark, sf_dir):
    """Overlapping token-window chunking (functions/sampling.chunk_by_tokens):
    64-token chunks, 16-token overlap, replayed by DuckDB list_slice."""
    from xcube_geodb_spark.functions.sampling import chunk_by_tokens

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_by_tokens(docs, "text", "doc_id", chunk_size=64, overlap=16)


def sim_knn_join(spark, sf_dir):
    """Batch k-NN join (functions/similarity.knn_join): every 50th vector
    plays a query; one mapInPandas corpus scan emits bounded local top-k
    candidates, one narrow shuffle ranks them. Scores reproduce the
    sequential fold order, so the oracle's list_dot_product replays them
    bit-identically."""
    from xcube_geodb_spark.functions.similarity import knn_join

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return knn_join(emb, queries, k=5)


def sim_quantize_int8(spark, sf_dir):
    """int8 scalar quantization (functions/similarity): per-vector scale,
    first/summed quantized components, and the max reconstruction error —
    every value replayed exactly by the DuckDB oracle (same op order;
    round-half-away-from-zero in both engines)."""
    from xcube_geodb_spark.functions.similarity import (
        dequantize_embedding,
        with_quantized_embedding,
    )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qdf = with_quantized_embedding(emb)
    deq = dequantize_embedding(F.col("embedding_q8"), F.col("embedding_scale"))
    err = F.array_max(
        F.zip_with(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            deq,
            lambda a, b: F.abs(a - b),
        )
    )
    return qdf.select(
        "vec_id",
        F.round("embedding_scale", 9).alias("scale_r"),
        F.element_at("embedding_q8", 1).cast("long").alias("q0"),
        F.aggregate(
            "embedding_q8", F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
        ).alias("q_sum"),
        F.round(err, 9).alias("max_abs_err"),
    )


def sim_quantized_topk(spark, sf_dir):
    """Quantized-domain search (functions/similarity.quantized_topk):
    top-20 by approximate dot product over the int8 codes — integer
    multiply-accumulate, exact and engine-replayable; only the two final
    scale multiplies are float (rounded at 9)."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qdf = similarity.with_quantized_embedding(emb).select(
        "vec_id", "embedding_q8", "embedding_scale"
    )
    return similarity.quantized_topk(qdf, _query_vector(spark, sf_dir), k=20)


LLM_QUANT_TOPK_ORACLE = {
    "sim_quantized_topk": """
        WITH qv AS (
            SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings WHERE vec_id = 0
        ),
        qq AS (
            SELECT v, list_max(list_transform(v, x -> abs(x))) / 127.0
                       AS qscale
            FROM qv
        ),
        qi AS (
            SELECT qscale,
                   list_transform(v, x -> CAST(round(x / qscale) AS BIGINT))
                       AS qint
            FROM qq
        ),
        enc AS (
            SELECT vec_id, scale,
                   list_transform(e, x -> CAST(round(x / scale) AS BIGINT))
                       AS q
            FROM (
                SELECT vec_id, e,
                       greatest(list_max(list_transform(e, x -> abs(x))),
                                1e-12) / 127.0 AS scale
                FROM (SELECT vec_id,
                             list_transform(embedding, x -> CAST(x AS DOUBLE))
                                 AS e
                      FROM embeddings)
            )
        )
        SELECT vec_id,
               round(CAST(list_sum(list_transform(list_zip(q, qint),
                                                  p -> p[1] * p[2]))
                          AS DOUBLE) * scale * qscale, 9) AS score_q
        FROM enc, qi
        ORDER BY score_q DESC, vec_id
        LIMIT 20
    """,
}


def sim_pq_topk(spark, sf_dir):
    """Product quantization end-to-end (functions/similarity.pq_*):
    deterministic seeded codebooks (8 subspaces x 8 centroids over dim
    64), per-vector PQ codes via exact-fold argmin, then ADC top-20 —
    m table lookups + a decimal sum per row. The oracle re-derives the
    codebooks from the same lowest-id seeds and replays encoding and the
    distance table relationally."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    books = similarity.pq_codebooks(emb, n_subspaces=8, n_centroids=8)
    encoded = similarity.pq_encode(emb, books).select("vec_id", "pq_code")
    return similarity.pq_topk(
        encoded, _query_vector(spark, sf_dir), books, k=20
    )


LLM_PQ_ORACLE = {
    "sim_pq_topk": """
        WITH vecs AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        seeds AS (SELECT vec_id, v FROM vecs ORDER BY vec_id LIMIT 8),
        cb AS (
            SELECT j,
                   row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1
                       AS code,
                   list_slice(v, j * 8 + 1, j * 8 + 8) AS c
            FROM seeds CROSS JOIN (SELECT unnest(range(0, 8)) AS j)
        ),
        dists AS (
            SELECT vecs.vec_id, cb.j, cb.code,
                   list_sum(list_transform(
                       list_zip(list_slice(v, cb.j * 8 + 1, cb.j * 8 + 8),
                                cb.c),
                       p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
            FROM vecs CROSS JOIN cb
        ),
        enc AS (
            SELECT vec_id, j, code FROM (
                SELECT vec_id, j, code,
                       row_number() OVER (PARTITION BY vec_id, j
                                          ORDER BY dist, code) AS rn
                FROM dists
            ) WHERE rn = 1
        ),
        q AS (SELECT v AS qv FROM vecs WHERE vec_id = 0),
        dt AS (
            SELECT cb.j, cb.code,
                   CAST(round(list_sum(list_transform(
                       list_zip(list_slice(qv, cb.j * 8 + 1, cb.j * 8 + 8),
                                cb.c),
                       p -> (p[1] - p[2]) * (p[1] - p[2]))), 9)
                       AS DECIMAL(28,9)) AS d
            FROM cb CROSS JOIN q
        )
        SELECT vec_id, CAST(sum_d AS DOUBLE) AS dist_adc FROM (
            SELECT e.vec_id, sum(dt.d) AS sum_d
            FROM enc e JOIN dt ON dt.j = e.j AND dt.code = e.code
            GROUP BY e.vec_id
        )
        ORDER BY dist_adc, vec_id
        LIMIT 20
    """,
    # the composed index: IVF coarse assignment (same 8 lowest-id seeds as
    # sim_ivf_topk) restricts the candidate set to the query's 2 probed
    # lists, then the PQ encode + ADC table replay scores only candidates.
    # vec_id maps through the warehouse int property -> BIGINT.
    "ann_ivfpq_topk": """
        WITH vecs AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        seeds AS (SELECT vec_id, v FROM vecs ORDER BY vec_id LIMIT 8),
        cents AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
            FROM seeds
        ),
        q AS (SELECT v AS qv FROM vecs WHERE vec_id = 0),
        probes AS (
            SELECT cid FROM cents, q
            ORDER BY list_dot_product(cv, qv) /
                     (sqrt(list_dot_product(cv, cv)) *
                      sqrt(list_dot_product(qv, qv))) DESC, cid ASC
            LIMIT 2
        ),
        assign AS (
            SELECT vec_id, v, cid FROM (
                SELECT s.vec_id, s.v, c.cid,
                       row_number() OVER (
                           PARTITION BY s.vec_id
                           ORDER BY list_dot_product(s.v, c.cv) /
                                    (sqrt(list_dot_product(s.v, s.v)) *
                                     sqrt(list_dot_product(c.cv, c.cv))) DESC,
                           c.cid ASC
                       ) AS rn
                FROM vecs s CROSS JOIN cents c
            ) WHERE rn = 1
        ),
        cand AS (
            SELECT vec_id, v FROM assign
            WHERE cid IN (SELECT cid FROM probes)
        ),
        cb AS (
            SELECT j,
                   row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1
                       AS code,
                   list_slice(v, j * 8 + 1, j * 8 + 8) AS c
            FROM seeds CROSS JOIN (SELECT unnest(range(0, 8)) AS j)
        ),
        dists AS (
            SELECT cand.vec_id, cb.j, cb.code,
                   list_sum(list_transform(
                       list_zip(list_slice(v, cb.j * 8 + 1, cb.j * 8 + 8),
                                cb.c),
                       p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
            FROM cand CROSS JOIN cb
        ),
        enc AS (
            SELECT vec_id, j, code FROM (
                SELECT vec_id, j, code,
                       row_number() OVER (PARTITION BY vec_id, j
                                          ORDER BY dist, code) AS rn
                FROM dists
            ) WHERE rn = 1
        ),
        dt AS (
            SELECT cb.j, cb.code,
                   CAST(round(list_sum(list_transform(
                       list_zip(list_slice(qv, cb.j * 8 + 1, cb.j * 8 + 8),
                                cb.c),
                       p -> (p[1] - p[2]) * (p[1] - p[2]))), 9)
                       AS DECIMAL(28,9)) AS d
            FROM cb CROSS JOIN q
        )
        SELECT CAST(vec_id AS BIGINT) AS vec_id,
               CAST(sum_d AS DOUBLE) AS dist_adc FROM (
            SELECT e.vec_id, sum(dt.d) AS sum_d
            FROM enc e JOIN dt ON dt.j = e.j AND dt.code = e.code
            GROUP BY e.vec_id
        )
        ORDER BY dist_adc, vec_id
        LIMIT 20
    """,
}

# IVFADC: identical probe/assign skeleton, but codebooks seed from the
# residuals of rows 8..15 by vec_id (the first 8 ARE the centroids, so
# their residuals are zero — skipped), candidates
# encode their residuals, and the ADC table is per probed list from the
# query's residual vs that list's centroid. Every arithmetic step is the
# same left-fold double algebra the engine's Column tree executes.
LLM_PQ_ORACLE["ann_ivfpq_residual"] = """
    WITH vecs AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    seeds AS (SELECT vec_id, v FROM vecs ORDER BY vec_id LIMIT 8),
    cents AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        FROM seeds
    ),
    q AS (SELECT v AS qv FROM vecs WHERE vec_id = 0),
    probes AS (
        SELECT cid FROM cents, q
        ORDER BY list_dot_product(cv, qv) /
                 (sqrt(list_dot_product(cv, cv)) *
                  sqrt(list_dot_product(qv, qv))) DESC, cid ASC
        LIMIT 2
    ),
    assign AS (
        SELECT vec_id, v, cid FROM (
            SELECT s.vec_id, s.v, c.cid,
                   row_number() OVER (
                       PARTITION BY s.vec_id
                       ORDER BY list_dot_product(s.v, c.cv) /
                                (sqrt(list_dot_product(s.v, s.v)) *
                                 sqrt(list_dot_product(c.cv, c.cv))) DESC,
                       c.cid ASC
                   ) AS rn
            FROM vecs s CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    rvecs AS (
        SELECT a.vec_id, a.cid,
               list_transform(list_zip(a.v, c.cv), p -> p[1] - p[2]) AS rv
        FROM assign a JOIN cents c ON c.cid = a.cid
    ),
    rseeds AS (
        SELECT vec_id, rv FROM rvecs ORDER BY vec_id LIMIT 8 OFFSET 8
    ),
    cb AS (
        SELECT j,
               row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1
                   AS code,
               list_slice(rv, j * 8 + 1, j * 8 + 8) AS c
        FROM rseeds CROSS JOIN (SELECT unnest(range(0, 8)) AS j)
    ),
    cand AS (
        SELECT vec_id, cid, rv FROM rvecs
        WHERE cid IN (SELECT cid FROM probes)
    ),
    dists AS (
        SELECT cand.vec_id, cb.j, cb.code,
               list_sum(list_transform(
                   list_zip(list_slice(rv, cb.j * 8 + 1, cb.j * 8 + 8),
                            cb.c),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
        FROM cand CROSS JOIN cb
    ),
    enc AS (
        SELECT vec_id, j, code FROM (
            SELECT vec_id, j, code,
                   row_number() OVER (PARTITION BY vec_id, j
                                      ORDER BY dist, code) AS rn
            FROM dists
        ) WHERE rn = 1
    ),
    rq AS (
        SELECT p.cid,
               list_transform(list_zip(qv, c.cv), x -> x[1] - x[2]) AS rqv
        FROM probes p JOIN cents c ON c.cid = p.cid, q
    ),
    dt AS (
        SELECT rq.cid, cb.j, cb.code,
               CAST(round(list_sum(list_transform(
                   list_zip(list_slice(rqv, cb.j * 8 + 1, cb.j * 8 + 8),
                            cb.c),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))), 9)
                   AS DECIMAL(28,9)) AS d
        FROM cb CROSS JOIN rq
    )
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(sum_d AS DOUBLE) AS dist_adc FROM (
        SELECT e.vec_id, sum(dt.d) AS sum_d
        FROM enc e
        JOIN cand ON cand.vec_id = e.vec_id
        JOIN dt ON dt.cid = cand.cid AND dt.j = e.j AND dt.code = e.code
        GROUP BY e.vec_id
    )
    ORDER BY dist_adc, vec_id
    LIMIT 20
"""

# Two-stage refine oracle: the ADC query (widened to 60 candidates by
# replacing its final LIMIT) feeds an exact-cosine rerank over only those
# candidates' raw vectors — derived from the ADC oracle so the candidate
# selection can never drift between the two gates.
_ADC_60 = LLM_PQ_ORACLE["ann_ivfpq_topk"].rstrip().rstrip("\n")
assert _ADC_60.endswith("LIMIT 20"), "ADC oracle shape changed"
_ADC_60 = _ADC_60[: -len("LIMIT 20")] + "LIMIT 60"
LLM_PQ_ORACLE["ann_ivfpq_refined"] = f"""
    WITH cand AS (
{_ADC_60}
    ),
    s2 AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    q2 AS (SELECT v AS qv FROM s2 WHERE vec_id = 0)
    SELECT c.vec_id,
           round(list_dot_product(s2.v, qv) /
                 (sqrt(list_dot_product(s2.v, s2.v)) *
                  sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
    FROM cand c JOIN s2 ON CAST(s2.vec_id AS BIGINT) = c.vec_id, q2
    ORDER BY cos_sim DESC, c.vec_id ASC
    LIMIT 20
"""


def text_contamination(spark, sf_dir):
    """Train/test contamination report (functions/contamination): the
    documents table is the corpus; every 13th document plays the leaked
    benchmark set. Corpus and benchmark shingle with the dedup family's
    codegen'd 8-gram plan; the benchmark gram table is broadcast so no
    corpus-sized shuffle exists; the oracle replays the n-gram join."""
    from xcube_geodb_spark.functions.contamination import contamination_report

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 13 == 0)
    return contamination_report(docs, bench, n=8)


def text_decontaminated(spark, sf_dir):
    """The decontamination filter: corpus minus documents sharing >= 1
    8-gram with the benchmark set (broadcast anti-join)."""
    from xcube_geodb_spark.functions.contamination import decontaminate

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 13 == 0)
    return decontaminate(docs, bench, n=8).select("doc_id")


# 8-gram shingle list mirroring dedup.shingle_table at n=8 (falls back to
# the whole normalized text for shorter documents)
_GRAM8 = (
    "CASE WHEN len(toks) >= 8 THEN list_distinct(list_transform("
    "range(1, len(toks) - 6), i -> "
    + " || ' ' || ".join(f"toks[i+{j}]" if j else "toks[i]" for j in range(8))
    + ")) ELSE [t] END"
)

_CONTAM_CTES = f"""
    corpus AS (SELECT doc_id, {_NORM} AS t FROM documents),
    bench AS (SELECT doc_id, t FROM corpus WHERE doc_id % 13 = 0),
    cg AS (
        SELECT doc_id, unnest({_GRAM8}) AS gram
        FROM (SELECT doc_id, string_split(t, ' ') AS toks, t FROM corpus)
    ),
    bg AS (
        SELECT doc_id AS bench_id, unnest({_GRAM8}) AS gram
        FROM (SELECT doc_id, string_split(t, ' ') AS toks, t FROM bench)
    ),
    hits AS (
        SELECT cg.doc_id,
               count(DISTINCT cg.gram) AS n_hits,
               count(DISTINCT bg.bench_id) AS n_bench_docs
        FROM cg JOIN bg ON cg.gram = bg.gram
        GROUP BY cg.doc_id
    )
"""

LLM_CONTAM_ORACLES = {
    "text_contamination": f"""
        WITH {_CONTAM_CTES}
        SELECT doc_id, n_hits, n_bench_docs FROM hits
    """,
    "text_decontaminated": f"""
        WITH {_CONTAM_CTES}
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM hits WHERE n_hits >= 1)
    """,
}


# --- retrieval / corpus curation -------------------------------------------

_BM25_TERMS = ("spark", "hash", "window", "merge")


def text_bm25_topk(spark, sf_dir):
    """BM25 retrieval (functions/retrieval.bm25_topk): top-20 documents
    for a 4-term query. Per-term tf is a codegen'd higher-order filter
    (no corpus explode, no (doc, term) shuffle); corpus stats reduce to
    one driver row; top-k is TakeOrderedAndProject. The oracle replays
    the identical float expression tree per term."""
    from xcube_geodb_spark.functions.retrieval import bm25_topk

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(docs, list(_BM25_TERMS), k=20)


def text_bm25_indexed(spark, sf_dir):
    """BM25 over the AT-REST inverted index
    (functions/retrieval.inverted_index / build_bm25_collection): postings
    rows (token, doc_id, tf, dl, df) stored as a warehouse collection
    range-clustered by token, corpus scalars committed atomically in the
    collection metadata; the probe scans only the query terms' postings
    (token=in.(...) file pruning) and must replay the direct
    bm25_topk scores bit-for-bit — same oracle."""
    import tempfile

    from xcube_geodb_spark.catalog import GeoDBCatalog
    from xcube_geodb_spark.functions.retrieval import (
        bm25_collection_topk,
        build_bm25_collection,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    cat = GeoDBCatalog(
        spark, tempfile.mkdtemp(prefix="geodb_bm25_"), user="driver"
    )
    cat.create_database("driver")
    build_bm25_collection(cat, "postings", docs, database="driver")
    return bm25_collection_topk(
        cat, "postings", list(_BM25_TERMS), k=20, database="driver"
    )


def text_fts_via_index(spark, sf_dir):
    """Boolean fts answered ENTIRELY from the stemmed postings index
    (functions/retrieval.fts_docs_from_index — the GIN path): the same
    stemmed tsquery the scan gates use, evaluated as per-group
    distinct-term-count semi-joins + negation anti-joins over postings
    rows, never scanning the text column. Must equal the direct stemmed
    scan — same oracle as scan_fts_indexed."""
    from xcube_geodb_spark.functions.retrieval import (
        fts_docs_from_index,
        inverted_index,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    postings = inverted_index(docs, stemmed=True)
    return fts_docs_from_index(
        postings, "querying&tables|merges&!windows", stemmed=True
    )


def text_ts_rank(spark, sf_dir):
    """PG ts_rank/ts_rank_cd on the SQL surface (functions/textsql):
    word-frequency rank n/(n+1) per matched distinct query term and the
    cover-density variant, both over the english (stopword-elided,
    Porter-stemmed) lexeme stream; matching documents ranked
    deterministically. Arrow-batched UDFs — the oracle replays the
    frequency rank exactly; rank_cd is pytest-verified (minimal covers
    are not reasonably expressible in one SQL expression)."""
    from xcube_geodb_spark.functions.textsql import (
        register_text_sql_functions,
    )

    register_text_sql_functions(spark)
    load(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).createOrReplaceTempView("__docs_rank")
    return spark.sql(
        """
        SELECT doc_id,
               round(ts_rank('english', text,
                     plainto_tsquery('english', 'querying tables')), 6)
                   AS rank
        FROM __docs_rank
        WHERE ts_match_any(to_tsvector('english', text),
                           plainto_tsquery('english', 'querying tables'))
        ORDER BY rank DESC, doc_id
        LIMIT 25
        """
    )


def text_ts_stat(spark, sf_dir):
    """PG ts_stat parity (functions/retrieval.ts_stat): per-stemmed-lexeme
    (word, ndoc, nentry) over the corpus, top-20 by total occurrences —
    one map-side-combined aggregation over the posting stream."""
    from xcube_geodb_spark.functions.retrieval import ts_stat

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        ts_stat(docs, stemmed=True)
        .orderBy(F.col("nentry").desc(), F.col("word"))
        .limit(20)
    )


def text_phrase_via_index(spark, sf_dir):
    """phfts from a POSITIONAL postings index
    (functions/retrieval.positional_index / phrase_docs_from_index): the
    phrase occurs iff the per-term position arrays share a start after
    offset shifting — pure-codegen array intersection, text column never
    scanned. The oracle checks consecutive tokens in the normalized
    stream directly."""
    from xcube_geodb_spark.functions.retrieval import (
        phrase_docs_from_index,
        positional_index,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return phrase_docs_from_index(
        positional_index(docs), "table table"
    )


def stream_bm25_index(spark, sf_dir):
    """Continuously-maintained BM25 index: documents flow through a real
    readStream file source in several micro-batches, each appending its
    postings + advancing the corpus totals exactly-once
    (streaming/sink.write_stream_to_bm25_index); the final index answers
    the standard 4-term query bit-identically to the direct corpus scan —
    same oracle as text_bm25_topk."""
    import tempfile

    from xcube_geodb_spark.catalog import GeoDBCatalog
    from xcube_geodb_spark.functions.retrieval import (
        bm25_collection_topk,
        build_bm25_collection,
    )
    from xcube_geodb_spark.streaming import write_stream_to_bm25_index

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    cat = GeoDBCatalog(
        spark, tempfile.mkdtemp(prefix="geodb_sbm25_"), user="driver"
    )
    cat.create_database("driver")
    # from-scratch index: empty seed corpus, all content arrives streamed
    build_bm25_collection(
        cat, "postings", docs.limit(0), database="driver"
    )
    src = tempfile.mkdtemp(prefix="geodb_sbm25_src_")
    docs.repartition(6).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = write_stream_to_bm25_index(
        stream,
        cat,
        "postings",
        "driver",
        checkpoint_dir=tempfile.mkdtemp(prefix="geodb_sbm25_ckpt_"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    return bm25_collection_topk(
        cat, "postings", list(_BM25_TERMS), k=20, database="driver"
    )


_BM25_QUERIES = (
    (1, "spark table"),
    (2, "hash merge batch"),
    (3, "window sort"),
)


def text_bm25_join(spark, sf_dir):
    """Batch retrieval (functions/retrieval.bm25_join): top-10 documents
    for each of three queries. Posting stream filtered through a
    broadcast of the query-term table before any shuffle; per-term scores
    summed as exact decimals so the oracle replays them exactly."""
    from xcube_geodb_spark.functions.retrieval import bm25_join

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    q = spark.createDataFrame(
        list(_BM25_QUERIES), "query_id long, query_text string"
    )
    return bm25_join(docs, q, k=10)


def _bm25_join_oracle() -> str:
    k1, b = 1.2, 0.75
    qvals = ", ".join(
        f"({qid}, '{t}')" for qid, text in _BM25_QUERIES
        for t in dict.fromkeys(text.split())
    )
    return f"""
        WITH d AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks
                   FROM documents),
        stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
            FROM d
        ),
        q(query_id, term) AS (VALUES {qvals}),
        tf AS (
            SELECT doc_id, term,
                   CAST(count(*) AS DOUBLE) AS tf,
                   any_value(dl) AS dl
            FROM (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
                         unnest(toks) AS term
                  FROM d)
            WHERE term IN (SELECT term FROM q)
            GROUP BY doc_id, term
        ),
        dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                FROM tf GROUP BY term),
        scored AS (
            SELECT q.query_id, tf.doc_id,
                   CAST(round(
                       ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
                       * ((tf * {k1 + 1.0!r}) / (tf + {k1!r} *
                          ({1.0 - b!r} + ({b!r} * dl) / avgdl))), 7)
                       AS DECIMAL(28,7)) AS part
            FROM tf
            JOIN dft USING (term)
            JOIN q USING (term)
            CROSS JOIN stats
        ),
        agg AS (
            SELECT query_id, doc_id,
                   round(CAST(sum(part) AS DOUBLE), 6) AS bm25
            FROM scored GROUP BY query_id, doc_id
        )
        SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, bm25 FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rk
            FROM agg
        ) WHERE rk <= 10
    """


def corpus_mix_sources(spark, sf_dir):
    """Token-weighted training mixture (functions/sampling.mix_corpora):
    three pseudo-corpora (doc_id % 3) contribute documents in per-source
    md5 hash order until their share of a 6000-char budget fills
    (web 50% / books 30% / code 20% — the standard mixture-composition
    step of training-data curation). Each source's running total is the
    two-phase parallel cumsum (no single-partition window); the oracle
    replays the per-source ROWS cumsum over the same hash order."""
    from xcube_geodb_spark.functions.sampling import mix_corpora

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    srcs = {
        "web": docs.filter(F.col("doc_id") % 3 == 0),
        "books": docs.filter(F.col("doc_id") % 3 == 1),
        "code": docs.filter(F.col("doc_id") % 3 == 2),
    }
    out = mix_corpora(
        srcs,
        {"web": 0.5, "books": 0.3, "code": 0.2},
        total_tokens=6000,
        key_col="doc_id",
        token_col="n_chars",
        seed="m1",
    )
    return out.select("doc_id", "mix_source")


def corpus_cap_per_source(spark, sf_dir):
    """Per-domain document cap (functions/sampling.cap_per_group): at most
    40 docs per source, survivors chosen by md5 hash order — the
    RefinedWeb-style guard against a few giant domains dominating the
    training mix. One shuffle on the group key; the oracle replays the
    row_number over the same hash order."""
    from xcube_geodb_spark.functions.sampling import cap_per_group

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(docs, "source", "doc_id", max_rows=40, seed="cap")


def corpus_cap_tokens_per_source(spark, sf_dir):
    """Per-domain TOKEN budget (functions/sampling.cap_tokens_per_group):
    each source keeps documents in md5 hash order until 600 whitespace
    tokens fill — row-count caps over-sample short-document domains;
    token caps equalize the actual training contribution. Greedy fill:
    the boundary document may overshoot, a domain's first document
    always survives. The oracle replays the same RANGE-frame cumsum
    over the same hash order."""
    from xcube_geodb_spark.functions.sampling import cap_tokens_per_group

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("toks"),
    )
    return cap_tokens_per_group(
        docs, "source", "doc_id", "toks", max_tokens=600, seed="tcap"
    )


def corpus_shuffle(spark, sf_dir):
    """Deterministic corpus shuffle (functions/sampling.deterministic_shuffle):
    every 20th document (to keep the gate result small) with its position
    in the seeded md5 permutation of the FULL corpus — replayable years
    later from the seed alone; physically a range-partitioned sort."""
    from xcube_geodb_spark.functions.sampling import deterministic_shuffle

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return deterministic_shuffle(docs, "doc_id", seed="epoch0").filter(
        F.col("doc_id") % 20 == 0
    )


_CM_PROBES = (
    "spark", "hash", "table", "merge", "window", "sort",
    "row", "scan", "fast", "slow", "value", "zzznotoken",
)


def sketch_token_freq(spark, sf_dir):
    """Count-min frequency sketch (functions/sketch): 4x256 counter
    matrix over the exploded token stream, then frequency estimates for
    12 probe tokens. Sketch output is <= 1024 rows regardless of corpus
    size; the oracle replays the identical md5 bucket math, so estimates
    (over-counts included) hash-match exactly."""
    from xcube_geodb_spark.functions.sketch import count_min_build, count_min_lookup

    toks = load(spark, sf_dir, "documents").select(
        F.explode(text.tokens(F.col("text"))).alias("token")
    )
    sk = count_min_build(toks, "token", depth=4, width=256)
    probes = spark.createDataFrame(
        [(t,) for t in _CM_PROBES], "token string"
    )
    return count_min_lookup(sk, probes, "token", depth=4, width=256)


def sketch_distinct_tokens(spark, sf_dir):
    """KMV bottom-k distinct sketch (functions/sketch.kmv_distinct):
    estimated distinct tokens per language, k=128 over 16 hash shards.
    The estimate is shard-independent (min-k of a union is the min-k of
    per-shard min-ks), which lets the oracle recompute it from the plain
    ranked distinct-hash list."""
    from xcube_geodb_spark.functions.sketch import kmv_distinct

    toks = load(spark, sf_dir, "documents").select(
        "lang", F.explode(text.tokens(F.col("text"))).alias("token")
    )
    return kmv_distinct(toks, "token", ["lang"], k=128, n_shards=16)


def _cm_probe_values() -> str:
    return ", ".join(f"('{t}')" for t in _CM_PROBES)


LLM_SKETCH_ORACLES = {
    "sketch_token_freq": f"""
        WITH toks AS (
            SELECT unnest(string_split({_NORM}, ' ')) AS item FROM documents
        ),
        rows_(r) AS (VALUES (0), (1), (2), (3)),
        sk AS (
            SELECT r, CAST(('0x' || substr(md5('cm' || r || ':' || item),
                                           1, 8)) AS BIGINT) % 256 AS bucket,
                   count(*) AS cnt
            FROM toks CROSS JOIN rows_
            GROUP BY 1, 2
        ),
        probes(item) AS (VALUES {_cm_probe_values()}),
        coords AS (
            SELECT item, r,
                   CAST(('0x' || substr(md5('cm' || r || ':' || item),
                                        1, 8)) AS BIGINT) % 256 AS bucket
            FROM probes CROSS JOIN rows_
        )
        SELECT item AS token, min(coalesce(cnt, 0)) AS est
        FROM coords LEFT JOIN sk USING (r, bucket)
        GROUP BY item
    """,
    "sketch_distinct_tokens": f"""
        WITH t AS (
            SELECT DISTINCT lang,
                   CAST(('0x' || substr(md5('kmv:' || item), 1, 8))
                        AS BIGINT) / 4294967296.0 AS h
            FROM (SELECT lang, unnest(string_split({_NORM}, ' ')) AS item
                  FROM documents)
        ),
        r AS (SELECT lang, h,
                     row_number() OVER (PARTITION BY lang ORDER BY h) AS rk
              FROM t),
        a AS (SELECT lang, count(*) AS n,
                     max(CASE WHEN rk = 128 THEN h END) AS kth
              FROM r GROUP BY lang)
        SELECT lang,
               round(CASE WHEN n < 128 THEN CAST(n AS DOUBLE)
                          ELSE 127.0 / kth END, 6) AS est_distinct
        FROM a
    """,
}


def sample_weighted_quality(spark, sf_dir):
    """Per-row weighted sampling (functions/sampling.hash_sample_weighted):
    keep probability proportional to document length (capped at 1) — the
    quality-weighted downsampling idiom. Pure column algebra; the oracle
    replays the md5 bucket and the rounded per-row cutoff."""
    from xcube_geodb_spark.functions.sampling import hash_sample_weighted

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", (F.least(F.col("n_chars") / 800.0, F.lit(1.0))).alias("w")
    )
    return hash_sample_weighted(docs, "doc_id", "w", seed="wq").select("doc_id")


def text_top_bigrams(spark, sf_dir):
    """Corpus-wide top-20 bigrams (functions/text.top_ngrams): codegen'd
    n-gram transform, map-side-combined count, heap top-k with
    lexicographic tie-break."""
    docs = load(spark, sf_dir, "documents").select("text")
    return text.top_ngrams(docs, n=2, k=20)


def text_unigram_nll(spark, sf_dir):
    """Perplexity-proxy quality (functions/text.unigram_logprob): mean
    unigram surprisal per document under the corpus's own unigram model.
    Vocabulary-bounded shuffles; decimal surprisal sums make the mean
    aggregation-order independent, which the oracle replays."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return text.unigram_logprob(docs)


def pipeline_corpus_curation(spark, sf_dir):
    """The round's curation operators verified COMPOSED: per-source cap
    (<= 60 docs per domain) -> quality-weighted downsampling (keep
    probability = length-based weight) -> deterministic corpus shuffle of
    the survivors. One oracle replays the whole chain — hash-rank window,
    md5 bucket cutoffs, and the global permutation — so stage interfaces
    stay verified together, not just alone."""
    from xcube_geodb_spark.functions.sampling import (
        cap_per_group,
        deterministic_shuffle,
        hash_sample_weighted,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.least(F.col("n_chars") / 700.0, F.lit(1.0)).alias("w"),
    )
    capped = cap_per_group(docs, "source", "doc_id", max_rows=60, seed="cur")
    kept = hash_sample_weighted(capped, "doc_id", "w", seed="curw")
    return deterministic_shuffle(kept.select("doc_id"), "doc_id", seed="cure")


LLM_CORPUS_ORACLES = {
    "pipeline_corpus_curation": """
        WITH capped AS (
            SELECT doc_id, n_chars FROM (
                SELECT doc_id, n_chars,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY md5('cur' || CAST(doc_id AS VARCHAR)),
                                    doc_id
                       ) AS rk
                FROM documents
            ) WHERE rk <= 60
        ),
        kept AS (
            SELECT doc_id FROM (
                SELECT doc_id,
                       CAST(('0x' || substr(md5('curw' ||
                                CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                           % 10000 AS b,
                       round(least(n_chars / 700.0, 1.0) * 10000) AS cut
                FROM capped
            ) WHERE b < cut
        )
        SELECT doc_id,
               CAST(row_number() OVER (
                   ORDER BY md5('cure' || CAST(doc_id AS VARCHAR)), doc_id
               ) - 1 AS BIGINT) AS shuffle_pos
        FROM kept
    """,
    "text_unigram_nll": f"""
        WITH post AS (
            SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok
            FROM documents
        ),
        total AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM post),
        vocab AS (SELECT tok, count(*) AS tf FROM post GROUP BY tok)
        SELECT doc_id, count(*) AS n_tokens,
               floor(CAST(sum(CAST(round(-ln(tf / t), 7) AS DECIMAL(28,7)))
                          AS DOUBLE) / count(*) * 1000000 + 0.5)
                   / 1000000 AS nll
        FROM post JOIN vocab USING (tok) CROSS JOIN total
        GROUP BY doc_id
    """,
    "text_bigram_nll": f"""
        WITH tok AS (
            SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents
        ),
        post AS (
            SELECT doc_id, toks[i] AS w, i
            FROM tok, LATERAL unnest(range(1, len(toks) + 1)) AS t(i)
        ),
        total AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM post),
        uni AS (SELECT w, count(*) AS tf FROM post GROUP BY w),
        big AS (
            SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
            FROM tok, LATERAL unnest(range(1, len(toks))) AS t(i)
            WHERE len(toks) >= 2
        ),
        btab AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
        w1dot AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
        s2 AS (
            SELECT b.doc_id,
                   CAST(round(-ln(0.75 * (c12 / c1) + 0.25 * (tf / n)), 7)
                        AS DECIMAL(28,7)) AS s
            FROM big b
            JOIN btab USING (w1, w2)
            JOIN w1dot USING (w1)
            JOIN uni ON uni.w = b.w2
            CROSS JOIN total
        ),
        s1 AS (
            SELECT p.doc_id,
                   CAST(round(-ln(tf / n), 7) AS DECIMAL(28,7)) AS s
            FROM post p JOIN uni USING (w) CROSS JOIN total
            WHERE p.i = 1
        )
        SELECT doc_id, count(*) AS n_tokens,
               floor(CAST(sum(s) AS DOUBLE) / count(*) * 1000000 + 0.5)
                   / 1000000 AS nll2
        FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
        GROUP BY doc_id
    """,
    "sample_weighted_quality": """
        SELECT doc_id FROM (
            SELECT doc_id,
                   CAST(('0x' || substr(md5('wq' || CAST(doc_id AS VARCHAR)),
                                        1, 8)) AS BIGINT) % 10000 AS b,
                   round(least(n_chars / 800.0, 1.0) * 10000) AS cut
            FROM documents
        ) WHERE b < cut
    """,
    "text_top_bigrams": f"""
        SELECT ngram, count(*) AS n FROM (
            SELECT unnest(CASE WHEN len(toks) >= 2 THEN
                       list_transform(range(1, len(toks)),
                                      i -> toks[i] || ' ' || toks[i+1])
                   ELSE []::VARCHAR[] END) AS ngram
            FROM (SELECT string_split({_NORM}, ' ') AS toks FROM documents)
        )
        GROUP BY ngram
        ORDER BY n DESC, ngram
        LIMIT 20
    """,
}


def _bm25_oracle() -> str:
    k1, b, n_terms = 1.2, 0.75, len(_BM25_TERMS)
    tfs = ", ".join(
        f"CAST(len(list_filter(toks, t -> t = '{t}')) AS DOUBLE) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    dfs = ", ".join(
        f"sum(CASE WHEN len(list_filter(toks, t -> t = '{t}')) > 0"
        f" THEN 1 ELSE 0 END) AS df{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    # identical float association to functions/retrieval.bm25_score:
    # idf * ((tf * (k1+1)) / (tf + k1 * ((1-b) + (b * dl) / avgdl)))
    parts = " + ".join(
        f"ln((n - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
        f" * ((tf{i} * {k1 + 1.0!r}) / (tf{i} + {k1!r} *"
        f" ({1.0 - b!r} + ({b!r} * dl) / avgdl)))"
        for i in range(n_terms)
    )
    return f"""
        WITH d AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks
                   FROM documents),
        stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl,
                   {dfs}
            FROM d
        )
        SELECT doc_id, round({parts}, 6) AS bm25
        FROM (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, {tfs}
              FROM d) CROSS JOIN stats
        ORDER BY bm25 DESC, doc_id
        LIMIT 20
    """


from xcube_geodb_spark.functions.porter import (  # noqa: E402
    porter_py as _pstem,
    porter_sql as _pstem_sql,
)
from xcube_geodb_spark.functions.stopwords import (  # noqa: E402
    stopword_sql_list as _stop_sql_list,
)

# english document pipeline twin: tokenize -> elide Snowball stopwords ->
# Porter-stem (matches filters._fts / retrieval's stemmed index builds)
_ENG_TOKS = f"""list_transform(
                           list_filter(
                               list_filter(
                                   string_split_regex(lower(text),
                                                      '[^a-z0-9]+'),
                                   t -> t != ''),
                               t -> NOT list_contains({_stop_sql_list()}, t)),
                           t -> {_pstem_sql("t")})"""

LLM_RETRIEVAL_ORACLES = {
    "text_ts_rank": f"""
        SELECT doc_id, round(rank, 6) AS rank FROM (
            SELECT doc_id,
                   round(coalesce(sum(n / (n + 1.0)), 0), 9) AS rank
            FROM (
                SELECT doc_id, tok, count(*) AS n FROM (
                    SELECT doc_id, unnest({_ENG_TOKS}) AS tok
                    FROM documents
                )
                GROUP BY doc_id, tok
            )
            WHERE tok IN ('{_pstem("querying")}', '{_pstem("tables")}')
            GROUP BY doc_id
        )
        WHERE rank > 0
        ORDER BY rank DESC, doc_id
        LIMIT 25
    """,
    "text_ts_stat": f"""
        SELECT word, ndoc, nentry FROM (
            SELECT tok AS word,
                   count(DISTINCT doc_id) AS ndoc,
                   count(*) AS nentry
            FROM (
                SELECT doc_id, unnest({_ENG_TOKS}) AS tok
                FROM documents
            )
            GROUP BY tok
        )
        ORDER BY nentry DESC, word
        LIMIT 20
    """,
    "text_phrase_via_index": """
        SELECT DISTINCT doc_id FROM (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               t -> t != '') AS toks
            FROM documents
        )
        WHERE len(list_filter(range(1, len(toks)),
                              i -> toks[i] = 'table'
                                   AND toks[i + 1] = 'table')) > 0
    """,
    # must equal the direct stemmed scan (scan_fts_indexed's semantics);
    # DISTINCT because the index path unions OR-groups distinctly
    "text_fts_via_index": f"""
        SELECT DISTINCT doc_id FROM (
            SELECT doc_id, {_ENG_TOKS} AS toks
            FROM documents
        )
        WHERE (list_contains(toks, '{_pstem("querying")}')
               AND list_contains(toks, '{_pstem("tables")}'))
           OR (list_contains(toks, '{_pstem("merges")}')
               AND NOT list_contains(toks, '{_pstem("windows")}'))
    """,
    "text_bm25_topk": _bm25_oracle(),
    # the indexed path must reproduce the scan path bit-for-bit
    "text_bm25_indexed": _bm25_oracle(),
    # the continuously-built index must agree with the batch scan too
    "stream_bm25_index": _bm25_oracle(),
    "text_bm25_join": _bm25_join_oracle(),
    "corpus_cap_tokens_per_source": """
        SELECT doc_id, source, toks FROM (
            SELECT doc_id, source, toks,
                   sum(toks) OVER (
                       PARTITION BY source
                       ORDER BY md5('tcap' || CAST(doc_id AS VARCHAR)), doc_id
                   ) AS cum
            FROM (
                SELECT doc_id, source,
                       len(string_split(text, ' ')) AS toks
                FROM documents
            )
        ) WHERE cum - toks < 600
    """,
    "corpus_mix_sources": """
        SELECT doc_id, mix_source FROM (
            SELECT doc_id, n_chars, mix_source,
                   sum(n_chars) OVER (
                       PARTITION BY mix_source
                       ORDER BY md5('m1' || mix_source
                                    || CAST(doc_id AS VARCHAR)), doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum
            FROM (
                SELECT doc_id, n_chars,
                       CASE CAST(doc_id % 3 AS INT)
                           WHEN 0 THEN 'web'
                           WHEN 1 THEN 'books'
                           ELSE 'code' END AS mix_source
                FROM documents
            )
        ) WHERE cum - n_chars < CASE mix_source
                                    WHEN 'web' THEN 3000
                                    WHEN 'books' THEN 1800
                                    ELSE 1200 END
    """,
    "corpus_cap_per_source": """
        SELECT doc_id, source FROM (
            SELECT doc_id, source,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5('cap' || CAST(doc_id AS VARCHAR)), doc_id
                   ) AS rk
            FROM documents
        ) WHERE rk <= 40
    """,
    "corpus_shuffle": """
        SELECT doc_id, shuffle_pos FROM (
            SELECT doc_id,
                   CAST(row_number() OVER (
                       ORDER BY md5('epoch0' || CAST(doc_id AS VARCHAR)), doc_id
                   ) - 1 AS BIGINT) AS shuffle_pos
            FROM documents
        ) WHERE doc_id % 20 = 0
    """,
}


def pipeline_corpus_prep(spark, sf_dir):
    """The end-to-end training-corpus preparation pipeline, composed from
    the engine's own operators: near-dup dedup (LSH -> Jaccard verify ->
    connected components, keep min per cluster) -> benchmark
    decontamination (8-gram broadcast anti-join) -> quality-score filter
    -> deterministic train/val/test split. One oracle replays the ENTIRE
    chain in SQL, so the stages are verified composed, not just alone."""
    from xcube_geodb_spark.functions.contamination import decontaminate
    from xcube_geodb_spark.functions.sampling import train_val_test_split

    corpus = _augmented(spark, sf_dir)
    kept = dedup.dedup_pipeline(corpus, jaccard_threshold=0.5)
    bench = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 13 == 0
    ).select("doc_id", "text")
    clean = decontaminate(kept, bench, n=8)
    good = text.with_quality_score(clean).filter(F.col("quality") >= 0.45)
    return train_val_test_split(
        good.select("doc_id"), "doc_id", 0.05, 0.05, seed="prep"
    ).select("doc_id", "split")


_PREP_QUALITY_SQL = _QUALITY_SQL.replace("FROM documents)", "FROM clean)")

LLM_PIPELINE_ORACLES = {
    "pipeline_corpus_prep": f"""
        {_MINHASH_CTES.replace("WITH aug", "WITH RECURSIVE aug", 1)},
        verified AS (
            SELECT id_a, id_b FROM (
                SELECT id_a, id_b,
                       len(list_intersect(a.sh, b.sh)) * 1.0 /
                       len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
                FROM pairs
                JOIN sh a ON a.doc_id = id_a
                JOIN sh b ON b.doc_id = id_b
            ) WHERE jaccard >= 0.5
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM verified
            UNION
            SELECT id_b AS src, id_a AS dst FROM verified
        ),
        reach AS (
            SELECT src AS id, dst AS r FROM edges
            UNION
            SELECT rr.id, e.dst AS r FROM reach rr JOIN edges e ON e.src = rr.r
        ),
        losers AS (SELECT id FROM reach GROUP BY id HAVING min(r) < id),
        kept AS (
            SELECT doc_id, text FROM aug
            WHERE doc_id NOT IN (SELECT id FROM losers)
        ),
        knorm AS (SELECT doc_id, {_NORM} AS t FROM kept),
        bnorm AS (
            SELECT doc_id, {_NORM} AS t FROM documents WHERE doc_id % 13 = 0
        ),
        cg AS (
            SELECT doc_id, unnest({_GRAM8}) AS gram
            FROM (SELECT doc_id, string_split(t, ' ') AS toks, t FROM knorm)
        ),
        bg AS (
            SELECT doc_id AS bench_id, unnest({_GRAM8}) AS gram
            FROM (SELECT doc_id, string_split(t, ' ') AS toks, t FROM bnorm)
        ),
        contaminated AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (gram)),
        clean AS (
            SELECT doc_id, text FROM kept
            WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        ),
        qual AS ({_PREP_QUALITY_SQL})
        SELECT doc_id,
               CASE WHEN b < 500 THEN 'val'
                    WHEN b < 1000 THEN 'test'
                    ELSE 'train' END AS split
        FROM (
            SELECT doc_id,
                   CAST(('0x' || substr(md5('prep' || CAST(doc_id AS VARCHAR)),
                                        1, 8)) AS BIGINT) % 10000 AS b
            FROM qual WHERE quality >= 0.45
        )
    """,
}


LLM_QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_minhash_pairs": dedup_minhash_pairs,
    "dedup_jaccard_verified": dedup_jaccard_verified,
    "dedup_simhash": dedup_simhash,
    "dedup_pipeline_kept": dedup_pipeline_kept,
    "dedup_simhash_near": dedup_simhash_near,
    "dedup_duplicate_spans": dedup_duplicate_spans,
    "text_fuzzy_join": text_fuzzy_join,
    "dedup_lines_rebuilt": dedup_lines_rebuilt,
    "dedup_lines_by_source": dedup_lines_by_source,
    "dedup_incremental_kept": dedup_incremental_kept,
    "dedup_embedding_pairs": dedup_embedding_pairs,
    "dedup_semantic_kept": dedup_semantic_kept,
    "sim_cosine_topk": sim_cosine_topk,
    "sim_matryoshka_topk": sim_matryoshka_topk,
    "sim_matryoshka_funnel": sim_matryoshka_funnel,
    "sim_normalize": sim_normalize,
    "sim_quantize_int8": sim_quantize_int8,
    "sim_quantized_topk": sim_quantized_topk,
    "sim_pq_topk": sim_pq_topk,
    "sim_knn_join": sim_knn_join,
    "sim_lsh_topk": sim_lsh_topk,
    "sim_ivf_topk": sim_ivf_topk,
    "ann_index_topk": ann_index_topk,
    "ann_lsh_multiprobe": ann_lsh_multiprobe,
    "ann_lsh_multitable": ann_lsh_multitable,
    "ann_lsh_tables_atrest": ann_lsh_tables_atrest,
    "ann_ivfpq_topk": ann_ivfpq_topk,
    "ann_ivfpq_refined": ann_ivfpq_refined,
    "ann_ivfpq_residual": ann_ivfpq_residual,
    "text_quality": text_quality,
    "text_lang_id": text_lang_id,
    "text_token_count": text_token_count,
    "text_fingerprint": text_fingerprint,
    "text_profile": text_profile,
    "text_scrub": text_scrub,
    "text_repetition": text_repetition,
    "text_contamination": text_contamination,
    "text_decontaminated": text_decontaminated,
    "dedup_collection_roundtrip": dedup_collection_roundtrip,
    "multimodal_decode": multimodal_decode,
    "multimodal_frames": multimodal_frames,
    "sample_split_documents": sample_split_documents,
    "sample_stratified_lang": sample_stratified_lang,
    "pack_documents_budget": pack_documents_budget,
    "chunk_documents": chunk_documents,
    "pipeline_corpus_prep": pipeline_corpus_prep,
    "text_bm25_topk": text_bm25_topk,
    "text_bm25_indexed": text_bm25_indexed,
    "stream_bm25_index": stream_bm25_index,
    "text_fts_via_index": text_fts_via_index,
    "text_phrase_via_index": text_phrase_via_index,
    "text_ts_stat": text_ts_stat,
    "text_ts_rank": text_ts_rank,
    "text_bm25_join": text_bm25_join,
    "sketch_token_freq": sketch_token_freq,
    "sketch_distinct_tokens": sketch_distinct_tokens,
    "sample_weighted_quality": sample_weighted_quality,
    "text_top_bigrams": text_top_bigrams,
    "text_unigram_nll": text_unigram_nll,
    "text_bigram_nll": text_bigram_nll,
    "corpus_mix_sources": corpus_mix_sources,
    "corpus_cap_per_source": corpus_cap_per_source,
    "corpus_cap_tokens_per_source": corpus_cap_tokens_per_source,
    "corpus_shuffle": corpus_shuffle,
    "pipeline_corpus_curation": pipeline_corpus_curation,
}

LLM_SAMPLING_ORACLES = {
    # chunk i covers tokens [i*48, i*48 + 64); list_slice is 1-based
    # inclusive like Spark's slice
    "chunk_documents": """
        SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
               array_to_string(list_slice(toks, CAST(i * 48 + 1 AS INT),
                                          CAST(i * 48 + 64 AS INT)), ' ')
                   AS chunk_text
        FROM (
            SELECT doc_id, toks,
                   unnest(range(0, greatest(
                       CAST(ceil((len(toks) - 16) / 48.0) AS BIGINT), 1))) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents)
        )
    """,
    "sample_stratified_lang": """
        SELECT doc_id, lang
        FROM (
            SELECT doc_id, lang,
                   CAST(('0x' || substr(md5('strat' || CAST(doc_id AS VARCHAR)),
                                        1, 8)) AS BIGINT) % 10000 AS b
            FROM documents
        )
        WHERE b < CASE lang WHEN 'en' THEN 2500 WHEN 'de' THEN 10000
                            WHEN 'fr' THEN 5000 ELSE 1000 END
    """,
    "sample_split_documents": """
        SELECT doc_id,
               CASE WHEN b < 500 THEN 'val'
                    WHEN b < 1000 THEN 'test'
                    ELSE 'train' END AS split
        FROM (
            SELECT doc_id,
                   CAST(('0x' || substr(md5('r2' || CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 10000 AS b
            FROM documents
        )
    """,
    "pack_documents_budget": """
        SELECT doc_id, lang,
               CAST(floor((cum - toks) / 2048) AS BIGINT) AS pack_id
        FROM (
            SELECT doc_id, lang, toks,
                   sum(toks) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
            FROM (
                SELECT doc_id, lang,
                       CAST(ceil(n_chars / 4.0) AS BIGINT) AS toks
                FROM documents
            )
        )
    """,
}

LLM_ORACLES = {
    **LLM_DEDUP_ORACLES,
    **LLM_SIM_ORACLES,
    **LLM_TEXT_ORACLES,
    **LLM_SAMPLING_ORACLES,
    **LLM_CONTAM_ORACLES,
    **LLM_PIPELINE_ORACLES,
    **LLM_RETRIEVAL_ORACLES,
    **LLM_SKETCH_ORACLES,
    **LLM_CORPUS_ORACLES,
    **LLM_QUANT_TOPK_ORACLE,
    **LLM_PQ_ORACLE,
}
