"""Similarity search over an embedding column (``array<float>``).

- **exact cosine top-k** (:func:`cosine_topk`) — the correctness
  baseline. It picks its scorer by the optimizer's size estimate: a JVM
  expression (per-row higher-order folds, no Python worker) for a small
  input, an Arrow ``mapInPandas`` numpy scorer for a corpus-sized scan.
  Either way a k-row TakeOrderedAndProject finishes (per-partition
  heaps, driver merge of k rows).
- **pruning indexes** — multi-table seeded-rotation sign-LSH
  (:func:`lsh_multitable_topk`), IVF over a seeded coarse quantizer
  (:func:`ivf_topk_seeded`) and product quantization with ADC scoring
  (:func:`pq_topk`, :func:`pq_topk_residual`). Each shrinks the scan to
  a candidate set before an exact JVM rerank, or scores the codes only;
  at rest the bucket is the file clustering key (``operators/ann.py``).

All arithmetic is double-precision with left-to-right accumulation so a
DuckDB oracle matches bit-for-bit (rounded to 6 decimals in outputs).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xcube_geodb_spark.functions.spread import plan_size_bytes


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def l2_normalize(a: Column, eps: float = 1e-12) -> Column:
    """Unit-normalize an embedding column (JVM-side array algebra; the
    standard ingest step before any cosine/LSH/IVF stage — normalizing
    once at rest beats re-dividing in every probe)."""
    n = F.greatest(norm(_to_double(a)), F.lit(eps))
    return F.transform(_to_double(a), lambda x: x / n)


def with_quantized_embedding(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "embedding_q8",
    scale_col: str = "embedding_scale",
    eps: float = 1e-12,
) -> DataFrame:
    """Symmetric int8 scalar quantization: per-vector ``scale =
    max|x|/127`` and ``q_i = round(x_i / scale)`` as ``array<tinyint>``.

    The at-rest compression step for 100 TB embedding stores: 4x smaller
    than float32 (8x vs float64) before parquet encoding, with worst-case
    per-component error scale/2. Pure JVM array algebra — no UDF — so
    quantization fuses into the ingest projection; dot products on the
    int8 arrays times ``scale_a * scale_b`` approximate the float dot
    for probe-side rescoring.
    """
    v = _to_double(F.col(vec_col))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    df = df.withColumn(
        scale_col, F.greatest(amax, F.lit(eps)) / F.lit(127.0)
    )
    q = F.transform(
        _to_double(F.col(vec_col)),
        lambda x: F.round(x / F.col(scale_col)).cast("tinyint"),
    )
    return df.withColumn(out_col, q)


def dequantize_embedding(q: Column, scale: Column) -> Column:
    """Reconstruct the float vector from (int8 array, scale)."""
    return F.transform(q, lambda x: x.cast("double") * scale)


# The exact scorer of :func:`cosine_topk` switches to the JVM expression
# at or below this optimizer estimate of ``(id, vector)``. A Python worker
# costs a ~0.27 s fixed dispatch (measured at sf0.1: scan-only 0.11 s ->
# scan + mapInPandas 0.38 s; the TakeOrdered adds ~0), which dwarfs the
# arithmetic on a corpus the optimizer proves tiny: there the JVM
# expression wins, 0.19 vs 0.32 s best-of-5 at sf0.1. Above it the Arrow
# scorer wins (~7x the JVM folds at 200k x 64).
_COSINE_JVM_MAX_BYTES = 2 * 1024 * 1024


def cosine_topk(
    df: DataFrame,
    query_vector: list[float],
    k: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector: ``(id_col,
    cos_sim)`` with ``cos_sim`` rounded to 6, ordered by ``cos_sim`` desc
    then id; a zero-norm or NaN vector scores NULL and ranks last.

    The scorer follows the optimizer's ``sizeInBytes`` of
    ``df.select(id_col, vec_col)``: the JVM expression
    (:func:`_cosine_topk_jvm`) when ``0 < size <=``
    ``_COSINE_JVM_MAX_BYTES``, the Arrow scorer
    (:func:`_cosine_topk_arrow`) otherwise or when the estimate fails.
    Both return the same rows unless the top ``k`` reaches a row with a
    NULL vector: the Arrow scorer skips such rows, the JVM one ranks
    their NULL score last, tied by id with the zero-norm vectors."""
    size = plan_size_bytes(df.select(id_col, vec_col))
    if size is not None and 0 < size <= _COSINE_JVM_MAX_BYTES:
        return _cosine_topk_jvm(df, query_vector, k, vec_col, id_col)
    return _cosine_topk_arrow(df, query_vector, k, vec_col, id_col)


def _cosine_topk_jvm(
    df: DataFrame,
    query_vector: list[float],
    k: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The JVM scorer of :func:`cosine_topk`, and the rerank of every
    pruned candidate set (LSH, IVF, funnel, refine): no Python worker.

    The scoring expression builds as ONE parsed SQL string: the dim
    literals + three higher-order folds through the Column API cost
    hundreds of py4j round trips of pure driver latency per probe
    (measured ~0.25 s at dim=64); the parse is one call and yields the
    identical Catalyst tree (same zip_with/aggregate folds, literals
    round-trip exactly through repr -> Double.parseDouble)."""
    ql = "array(" + ",".join(f"{float(v)!r}D" for v in query_vector) + ")"
    td = f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE))"

    def _dot(a: str, b: str) -> str:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
            f"(acc, v) -> acc + v)"
        )

    scored = df.select(
        F.col(id_col),
        F.expr(
            # try_divide + nanvl -> NULL: a zero-norm vector divides by
            # zero (an ERROR under ANSI mode, NaN otherwise — which DESC
            # would rank FIRST) and a NaN-component vector scores NaN.
            # NULL ranks last under DESC in both Spark and DuckDB, and
            # matches the Arrow kernel's explicit NaN masking — degenerate
            # vectors rank last consistently on both scorers.
            f"round(nanvl(try_divide({_dot(td, ql)}, "
            f"sqrt({_dot(td, td)}) * sqrt({_dot(ql, ql)})), "
            f"CAST(NULL AS DOUBLE)), 6)"
        ).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col).asc()).limit(k)


def _cosine_kernel(qmat: "np.ndarray", keep: int, vec_col: str, id_col: str):
    """The numpy exact-cosine kernel of both Arrow scorers: one query in
    :func:`_cosine_topk_arrow`, a query matrix of any height in
    :func:`knn_join`. Returns ``score(pdf)``, which yields ``(j, ids,
    sims)`` for each row ``j`` of ``qmat``: the batch's local top
    ``keep`` rows for that query.

    - Rows with a NULL vector are dropped.
    - Dots and norms accumulate in the JVM fold order (vectorized across
      rows, sequential across dims), so raw scores are bit-identical to
      the JVM expression and DuckDB's ``list_dot_product``.
    - Each batch prunes on the ROUNDED score with an id tie-break (the
      global sort key), so a rounding tie wider than ``keep`` cannot
      drop a row locally that wins globally, as raw-score pruning could.
    - NaN (a zero-norm vector) sorts last and comes out as SQL NULL,
      which ranks last under DESC like the JVM scorer's nanvl -> NULL."""
    nq, dim = qmat.shape
    qnorm = np.zeros(nq)
    for d in range(dim):
        qnorm += qmat[:, d] * qmat[:, d]
    qnorm = np.sqrt(qnorm)

    def score(pdf):
        pdf = pdf[pdf[vec_col].notna()]
        n = len(pdf)
        if n == 0:
            return
        # np.stack + astype is the same EXACT float32->float64 widening
        # as per-element float(x), at none of the 12M-call Python cost
        # (measured ~2 s per 200k x 64 batch set)
        mat = np.stack(pdf[vec_col].to_numpy()).astype(
            np.float64, copy=False
        )
        ids = pdf[id_col].to_numpy()
        dots = np.zeros((n, nq))
        vnorm = np.zeros(n)
        for d in range(dim):
            dots += mat[:, d : d + 1] * qmat[:, d]
            vnorm += mat[:, d] * mat[:, d]
        cos = dots / (np.sqrt(vnorm)[:, None] * qnorm[None, :])
        cos_r = np.round(cos, 6)
        m = min(keep, n)
        for j in range(nq):
            order = np.lexsort((ids, -cos_r[:, j]))[:m]
            raw = cos[order, j]
            sims = pd.array(raw, dtype="Float64")
            sims[np.isnan(raw)] = pd.NA
            yield j, ids[order], sims

    return score


def _cosine_topk_arrow(
    df: DataFrame,
    query_vector: list[float],
    k: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    local_margin: int = 32,
) -> DataFrame:
    """The Arrow scorer of :func:`cosine_topk` for corpus-sized scans:
    one ``mapInPandas`` stage runs :func:`_cosine_kernel` over each batch
    and keeps the local top ``k + local_margin``, and one k-row
    TakeOrdered on the rounded score finishes (measured ~7x the JVM
    higher-order-fold projection at 200k x 64: DuckDB parity)."""
    from pyspark.sql import types as T

    score = _cosine_kernel(
        np.array([[float(v) for v in query_vector]], dtype=np.float64),
        k + local_margin, vec_col, id_col,
    )
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("__raw_sim", T.DoubleType()),
        ]
    )

    def _score(batches):
        for pdf in batches:
            for _j, ids, sims in score(pdf):
                yield pd.DataFrame({id_col: ids, "__raw_sim": sims})

    scored = df.select(id_col, vec_col).mapInPandas(_score, out_schema)
    return (
        scored.select(
            F.col(id_col), F.round("__raw_sim", 6).alias("cos_sim")
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_topk_truncated(
    df: DataFrame,
    query_vector: list[float],
    k: int = 20,
    dims: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka-style truncated-dimension cosine top-k (Kusupati et
    al. 2022, arXiv:2205.13147 — MRL embeddings are trained so PREFIXES
    are themselves usable embeddings): score on the first ``dims``
    components only. At the 100-TB design point this is the cheap first
    pass of a two-stage funnel — a prefix column persisted at rest
    scans dims/dim of the bytes (pair with :func:`cosine_topk` over the
    full vectors as the rerank); here the prefix is sliced JVM-side
    before :func:`cosine_topk` scores it (``slice`` is codegen, the full
    column still reads from parquet — persist the prefix to get the IO
    win). Results are exactly the full scorer's semantics on the
    truncated space (same fold order, rounding, NULL ranking)."""
    dims = int(dims)
    if dims < 1 or dims > len(query_vector):
        raise ValueError(
            f"dims must be in [1, {len(query_vector)}] (got {dims})"
        )
    sliced = df.select(
        F.col(id_col), F.slice(F.col(vec_col), 1, dims).alias(vec_col)
    )
    return cosine_topk(
        sliced, [float(v) for v in query_vector[:dims]], k=k,
        vec_col=vec_col, id_col=id_col,
    )


def cosine_topk_funnel(
    df: DataFrame,
    query_vector: list[float],
    k: int = 20,
    dims: int = 16,
    expand: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The two-stage MRL funnel :func:`cosine_topk_truncated` exists
    for: (1) top-``expand`` candidates by PREFIX cosine (the cheap
    corpus pass — with a persisted prefix column it scans dims/dim of
    the bytes), (2) exact full-vector rerank of the candidates to
    top-``k``. Stage 1's output is k-bounded (``expand`` rows), so the
    candidate join back to the full vectors broadcasts; stage 2 runs
    the JVM expression scorer — the right tool for a driver-sized
    candidate set. Fully deterministic (both stages order by the
    ROUNDED score with id tiebreak), so the composition is
    SQL-replayable end-to-end."""
    if expand < k:
        raise ValueError(f"expand ({expand}) must be >= k ({k})")
    cand_ids = cosine_topk_truncated(
        df, query_vector, k=expand, dims=dims,
        vec_col=vec_col, id_col=id_col,
    ).select(id_col)
    cand = df.join(F.broadcast(cand_ids), id_col, "inner")
    return _cosine_topk_jvm(
        cand, query_vector, k=k, vec_col=vec_col, id_col=id_col
    )


def knn_join(
    corpus: DataFrame,
    queries,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    local_margin: int = 32,
    max_batch: int = 100_000,
) -> DataFrame:
    """Batch k-NN join: the ``k`` most cosine-similar corpus vectors for
    EVERY query vector. Returns (query_id, vec_id, cos_sim rounded 6).

    ``queries`` is a DataFrame with (query_id_col, vec_col) — by contract
    a driver-sized batch (thousands, not billions): it is collected once
    and shipped to every task, the batch analogue of the single literal
    query vector in :func:`cosine_topk`.

    Plan, sized for a 100 TB corpus:

    1. **One corpus scan, no corpus shuffle for scoring**: an Arrow
       ``mapInPandas`` stage runs :func:`_cosine_kernel` (the Arrow
       :func:`cosine_topk` scorer's kernel) on each batch against the
       whole query matrix and emits only the local top
       ``k + local_margin`` rows per query per batch — output is bounded
       by batches x queries x k, never corpus-sized. Scores are
       bit-identical to the oracle's; NULL vectors are skipped and
       zero-norm vectors score NULL, so each query's rows equal
       :func:`cosine_topk`'s for that query vector.
    2. **One narrow shuffle** of the surviving candidates keyed by
       query_id; a window ranks on (rounded sim desc, id asc) — the same
       deterministic tie-break every sim_* gate uses.
    """
    from pyspark.sql import Window
    from pyspark.sql import types as T

    # guard the driver-sized-batch contract: probe one row past the limit
    # so an oversized query frame fails fast instead of OOMing the driver.
    probe = queries.select(query_id_col, vec_col).limit(max_batch + 1)
    qrows = probe.collect()
    if len(qrows) > max_batch:
        raise ValueError(
            f"knn_join query batch exceeds max_batch={max_batch} rows; "
            "split the queries into batches or use an LSH/IVF similarity "
            "join for corpus-sized query sets"
        )
    if not qrows:
        raise ValueError("queries is empty")
    qids = [r[0] for r in qrows]
    score = _cosine_kernel(
        np.array([[float(v) for v in r[1]] for r in qrows], dtype=np.float64),
        k + local_margin, vec_col, id_col,
    )
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField(id_col, T.LongType()),
            T.StructField("__raw_sim", T.DoubleType()),
        ]
    )

    def _score(batches):
        for pdf in batches:
            for j, ids, sims in score(pdf):
                yield pd.DataFrame(
                    {
                        "query_id": np.full(len(ids), qids[j], dtype=np.int64),
                        id_col: ids,
                        "__raw_sim": sims,
                    }
                )

    cand = corpus.select(id_col, vec_col).mapInPandas(_score, out_schema)
    ranked = cand.select(
        "query_id", id_col, F.round("__raw_sim", 6).alias("cos_sim")
    ).withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.col("cos_sim").desc(), F.col(id_col).asc()
            )
        ),
    )
    return ranked.filter(F.col("__rn") <= k).drop("__rn").withColumnRenamed(
        "query_id", query_id_col
    )


def lsh_hyperplanes(
    dim: int, n_bits: int = 8, seed: int = 42
) -> list[list[float]]:
    """Seeded Gaussian random hyperplanes for sign-LSH (classic SRP).
    Real embedding corpora concentrate mass in few orthants, so axis-aligned
    sign buckets skew toward one giant bucket; a random rotation spreads
    them. Coefficients are integer-valued (1000-scaled Gaussian, exact in
    every float width) so literals in Spark and the SQL oracle are
    bit-identical; scaling does not change the sign of the projection."""
    rng = np.random.RandomState(seed)
    return [
        [float(int(round(v * 1000))) for v in rng.standard_normal(dim)]
        for _ in range(n_bits)
    ]


def rotation_bucket(vec: str, hyperplanes: list[list[float]]) -> Column:
    """'0'/'1' bucket id: sign of ``vec . r`` per seeded hyperplane.
    ``vec`` names a materialized double-array column (no CSE inside
    higher-order functions).

    The expression builds as one parsed SQL string — bits x dim literal
    arrays through the Column API would cost thousands of py4j round
    trips per call (~0.6 s of pure driver latency per probe at 8x64);
    the single F.expr parse is one."""
    bits = []
    for r in hyperplanes:
        arr = "array(" + ",".join(f"{float(c)!r}D" for c in r) + ")"
        d = (
            f"aggregate(zip_with({vec}, {arr}, (x, y) -> x * y), "
            f"0.0D, (acc, v) -> acc + v)"
        )
        bits.append(f"(CASE WHEN {d} >= 0 THEN '1' ELSE '0' END)")
    return F.expr("concat(" + ", ".join(bits) + ")")


def bucket_of(vector: list[float], hyperplanes: list[list[float]]) -> str:
    """Driver-side bucket of a literal vector — same left-fold arithmetic."""
    return "".join(
        "1" if _py_dot([float(v) for v in vector], r) >= 0 else "0"
        for r in hyperplanes
    )


def lsh_probe_buckets(
    query_vector: list[float],
    hyperplanes: list[list[float]],
    n_probe: int = 1,
) -> list[str]:
    """Multi-probe LSH (Lv et al. 2007, 1-step probing): the query's own
    bucket plus the buckets that differ in the lowest-|margin| bits —
    the hyperplanes the query is closest to, where a true neighbor most
    likely landed on the other side. Raises recall without growing the
    index (vs more tables/bits), at n_probe/2^b of the data scanned.
    Ties on |margin| break by bit index; all arithmetic is the same
    left-fold double algebra as :func:`bucket_of`, so a SQL oracle
    derives the identical probe set.

    ``n_probe`` beyond the full 1-step ring (1 + n_bits buckets)
    continues into 2-step perturbations ordered by margin SUM (the Lv
    et al. perturbation-set ordering restricted to depth 2), so recall
    stays monotone in ``n_probe`` all the way toward a full scan
    instead of silently capping at the single-flip ring (r11)."""
    q = [float(x) for x in query_vector]
    base = bucket_of(q, hyperplanes)
    # geometric distance to the cut, |q.h| / ||h|| — the hyperplanes are
    # Gaussian with ~9% norm spread, so the raw dot would mis-rank flips
    margins = sorted(
        (
            abs(_py_dot(q, [float(c) for c in r]))
            / math.sqrt(_py_dot([float(c) for c in r],
                                [float(c) for c in r])),
            i,
        )
        for i, r in enumerate(hyperplanes)
    )

    def _flip(bucket: str, i: int) -> str:
        return (
            bucket[:i] + ("0" if bucket[i] == "1" else "1") + bucket[i + 1:]
        )

    want = max(1, int(n_probe))
    probes = [base]
    for _m, i in margins[: want - 1]:
        probes.append(_flip(base, i))
    if want > len(probes):
        pairs = sorted(
            (ma + mb, ia, ib)
            for x, (ma, ia) in enumerate(margins)
            for mb, ib in margins[x + 1:]
        )
        for _s, ia, ib in pairs:
            if len(probes) >= want:
                break
            probes.append(_flip(_flip(base, ia), ib))
    return probes


def lsh_table_hyperplanes(
    dim: int, n_bits: int = 4, n_tables: int = 16, seed: int = 42
) -> list[list[list[float]]]:
    """L independent hyperplane sets for multi-table sign-LSH. Each table
    derives from a distinct seed (``seed + 7919*t`` — deterministic, no
    RNG state shared across tables), so bucket collisions are independent
    events: a neighbor missed by one table is caught by another with
    fresh probability. Same integer-valued coefficients as
    :func:`lsh_hyperplanes`, so Spark and the SQL oracle agree bitwise."""
    return [
        lsh_hyperplanes(dim, n_bits, seed + 7919 * t) for t in range(n_tables)
    ]


def lsh_multitable_topk(
    df: DataFrame,
    query_vector: list[float],
    k: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bits: int = 4,
    n_tables: int = 16,
    seed: int = 42,
    n_probe: int = 1,
    tables: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Standard L-table LSH (Indyk & Motwani 1998 / Gionis et al. 1999):
    candidates are the UNION of the query's bucket across ``n_tables``
    independent hyperplane sets, exact cosine top-k over the union.

    Why tables instead of more probes: with one table, recall is capped
    by P(all b bits agree) = p^b for neighbor collision probability
    p = 1 - theta/pi, and neighboring-bucket probes recover little when
    p^b is tiny (measured 0.12 -> 0.14 recall@10 on the structure-free
    fixture). L independent tables give recall 1 - (1 - p^b)^L, which
    climbs geometrically in L. Defaults (b=4, L=16 — raised from L=8 on
    the r7 verdict's recall order) measure recall@10 ~0.91 on the
    uniform-random fixture (expected unique candidate fraction
    1-(1-2^-b)^L ~= 0.64 there; real clustered corpora both recall
    higher and scan less).

    Scale shape: ONE pass over the data computes all L bucket ids as
    JVM-side codegen expressions (no Python, no shuffle before the
    bounded top-k); ``n_probe > 1`` applies per-table multi-probe
    (:func:`lsh_probe_buckets`) for a strict candidate superset, so
    recall is monotone in both ``n_tables`` and ``n_probe``.

    ``n_tables=1`` is classic single-table sign-LSH, the probe of the
    at-rest ``lsh`` index: on the structure-free fixture at 8 bits it
    measured recall@10 0.12 at ``n_probe=1``, 0.13 at 3 and 0.18 at the
    full Hamming-1 ring (9 of 256 buckets)."""
    tabs = tables or lsh_table_hyperplanes(
        len(query_vector), n_bits, n_tables, seed
    )
    cond = None
    for hp in tabs:
        probes = lsh_probe_buckets(query_vector, hp, n_probe)
        c = rotation_bucket("__v", hp).isin(probes)
        cond = c if cond is None else (cond | c)
    bucketed = (
        df.select("*", _to_double(F.col(vec_col)).alias("__v"))
        .filter(cond)
        .drop("__v")
    )
    return _cosine_topk_jvm(bucketed, query_vector, k, vec_col, id_col)


def ivf_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 5,
    sample_size: int = 10000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> "np.ndarray":
    """Coarse quantizer for IVF: Lloyd iterations over a deterministic
    sample (lowest ids — reproducible without RNG). The sample is small and
    fits on the driver; assignment of the full table stays distributed."""
    sample = (
        df.orderBy(id_col).limit(sample_size).select(vec_col).toPandas()[vec_col]
    )
    X = np.asarray([np.asarray(v, dtype=np.float64) for v in sample])
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    cents = X[:n_centroids].copy()
    for _ in range(n_iters):
        sims = X @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(len(cents)):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents


def ivf_assignments(
    df: DataFrame,
    centroids: "np.ndarray",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, centroid_id) assignment — Arrow-batched numpy argmax against the
    broadcast centroid matrix. At scale, write the collection partitioned by
    centroid_id so a probe scans only its lists."""
    cents = centroids.copy()

    @F.pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return pd.Series((X @ cents.T).argmax(axis=1).astype("int32"))

    return df.select(F.col(id_col), F.col(vec_col), _assign(F.col(vec_col)).alias("centroid_id"))


# --- seeded (oracle-replayable) IVF ----------------------------------------


def _py_dot(a: list[float], b: list[float]) -> float:
    """Left-to-right fold — bit-identical to the Column ``dot`` and DuckDB's
    ``list_dot_product`` on the same doubles."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def seed_vectors(
    df: DataFrame,
    n: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """The ``n`` lowest-id vectors as driver-side floats — the shared
    RNG-free seeding fetch behind :func:`seed_centroids` and
    :func:`pq_codebooks`. Callers that need both (an ivfpq build) fetch
    once and pass the result via their ``seeds=`` parameter, halving the
    TakeOrdered jobs per build."""
    rows = df.orderBy(id_col).limit(n).select(vec_col).collect()
    return [[float(x) for x in r[vec_col]] for r in rows]


def seed_centroids(
    df: DataFrame,
    n_centroids: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seeds: list[list[float]] | None = None,
) -> list[list[float]]:
    """Deterministic coarse quantizer: the ``n_centroids`` lowest-id vectors
    (random-sample initialization without RNG — standard for IVF; the
    k-means refinement in :func:`ivf_centroids` is the quality upgrade).
    Driver-sized fetch; the point is that a plain-SQL oracle can derive the
    identical centroids (``ORDER BY id LIMIT n``) and replay assignment.
    ``seeds`` short-circuits the fetch with precomputed
    :func:`seed_vectors` (must cover ``n_centroids`` rows)."""
    if seeds is not None:
        return [list(map(float, s)) for s in seeds[:n_centroids]]
    return seed_vectors(df, n_centroids, vec_col, id_col)


def with_centroid_assignment(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Adds ``centroid_id`` = argmax-cosine centroid (ties -> lowest id)
    with the same left-fold arithmetic as the SQL oracle. The cast vector
    and its norm are materialized in their own projections (no CSE inside
    higher-order functions).

    Built as ONE parsed SQL expression (the :func:`rotation_bucket`
    fast-path precedent): the k_c x dim literal arrays through the Column
    API cost thousands of py4j round trips (~1.5 s of pure driver latency
    per call at 8x64), the single ``F.expr`` parse is one round trip. The
    parsed tree is the same zip_with/aggregate left fold over the same
    double literals, so results are bit-identical."""
    import math

    base = df.select(
        "*",
        F.expr(
            f"transform(`{vec_col}`, x -> CAST(x AS double))"
        ).alias("__v"),
    ).select(
        "*",
        F.expr(
            "SQRT(aggregate(zip_with(__v, __v, (x, y) -> x * y), "
            "0.0D, (acc, v) -> acc + v))"
        ).alias("__vn"),
    )
    entries = []
    for cid, c in enumerate(centroids):
        cn = math.sqrt(_py_dot(c, c))
        arr = "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"
        d = (
            f"aggregate(zip_with(__v, {arr}, (x, y) -> x * y), "
            f"0.0D, (acc, v) -> acc + v)"
        )
        entries.append(
            f"named_struct('sim', {d} / (__vn * {float(cn)!r}D), "
            f"'negcid', {-cid})"
        )
    best = "array_max(array(" + ", ".join(entries) + "))"
    return base.withColumn(
        "centroid_id", F.expr(f"CAST(-({best}.negcid) AS int)")
    ).drop("__v", "__vn")


def probe_ids(
    query_vector: list[float], centroids: list[list[float]], n_probe: int
) -> list[int]:
    """The query's ``n_probe`` nearest centroid ids (cosine, ties -> lowest
    id) — same fold order as the oracle's ORDER BY."""
    import math

    q = [float(x) for x in query_vector]
    qn = math.sqrt(_py_dot(q, q))
    scored = [
        (-(_py_dot(c, q) / (math.sqrt(_py_dot(c, c)) * qn)), cid)
        for cid, c in enumerate(centroids)
    ]
    return [cid for _s, cid in sorted(scored)[:n_probe]]


def ivf_topk_seeded(
    df: DataFrame,
    query_vector: list[float],
    centroids: list[list[float]],
    k: int = 20,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF search against seed centroids, fully oracle-replayable."""
    probes = probe_ids(query_vector, centroids, n_probe)
    cand = with_centroid_assignment(df, centroids, vec_col).filter(
        F.col("centroid_id").isin(probes)
    )
    return _cosine_topk_jvm(cand, query_vector, k, vec_col, id_col)


def pairwise_cosine_above(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bits: int = 8,
    seed: int = 42,
    hyperplanes: list[list[float]] | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= threshold, evaluated only
    within seeded-rotation sign-LSH buckets (bounded join fan-out; the full
    O(n²) pairwise comparison never materializes, and the rotation keeps
    bucket sizes balanced on anisotropic corpora)."""
    if hyperplanes is None:
        if dim is None:
            dim = df.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
        hyperplanes = lsh_hyperplanes(int(dim), n_bits, seed)
    with_bucket = df.select(
        F.col(id_col), _to_double(F.col(vec_col)).alias("__v")
    ).select(
        F.col(id_col),
        F.col("__v"),
        rotation_bucket("__v", hyperplanes).alias("__bucket"),
    )
    a = with_bucket.alias("a")
    b = with_bucket.alias("b")
    return (
        a.join(b, "__bucket")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cosine(F.col("a.__v"), F.col("b.__v")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def quantized_topk(
    df: DataFrame,
    query_vector: list[float],
    k: int = 20,
    q_col: str = "embedding_q8",
    scale_col: str = "embedding_scale",
    id_col: str = "vec_id",
    query_bits: int = 8,
) -> DataFrame:
    """Top-k by approximate dot product computed ENTIRELY in the
    quantized domain — the memory-bound search path for an int8-at-rest
    embedding store (see :func:`with_quantized_embedding`): the scan
    touches only the int8 codes + one scale per vector (4-8x less IO
    than float), and the inner loop is integer multiply-accumulate.

    The query is symmetrically quantized driver-side to ``query_bits``;
    score = (int dot of codes) * vector_scale * query_scale. The integer
    dot is EXACT (no float-association ambiguity), so results replay
    bit-for-bit in any engine — only the final two scale multiplies are
    float. Returns (id, score) with score rounded to 9, heap top-k."""
    import math

    qmax = max(abs(float(v)) for v in query_vector) or 1.0
    levels = (1 << (query_bits - 1)) - 1
    qscale = qmax / levels
    # round half away from zero (like the SQL/Spark data-side round),
    # not Python's banker's rounding
    q_int = [
        int(math.copysign(math.floor(abs(float(v) / qscale) + 0.5), v))
        for v in query_vector
    ]
    q = F.array(*[F.lit(v) for v in q_int])
    int_dot = F.aggregate(
        F.zip_with(
            F.col(q_col), q, lambda a, b: a.cast("long") * b.cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    score = F.round(
        int_dot.cast("double") * F.col(scale_col) * F.lit(qscale), 9
    )
    return (
        df.select(F.col(id_col), score.alias("score_q"))
        .orderBy(F.col("score_q").desc(), F.col(id_col))
        .limit(k)
    )


def pq_codebooks(
    df: DataFrame,
    n_subspaces: int = 8,
    n_centroids: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seeds: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks: the dimension range
    splits into ``n_subspaces`` equal slices, and each subspace's
    ``n_centroids`` centroids are the corresponding slices of the
    lowest-id vectors (the same RNG-free seeding :func:`seed_centroids`
    uses, so a plain-SQL oracle derives identical codebooks; k-means
    refinement per subspace is the quality upgrade, orthogonal to the
    plumbing). Returns ``[subspace][centroid][dim]`` floats —
    driver-sized: m * k * (dim/m) = k * dim values. ``seeds`` reuses a
    precomputed :func:`seed_vectors` fetch (ivfpq builds share it with
    :func:`seed_centroids`)."""
    if seeds is None:
        seeds = seed_vectors(df, n_centroids, vec_col, id_col)
    else:
        seeds = [list(map(float, s)) for s in seeds[:n_centroids]]
    dim = len(seeds[0])
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces} subspaces")
    sd = dim // n_subspaces
    return [
        [seed[j * sd : (j + 1) * sd] for seed in seeds]
        for j in range(n_subspaces)
    ]


def pq_codebooks_trained(
    df: DataFrame,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    n_iters: int = 10,
    sample_size: int = 10000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Lloyd-refined PQ codebooks — the quality upgrade over
    :func:`pq_codebooks`' raw seeding (same upgrade relationship as
    :func:`ivf_centroids` over :func:`seed_centroids`). Per subspace,
    k-means in SQUARED L2 (the metric :func:`pq_encode` and the ADC
    scorer use) over a deterministic lowest-id driver sample; empty
    clusters re-seed from the point farthest from its centroid, so all
    ``n_centroids`` codes stay live. Deterministic without RNG — rebuild
    reproduces the index bit-for-bit. The trained books plug into the
    same ``create_index(kind='ivfpq', options={'codebooks': ...})`` and
    every downstream path (encode, ADC, refine) is unchanged."""
    sample = (
        df.orderBy(id_col).limit(sample_size).select(vec_col).toPandas()[vec_col]
    )
    X = np.asarray([np.asarray(v, dtype=np.float64) for v in sample])
    return _train_subspace_books(X, n_subspaces, n_centroids, n_iters)


def _train_subspace_books(
    X: "np.ndarray", n_subspaces: int, n_centroids: int, n_iters: int
) -> list[list[list[float]]]:
    """Per-subspace Lloyd in squared L2 over a driver-side matrix — the
    shared training core of :func:`pq_codebooks_trained` (raw vectors)
    and :func:`pq_codebooks_trained_residual` (residual matrix). Dead
    codes re-seed from the worst-fit point so all stay live; no RNG."""
    dim = X.shape[1]
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces} subspaces")
    sd = dim // n_subspaces
    books: list[list[list[float]]] = []
    for j in range(n_subspaces):
        S = X[:, j * sd : (j + 1) * sd]
        cents = S[:n_centroids].copy()
        for _ in range(n_iters):
            d2 = ((S[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cents)):
                members = S[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
                else:
                    # revive a dead code with the worst-fit point
                    cents[c] = S[d2.min(axis=1).argmax()]
        books.append([[float(x) for x in c] for c in cents])
    return books


def _py_assign(v: list[float], centroids: list[list[float]]) -> int:
    """Driver-side replica of :func:`with_centroid_assignment`'s
    argmax-cosine (ties -> lowest cid), same fold order."""
    return probe_ids(v, centroids, 1)[0]


def pq_codebooks_residual(
    df: DataFrame,
    centroids: list[list[float]],
    n_subspaces: int = 8,
    n_centroids: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    skip: int | None = None,
    seed_rows: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Deterministic RESIDUAL codebooks: like :func:`pq_codebooks`, but
    each seed is a low-id vector's residual vs its assigned coarse
    centroid — the right seeding when :func:`pq_encode` quantizes
    residuals (raw-vector seeds live at the wrong scale for residual
    space, which is centered near zero). Plain double subtraction on the
    driver, so a SQL oracle re-derives identical seeds relationally.

    ``skip`` (default ``len(centroids)``) offsets the seed window past
    the first rows: when the coarse centroids came from
    :func:`seed_centroids` on the SAME data — the default index path —
    the lowest-id vectors ARE the centroids and their residuals are
    exactly zero, which would degenerate every codebook entry to the
    zero vector (all codes tie to 0 and ADC stops discriminating)."""
    if skip is None:
        skip = len(centroids)
    if seed_rows is not None:
        # precomputed seed_vectors fetch (must cover skip + n_centroids
        # rows when the table has that many)
        rows = [{vec_col: v} for v in seed_rows[: skip + n_centroids]]
    else:
        rows = (
            df.orderBy(id_col)
            .limit(skip + n_centroids)
            .select(vec_col)
            .collect()
        )

    def _resid(r):
        v = [float(x) for x in r[vec_col]]
        c = centroids[_py_assign(v, centroids)]
        return [a - b for a, b in zip(v, c)]

    picked = rows[skip : skip + n_centroids]
    if len(picked) >= n_centroids:
        seeds = [_resid(r) for r in picked]
    else:
        # tiny table: the window past `skip` is short, so seed from the
        # tail — but reject INDIVIDUAL zero-residual rows (a zero
        # residual means the row IS a coarse centroid; a partially
        # degenerate codebook would otherwise pass silently with
        # duplicate zero codes that quietly hurt ADC recall). Scan
        # backwards for determinism, restore forward order at the end.
        tail: list[list[float]] = []
        for r in reversed(rows):
            res = _resid(r)
            if any(x != 0.0 for x in res):
                tail.append(res)
                if len(tail) == n_centroids:
                    break
        if len(tail) < n_centroids:
            raise ValueError(
                "residual codebook seeds are all zero or too few rows "
                "have non-zero residuals (seed rows coincide with the "
                "coarse centroids); add data or pass explicit codebooks"
            )
        seeds = list(reversed(tail))
    if all(all(x == 0.0 for x in s) for s in seeds):
        # normal-path guard (seeds past `skip` can still all be zero if
        # the data repeats the centroid rows); an all-zero codebook
        # cannot discriminate, fail loudly
        raise ValueError(
            "residual codebook seeds are all zero (every seed row is a "
            "coarse centroid); add data or pass explicit codebooks"
        )
    dim = len(seeds[0])
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces} subspaces")
    sd = dim // n_subspaces
    return [
        [seed[j * sd : (j + 1) * sd] for seed in seeds]
        for j in range(n_subspaces)
    ]


def pq_codebooks_trained_residual(
    df: DataFrame,
    centroids: list[list[float]],
    n_subspaces: int = 8,
    n_centroids: int = 16,
    n_iters: int = 10,
    sample_size: int = 10000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Lloyd-refined codebooks over RESIDUAL space: the deterministic
    lowest-id sample is re-expressed as residuals vs the coarse
    quantizer before per-subspace k-means — the composition FAISS calls
    IVFADC training. Same determinism guarantees as
    :func:`pq_codebooks_trained` (no RNG, dead codes revived)."""
    sample = (
        df.orderBy(id_col)
        .limit(sample_size)
        .select(vec_col)
        .toPandas()[vec_col]
    )
    X = np.asarray([np.asarray(v, dtype=np.float64) for v in sample])
    # vectorized cosine assignment (training is not oracle-replayed, so
    # numpy reduction order is fine; determinism is what matters)
    C = np.asarray(centroids, dtype=np.float64)
    sims = (X @ C.T) / (
        np.linalg.norm(X, axis=1, keepdims=True) * np.linalg.norm(C, axis=1)
    )
    R = X - C[sims.argmax(axis=1)]
    return _train_subspace_books(R, n_subspaces, n_centroids, n_iters)


# Above this many (subspace x centroid) codebook entries, pq_encode
# switches from the parsed SQL encoder (whose expression tree grows with
# every entry) to an Arrow-batched numpy encoder. 512 keeps every
# oracle-replayed seeded configuration (8x8, 8x16) on the bit-stable SQL
# encoder; production-resolution trained books (16x256 — classic 8-bit
# PQ) take the numpy encoder. ADC scoring is one parsed SQL expression
# at every size.
_PQ_COLUMN_PATH_MAX_ENTRIES = 512


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
    centroids: list[list[float]] | None = None,
    bucket_col: str = "centroid_id",
) -> DataFrame:
    """Adds ``pq_code``: per subspace, the index of the nearest codebook
    centroid (squared L2; ties -> lowest code). The at-rest form for
    PQ-compressed embedding stores: m bytes per vector instead of
    4*dim — 32x smaller than float32 at m=8, dim=64.

    With ``centroids`` set, the RESIDUAL ``v - centroids[bucket_col]``
    is encoded instead of the raw vector (IVFADC) — one extra zip_with
    subtraction, still replayed bit-for-bit by the SQL oracle.

    Small codebooks (the oracle-replayable seeded configs) encode as
    one parsed SQL expression: every (subspace, centroid) distance is a
    sequential left-fold of squared differences (the association the SQL
    oracle replays bit-for-bit — only +,-,* on identical doubles, no
    transcendentals), and the argmin is the (-dist, -code) struct-max
    idiom assignment uses. No UDF, no shuffle.

    Large codebooks (``m * k >`` 512 entries, e.g. trained 16x256 8-bit
    PQ) switch to an Arrow-batched numpy encoder: one vectorized
    argmin per subspace per batch — the same
    squared-L2 metric and lowest-code tie rule, at none of the
    per-entry expression-tree cost. Deterministic, but not replayed by
    a plain-SQL oracle (numpy reduction order); keep seeded books for
    hash-gated paths."""
    m = len(codebooks)
    sd = len(codebooks[0][0])
    if m * len(codebooks[0]) > _PQ_COLUMN_PATH_MAX_ENTRIES:
        books_np = [np.asarray(b, dtype=np.float64) for b in codebooks]
        cents_np = (
            np.asarray(centroids, dtype=np.float64)
            if centroids is not None
            else None
        )

        def _codes_of(X: "np.ndarray") -> pd.Series:
            n_rows = len(X)
            codes = np.empty((n_rows, m), dtype=np.int32)
            for j in range(m):
                S = X[:, j * sd : (j + 1) * sd]
                d2 = ((S[:, None, :] - books_np[j][None, :, :]) ** 2).sum(
                    axis=2
                )
                codes[:, j] = d2.argmin(axis=1)  # ties -> lowest code
            return pd.Series(list(codes))

        if centroids is not None:

            @F.pandas_udf("array<int>")
            def _enc_res(vecs: pd.Series, buckets: pd.Series) -> pd.Series:
                X = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in vecs]
                )
                X = X - cents_np[buckets.to_numpy(dtype=np.int64)]
                return _codes_of(X)

            return df.withColumn(
                out_col, _enc_res(F.col(vec_col), F.col(bucket_col))
            )

        @F.pandas_udf("array<int>")
        def _enc(vecs: pd.Series) -> pd.Series:
            X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
            return _codes_of(X)

        return df.withColumn(out_col, _enc(F.col(vec_col)))
    # one parsed SQL expression, as in rotation_bucket and pq_topk: one
    # py4j round trip instead of m*k Column-API entries (~4.7 s of pure
    # driver latency per build at 8x8x8)
    if centroids is not None:
        cents_arr = (
            "array("
            + ",".join(
                "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"
                for c in centroids
            )
            + ")"
        )
        df = df.withColumn(
            "__pqresid",
            F.expr(
                f"zip_with(transform(`{vec_col}`, x -> CAST(x AS double)), "
                f"element_at({cents_arr}, `{bucket_col}` + 1), "
                f"(a, b) -> a - b)"
            ),
        )
        v = "__pqresid"
    else:
        v = f"transform(`{vec_col}`, x -> CAST(x AS double))"
    codes = []
    for j in range(m):
        entries = []
        for code, cent in enumerate(codebooks[j]):
            arr = "array(" + ",".join(f"{float(x)!r}D" for x in cent) + ")"
            dist = (
                f"aggregate(zip_with(slice({v}, {j * sd + 1}, {sd}), {arr}, "
                f"(a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x)"
            )
            entries.append(
                f"named_struct('negd', -({dist}), 'negc', {-code})"
            )
        best = "array_max(array(" + ", ".join(entries) + "))"
        codes.append(f"CAST(-({best}.negc) AS int)")
    out = df.withColumn(out_col, F.expr("array(" + ", ".join(codes) + ")"))
    return out.drop("__pqresid") if centroids is not None else out


def pq_topk(
    df: DataFrame,
    query_vector: list[float],
    codebooks: list[list[list[float]]],
    k: int = 20,
    code_col: str = "pq_code",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query's
    distance to every subspace centroid is precomputed driver-side (an
    m x k table), so scoring a vector is m table lookups + an exact
    decimal sum — the scan reads only the m-byte codes. Approximate
    squared L2; ``dist_adc`` rounds per-entry to 9 decimals and sums as
    DECIMAL(28,9), so any engine replays the ranking exactly. Returns
    (id, dist_adc) ascending, heap top-k."""
    m = len(codebooks)
    sd = len(codebooks[0][0])
    if len(query_vector) != m * sd:
        raise ValueError("query dimension does not match the codebooks")
    # one parsed SQL expression: the lookups and the DECIMAL(28,9) sum
    # cost one parse instead of m*k py4j round trips, so probe latency
    # stays flat as codebooks grow
    score = F.expr(_adc_score_sql(_adc_table(query_vector, codebooks), code_col))
    return (
        df.select(
            F.col(id_col), score.cast("double").alias("dist_adc")
        )
        .orderBy(F.col("dist_adc").asc(), F.col(id_col))
        .limit(k)
    )


def _adc_score_sql(
    tables: list[list[float]],
    code_col: str,
    case_bucket: tuple[str, dict[int, list[list[float]]]] | None = None,
) -> str:
    """The ADC scoring expression as ONE SQL string. Plain form: per
    subspace, ``element_at(array(<double literals>), code[j]+1)`` cast to
    DECIMAL(28,9), summed. With ``case_bucket=(bucket_col, {probe:
    tables})``, each subspace's array is selected by a chained CASE over
    the probed lists (the residual/IVFADC form). Literals round-trip
    exactly through repr -> Double.parseDouble, so the scores equal a
    per-entry DECIMAL(28,9) sum of the :func:`_adc_table` entries."""

    def _arr(row: list[float]) -> str:
        return "array(" + ",".join(f"{float(v)!r}D" for v in row) + ")"

    parts = []
    m = len(tables)
    for j in range(m):
        if case_bucket is None:
            sel = _arr(tables[j])
        else:
            bucket_col, by_probe = case_bucket
            whens = " ".join(
                f"WHEN `{bucket_col}` = {int(p)} THEN {_arr(tbl[j])}"
                for p, tbl in by_probe.items()
            )
            sel = f"(CASE {whens} END)"
        parts.append(
            f"CAST(element_at({sel}, element_at(`{code_col}`, {j + 1}) + 1) "
            f"AS DECIMAL(28,9))"
        )
    return " + ".join(parts)


def _adc_table(
    query_vector: list[float], codebooks: list[list[list[float]]]
) -> list[list[float]]:
    """The m x k ADC distance table for one query vector: per (subspace,
    code), the squared L2 between the query's subspace slice and the
    codebook entry, accumulated left-to-right and rounded to 9 decimals
    so any engine replays the ranking exactly."""
    m = len(codebooks)
    sd = len(codebooks[0][0])
    tables = []
    for j in range(m):
        qs = [float(x) for x in query_vector[j * sd : (j + 1) * sd]]
        row = []
        for cent in codebooks[j]:
            acc = 0.0
            for a, b in zip(qs, cent):
                d = a - b
                acc = acc + d * d
            row.append(round(acc, 9))
        tables.append(row)
    return tables


def pq_topk_residual(
    df: DataFrame,
    query_vector: list[float],
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    probes: list[int],
    k: int = 20,
    code_col: str = "pq_code",
    id_col: str = "vec_id",
    bucket_col: str = "centroid_id",
) -> DataFrame:
    """Residual ADC top-k (the IVFADC search half): codes quantize
    ``v - centroids[bucket]``, so the query side needs ONE distance table
    per probed list, built from the query's residual vs that list's
    centroid (``q - centroids[p]``). Scoring stays m table lookups + a
    decimal sum per row — the per-row table is selected by the row's
    coarse bucket via a chained CASE over the (few) probed lists, all
    inside codegen. ``df`` is re-filtered to the probed lists internally
    (idempotent with the caller's filter; without it a row from an
    un-probed list would score NULL and NULLS-FIRST-sort into the
    top-k). Returns (id, dist_adc) ascending."""
    m = len(codebooks)
    sd = len(codebooks[0][0])
    if len(query_vector) != m * sd:
        raise ValueError("query dimension does not match the codebooks")
    df = df.filter(F.col(bucket_col).isin([int(p) for p in probes]))
    q = [float(x) for x in query_vector]
    tables = {
        int(p): _adc_table(
            [a - b for a, b in zip(q, centroids[p])], codebooks
        )
        for p in probes
    }
    score = F.expr(
        _adc_score_sql(
            next(iter(tables.values())), code_col,
            case_bucket=(bucket_col, tables),
        )
    )
    return (
        df.select(F.col(id_col), score.cast("double").alias("dist_adc"))
        .orderBy(F.col("dist_adc").asc(), F.col(id_col))
        .limit(k)
    )
