"""BM25 full-text retrieval over a document table.

The reference's full-text surface is the PostgREST ``fts`` filter family
(boolean token match, ``xcube_geodb/sql/geodb.sql`` raw-SQL passthrough
admits ``to_tsquery``); ranking a corpus against a query is the natural
next step for a training-data pipeline (e.g. mining documents relevant to
a benchmark prompt).  This module implements Okapi BM25 as pure Column
algebra, designed to stay cheap at 100 TB:

- Query terms are a handful of literals, so per-document term frequencies
  are ``size(filter(tokens, t == term))`` **columns** — no corpus explode,
  no (doc, term) shuffle, the whole score is one codegen'd projection.
- The only full passes are two tiny aggregations (corpus size + average
  document length, per-term document frequencies), each reducing to a
  single driver row of scalars, the same pattern the IVF centroid seed
  uses.
- Top-k is ``orderBy(score).limit(k)`` → TakeOrderedAndProject (per
  partition heaps, no global sort).

Scoring is arranged so a SQL oracle replays it bit-for-bit: integer
inputs (tf, dl, N, df), one fixed association for every float expression,
and a final ``round(score, 6)``.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from xcube_geodb_spark.functions.text import tokens

__all__ = [
    "fts_docs_from_index",
    "fts_collection_docs",
    "positional_index",
    "phrase_docs_from_index",
    "phrase_collection_docs",
    "term_frequency",
    "bm25_score",
    "bm25_topk",
    "bm25_join",
    "inverted_index",
    "ts_stat",
    "corpus_totals",
    "bm25_topk_from_index",
    "build_bm25_collection",
    "bm25_collection_topk",
]


def term_frequency(toks: Column, term: str) -> Column:
    """Occurrences of ``term`` in the token array — a codegen'd
    higher-order-function filter, no explode."""
    return F.size(F.filter(toks, lambda t: t == F.lit(term)))


def _corpus_stats(docs: DataFrame, toks: Column, terms: list[str]):
    """One aggregation pass: corpus size, total token count, and the
    document frequency of every query term.  Returns plain Python ints —
    a single driver row, independent of corpus size."""
    aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.size(toks)).alias("__dl"),
    ]
    for i, term in enumerate(terms):
        aggs.append(
            F.sum((term_frequency(toks, term) > 0).cast("long")).alias(f"__df{i}")
        )
    row = docs.agg(*aggs).collect()[0]
    return int(row["__n"]), int(row["__dl"]), [int(row[f"__df{i}"]) for i in range(len(terms))]


def bm25_score(
    docs: DataFrame,
    terms: list[str],
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Adds a ``bm25`` column scoring every document against ``terms``.

    idf uses the standard non-negative variant
    ``ln((N - df + 0.5) / (df + 0.5) + 1)``; term scores are summed in
    query order (fixed float association so any engine replays the sum),
    then rounded to 6 decimals.
    """
    if not terms:
        raise ValueError("bm25_score needs at least one query term")
    toks = tokens(F.col(text_col))
    n_docs, total_dl, dfs = _corpus_stats(docs, toks, terms)
    avgdl = total_dl / n_docs if n_docs else 1.0

    dl = F.size(toks).cast("double")
    score = None
    for term, dfv in zip(terms, dfs):
        idf = math.log((n_docs - dfv + 0.5) / (dfv + 0.5) + 1.0)
        tf = term_frequency(toks, term).cast("double")
        part = F.lit(idf) * (
            tf * F.lit(k1 + 1.0)
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl)))
        )
        score = part if score is None else score + part
    return docs.withColumn("bm25", F.round(score, 6))


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents by BM25 — deterministic (ties broken by id), and
    physically a TakeOrderedAndProject: every partition keeps a local
    k-heap, the driver merges k-sized lists, nothing global is sorted."""
    scored = bm25_score(docs, terms, text_col=text_col, k1=k1, b=b)
    return (
        scored.select(id_col, "bm25")
        .orderBy(F.col("bm25").desc(), F.col(id_col))
        .limit(k)
    )


def bm25_join(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Batch retrieval: top-``k`` documents per query for a whole query
    table — the text analog of ``similarity.knn_join``.

    The 100 TB plan is the posting-stream shape contamination detection
    uses: corpus tokens explode into a posting stream that is immediately
    **filtered through a broadcast of the (tiny) query-term table**, so
    the only rows that ever shuffle are postings whose term some query
    mentions; per-(doc, term) tf aggregates map-side first. Document
    frequencies come from the matched postings themselves (one extra
    shrink-aggregation), corpus size / average length from one scalar
    pass. Non-matching documents never appear (score would be 0), so
    state is O(matched postings), not O(corpus x queries).

    Per-term scores are rounded to 7 decimals and summed as exact
    DECIMAL(28,7) — associative, order-independent (and the rounding
    granularity dwarfs any cross-engine 1-ulp libm drift) — so the final
    ``bm25`` (rounded to 6) is reproducible by any engine regardless of
    aggregation order. Returns ``(query_id, doc_id, bm25)``, at most k
    rows per query (fewer when fewer documents match any term).
    """
    toks = tokens(F.col(text_col))
    row = docs.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.size(toks)).alias("t")
    ).collect()[0]
    n_docs = int(row["n"])
    avgdl = int(row["t"]) / n_docs if n_docs else 1.0

    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(tokens(F.col(query_text_col))).alias("term"),
        )
        .distinct()
    )
    post = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("double").alias("dl"),
        F.explode(toks).alias("term"),
    )
    # cache the matched-postings aggregate: it feeds both the document
    # frequencies and the scoring join, and is small by construction
    # (docs that contain a query term x matched terms)
    tf = (
        post.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("doc_id", "term")
        .agg(
            F.count(F.lit(1)).cast("double").alias("tf"),
            F.first("dl").alias("dl"),
        )
        .cache()
    )
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    part = idf * (
        (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + (F.lit(b) * F.col("dl")) / F.lit(avgdl))
        )
    )
    scored = (
        tf.join(F.broadcast(dft), "term")
        .join(F.broadcast(qterms), "term")
        .select(
            "query_id",
            "doc_id",
            F.round(part, 7).cast("decimal(28,7)").alias("part"),
        )
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("part").cast("double"), 6).alias("bm25")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id")
    )
    return (
        agg.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


# ---------------------------------------------------------------------------
# at-rest inverted index: the retrieval layout for a 100 TB corpus
# ---------------------------------------------------------------------------


def inverted_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    stemmed: bool = False,
) -> DataFrame:
    """Postings TABLE ``(token, doc_id, tf, dl)`` — one row per
    (token, document), with the document length denormalized.

    Document frequency is deliberately NOT stored: ``df(token)`` equals
    the number of posting rows for that token, and a query scans ALL
    rows of its terms anyway, so the scorer derives df exactly from the
    scanned subset. A stored df would go stale on every incremental
    append (:func:`extend_bm25_collection`) and need a full-index
    rewrite to fix.

    Rows, not per-token arrays: a stopword's postings can be
    corpus-sized, and a row-per-posting layout shards it across files
    naturally, while ``collect_list`` would have to materialize it in one
    executor. Range-clustered by ``token`` at rest (``btree`` index in
    :func:`build_bm25_collection`), a query's terms map to a handful of
    pruned files — the scan cost is O(matching postings), not O(corpus).
    """
    toks = tokens(F.col(text_col))
    if stemmed:
        from xcube_geodb_spark.functions.porter import porter_col
        from xcube_geodb_spark.functions.stopwords import (
            ENGLISH_STOPWORDS_SORTED,
        )

        # stopword elision then stemming — the same english document
        # pipeline as filters._fts, so index answers equal scan answers
        stop = list(ENGLISH_STOPWORDS_SORTED)
        toks = F.filter(toks, lambda t: ~t.isin(stop))
        toks = F.transform(toks, porter_col)
    base = docs.select(F.col(id_col), toks.alias("__t")).select(
        F.col(id_col),
        F.size("__t").alias("dl"),
        F.explode("__t").alias("token"),
    )
    return base.groupBy("token", id_col, "dl").agg(
        F.count(F.lit(1)).alias("tf")
    ).select("token", F.col(id_col), "tf", "dl")


def corpus_totals(
    docs: DataFrame, text_col: str = "text"
) -> tuple[int, int]:
    """(n_docs, total_token_count) — the two corpus scalars BM25 needs
    beyond the postings; one aggregation to a single driver row."""
    row = docs.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.size(tokens(F.col(text_col)))).alias("__dl"),
    ).collect()[0]
    return int(row["__n"]), int(row["__dl"] or 0)


def bm25_topk_from_index(
    postings: DataFrame,
    n_docs: int,
    total_dl: int,
    terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k by BM25 reading ONLY the query terms' postings.

    Bit-identical to :func:`bm25_topk` for every document containing at
    least one query term: tf/dl/df/N are the same integers, idf the same
    driver-side float, and the per-term score expression and summation
    order are structurally identical (term pivot columns, not an
    unordered float SUM over rows). Documents containing NO query term
    (direct-path score 0.0) are absent here — callers wanting the direct
    path's zero-score tail at k > matches must fall back to the full
    scan."""
    if not terms:
        raise ValueError("bm25_topk_from_index needs at least one query term")
    avgdl = total_dl / n_docs if n_docs else 1.0
    sub = postings.filter(F.col("token").isin(list(terms)))
    # df(token) == posting-row count for the token; the filter already
    # scans every such row, so this one small aggregate is exact — and
    # stays exact across incremental index appends
    dfs = {
        r["token"]: int(r["df"])
        for r in sub.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    per_doc = sub.groupBy(id_col, "dl").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("token") == t, F.col("tf"))), F.lit(0)
            ).alias(f"__tf{i}")
            for i, t in enumerate(terms)
        ]
    )
    dl = F.col("dl").cast("double")
    score = None
    for i, term in enumerate(terms):
        dfv = dfs.get(term, 0)
        idf = math.log((n_docs - dfv + 0.5) / (dfv + 0.5) + 1.0)
        tf = F.col(f"__tf{i}").cast("double")
        part = F.lit(idf) * (
            tf * F.lit(k1 + 1.0)
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl)))
        )
        score = part if score is None else score + part
    return (
        per_doc.select(F.col(id_col), F.round(score, 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col))
        .limit(k)
    )


def build_bm25_collection(
    catalog,
    name: str,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    database: str = "public",
    max_file_rows: int | None = None,
) -> None:
    """Materialize the inverted index as a warehouse collection
    range-clustered by token (btree index), with the corpus scalars in
    the collection metadata — committed atomically WITH the postings, so
    a reader never sees postings from one corpus snapshot and totals
    from another."""
    from xcube_geodb_spark.admin import IndexManager
    from xcube_geodb_spark.operators.dml import insert_into_collection

    catalog.create_collection(
        name,
        {
            "token": "text",
            id_col: "bigint",
            "tf": "int",
            "dl": "int",
        },
        database=database,
    )
    if max_file_rows is not None:
        # versioned commit (not a raw metadata.json swap): keeps the
        # max_file_rows knob from ever reverting a concurrent commit's
        # manifest pointer, same protocol as every other metadata change
        catalog.commit_meta_change(
            name,
            database,
            lambda m: {"max_file_rows": int(max_file_rows)},
            operation="SET TBLPROPERTIES",
        )
    IndexManager(catalog).create_index(name, "token", database, kind="btree")
    n_docs, total_dl = corpus_totals(docs, text_col)
    insert_into_collection(
        catalog,
        name,
        inverted_index(docs, text_col, id_col),
        database=database,
        merge_meta={"bm25_stats": {"n_docs": n_docs, "total_dl": total_dl}},
    )


def extend_bm25_collection(
    catalog,
    name: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    database: str = "public",
    extra_merge_meta: dict | None = None,
) -> None:
    """Incrementally index a new document batch: its postings APPEND (new
    doc ids make the (token, doc) rows disjoint from the existing index),
    and the corpus scalars advance additively in the same atomic commit —
    a reader always scores against a consistent (postings, totals) pair.
    df needs no maintenance at all (derived at query time from the
    scanned rows). The at-rest token clustering degrades as appends
    interleave token ranges; ``optimize_collection`` restores it without
    changing any result."""
    from xcube_geodb_spark.operators.dml import insert_into_collection

    # WRITE-path snapshot: rolls forward any crashed commit first, so
    # the version pin below derives from the rolled-forward version —
    # a plain meta() read after a crash-after-commit-point would pin the
    # stale pointer and fail the first extend with a spurious
    # concurrent-modification error
    m = catalog.meta_for_write(name, database)
    stats = m.d.get("bm25_stats") or {}
    if not stats:
        raise ValueError(
            f"Collection {database}_{name} carries no bm25_stats metadata"
        )
    d_n, d_dl = corpus_totals(new_docs, text_col)
    merge = {
        "bm25_stats": {
            "n_docs": int(stats["n_docs"]) + d_n,
            "total_dl": int(stats["total_dl"]) + d_dl,
        }
    }
    merge.update(extra_merge_meta or {})
    # the absolute totals above were derived from the m.version snapshot;
    # pin the commit to it so a commit landing in between surfaces as the
    # concurrent-modification error instead of silently losing the other
    # writer's delta (concurrent extenders serialize through that error)
    insert_into_collection(
        catalog,
        name,
        inverted_index(new_docs, text_col, id_col),
        database=database,
        merge_meta=merge,
        expected_version=m.version,
    )


def bm25_collection_topk(
    catalog,
    name: str,
    terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    database: str = "public",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k against an at-rest inverted-index collection: the
    ``token=in.(...)`` scan prunes to the files whose token range admits
    the query terms (btree clustering + manifest stats) before any
    scoring runs — at 100 TB the probe reads a few postings files, never
    the corpus."""
    from xcube_geodb_spark.operators.scan import get_collection

    m = catalog.meta(name, database)
    stats = (m.d.get("bm25_stats") or {})
    if not stats:
        raise ValueError(
            f"Collection {database}_{name} carries no bm25_stats metadata"
        )
    for t in terms:
        # postings tokens come from the [a-z0-9]+ tokenizer; anything else
        # can't match and would only risk mis-quoting the filter literal
        if not re.fullmatch(r"[a-z0-9]+", t):
            raise ValueError(
                f"query term {t!r} is not a tokenizer-normal token"
                " (lower-case [a-z0-9]+)"
            )
    quoted = ",".join(f'"{t}"' for t in terms)
    sub = get_collection(
        catalog, name, f"token=in.({quoted})", database=database
    )
    return bm25_topk_from_index(
        sub,
        int(stats["n_docs"]),
        int(stats["total_dl"]),
        terms,
        k=k,
        id_col=id_col,
        k1=k1,
        b=b,
    )


def fts_docs_from_index(
    postings: DataFrame,
    tsquery: str,
    id_col: str = "doc_id",
    stemmed: bool = False,
    op: str = "fts",
) -> DataFrame:
    """Boolean fts evaluated ENTIRELY from the postings index — the GIN
    path: matching document ids for a filters._fts-semantics query
    without ever scanning the text column. ``op`` selects the grammar:
    ``fts`` (``a&b|!c`` — ``|`` lowest precedence over ``&`` groups of
    optionally negated terms; ``!`` and ``-`` prefixes both negate,
    exactly as filters._fts.term), ``plfts`` (plain: every word
    required), or ``wfts`` (websearch: bare words ANDed, ``-word`` /
    ``!word`` negated, ``or`` separates alternatives). ``stemmed`` stems query
    terms with the same Porter pipeline the index was built with
    (``inverted_index(stemmed=True)``).

    Physical shape per OR-group: one scan of the group's terms' postings
    (token-range file pruning applies at rest), a per-doc distinct-term
    count equality for the AND, and an anti-join against the negated
    terms' postings. Groups union DISTINCT. Phrases (``phfts``, quoted
    websearch phrases, multi-word terms) are not expressible from a
    bag-of-words index (no positions) and raise — exactly PG's GIN
    recheck boundary.
    """
    from xcube_geodb_spark.errors import GeoDBError
    from xcube_geodb_spark.filters import _fts_norm

    def norm_term(t: str):
        """None = term elided (english stopword under ``stemmed``) —
        the same to_tsquery elision filters._fts applies."""
        body = _fts_norm(t)
        if not body:
            raise GeoDBError(f"Empty term in tsquery: {tsquery!r}")
        if " " in body:
            raise GeoDBError(
                "phrase terms need positions — not answerable from a "
                "bag-of-words postings index"
            )
        if stemmed:
            from xcube_geodb_spark.functions.porter import porter_py
            from xcube_geodb_spark.functions.stopwords import is_stopword

            if is_stopword(body):
                return None
            body = porter_py(body)
        return body

    # parse to [(positive terms, negated terms)] OR-groups per grammar
    groups: list[tuple[list[str], list[str]]] = []
    if op == "plfts":
        words = _fts_norm(tsquery).split(" ") if _fts_norm(tsquery) else []
        if not words:
            raise GeoDBError(f"Empty plfts query: {tsquery!r}")
        groups.append(
            ([b for b in (norm_term(w) for w in words) if b is not None], [])
        )
    elif op == "wfts":
        raw_groups: list[list[str]] = [[]]
        for t in re.findall(r'-?"[^"]+"|\S+', tsquery):
            if t.lower() == "or":
                raw_groups.append([])
            else:
                raw_groups[-1].append(t)
        for g in [g for g in raw_groups if g]:
            pos, neg = [], []
            for t in g:
                if '"' in t:
                    raise GeoDBError(
                        "websearch phrases need positions — not "
                        "answerable from a bag-of-words postings index"
                    )
                if t.startswith(("-", "!")):
                    # filters._fts.term accepts BOTH negation spellings in
                    # every grammar — the index path must match the scan.
                    b = norm_term(t.lstrip("!-"))
                    if b is not None:
                        neg.append(b)
                else:
                    b = norm_term(t)
                    if b is not None:
                        pos.append(b)
            if pos or neg:
                groups.append((pos, neg))
        if not groups:
            raise GeoDBError(f"Empty wfts query: {tsquery!r}")
    elif op == "fts":
        for group in tsquery.split("|"):
            pos, neg = [], []
            for t in group.split("&"):
                t = t.strip()
                if not t:
                    raise GeoDBError(
                        f"Empty group in tsquery: {tsquery!r}"
                    )
                if t.startswith(("!", "-")):
                    b = norm_term(t.lstrip("!-"))
                    if b is not None:
                        neg.append(b)
                else:
                    b = norm_term(t)
                    if b is not None:
                        pos.append(b)
            if pos or neg:
                groups.append((pos, neg))
    else:
        raise GeoDBError(
            f"op must be fts/plfts/wfts (phfts needs positions), got {op!r}"
        )

    if not groups:
        # every group elided (all-stopword query): the empty tsquery —
        # matches no document (PG semantics)
        return postings.select(id_col).filter(F.lit(False)).distinct()
    result = None
    for pos, neg in groups:
        if not pos:
            # also reachable when english elision drops every positive
            # term (e.g. 'the & !cat' -> '!cat', exactly PG's to_tsquery
            # result): valid for the scan path, but a bag-of-words index
            # cannot answer it — PG's GIN has the same recheck boundary
            raise GeoDBError(
                "a pure-negation group needs the full corpus id set — "
                "evaluate it against the documents table instead"
            )
        hits = (
            postings.filter(F.col("token").isin(pos))
            .groupBy(id_col)
            .agg(F.count_distinct(F.col("token")).alias("__nt"))
            .filter(F.col("__nt") == len(set(pos)))
            .select(id_col)
        )
        if neg:
            banned = postings.filter(F.col("token").isin(neg)).select(
                id_col
            )
            hits = hits.join(banned, id_col, "left_anti")
        result = hits if result is None else result.unionByName(hits)
    return result.distinct()


def fts_collection_docs(
    catalog,
    name: str,
    tsquery: str,
    id_col: str = "doc_id",
    database: str = "public",
    stemmed: bool = True,
    op: str = "fts",
) -> DataFrame:
    """The GIN path against an AT-REST postings collection (built from
    ``inverted_index(stemmed=...)`` via the warehouse insert): ONE
    ``token=in.(...)`` scan covering every term the query mentions —
    positive and negated alike, since the anti-join needs the negated
    postings too — pruned to the files whose token range admits them,
    then :func:`fts_docs_from_index` evaluates the boolean tree on the
    scanned subset. The text column is never read."""
    from xcube_geodb_spark.errors import GeoDBError
    from xcube_geodb_spark.filters import _fts_norm
    from xcube_geodb_spark.operators.scan import get_collection

    def norm(t: str) -> str:
        body = _fts_norm(t)
        if stemmed and body and " " not in body:
            from xcube_geodb_spark.functions.porter import porter_py

            body = porter_py(body)
        return body

    mentioned: set[str] = set()
    if op == "plfts":
        mentioned.update(
            norm(w) for w in _fts_norm(tsquery).split(" ") if w
        )
    elif op == "wfts":
        for t in re.findall(r'-?"[^"]+"|\S+', tsquery):
            if t.lower() != "or":
                mentioned.add(norm(t.lstrip("-")))
    elif op == "fts":
        for group in tsquery.split("|"):
            for t in group.split("&"):
                mentioned.add(norm(t.strip().lstrip("!")))
    else:
        raise GeoDBError(f"op must be fts/plfts/wfts, got {op!r}")
    mentioned.discard("")
    for t in mentioned:
        if not re.fullmatch(r"[a-z0-9]+", t):
            raise GeoDBError(
                f"query term {t!r} is not a tokenizer-normal token"
            )
    quoted = ",".join(f'"{t}"' for t in sorted(mentioned))
    sub = get_collection(
        catalog, name, f"token=in.({quoted})", database=database
    )
    return fts_docs_from_index(
        sub, tsquery, id_col=id_col, stemmed=stemmed, op=op
    )


def positional_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    stemmed: bool = False,
) -> DataFrame:
    """Postings WITH positions: ``(token, doc_id, tf, dl, positions)``
    where ``positions`` are the token's 0-based offsets in the document's
    token stream — what phrase queries need (PG stores these in the
    tsvector; a GIN index over it answers phrases without recheck only
    with positions). Row size grows with tf, still bounded by the
    document length; everything else matches :func:`inverted_index`."""
    toks = tokens(F.col(text_col))
    if stemmed:
        from xcube_geodb_spark.functions.porter import porter_col
        from xcube_geodb_spark.functions.stopwords import (
            ENGLISH_STOPWORDS_SORTED,
        )

        # elide then stem, but positions stay offsets in the ORIGINAL
        # token stream — exactly what PG stores in the tsvector, and
        # what phrase gap matching ('cat <3> hat') needs; dl remains the
        # count of INDEXED (post-elision) tokens, the BM25-relevant
        # length
        stop = list(ENGLISH_STOPWORDS_SORTED)
        indexed = F.filter(
            F.transform(
                toks,
                lambda t, i: F.struct(i.alias("pos"), t.alias("token")),
            ),
            lambda s: ~s["token"].isin(stop),
        )
        indexed = F.transform(
            indexed,
            lambda s: F.struct(
                s["pos"].alias("pos"),
                porter_col(s["token"]).alias("token"),
            ),
        )
        base = docs.select(F.col(id_col), indexed.alias("__s")).select(
            F.col(id_col),
            F.size("__s").alias("dl"),
            F.explode("__s").alias("__e"),
        ).select(
            F.col(id_col), "dl",
            F.col("__e.pos").alias("pos"),
            F.col("__e.token").alias("token"),
        )
    else:
        base = docs.select(F.col(id_col), toks.alias("__t")).select(
            F.col(id_col),
            F.size("__t").alias("dl"),
            F.posexplode("__t").alias("pos", "token"),
        )
    return base.groupBy("token", id_col, "dl").agg(
        F.count(F.lit(1)).alias("tf"),
        F.array_sort(F.collect_list("pos")).alias("positions"),
    ).select("token", F.col(id_col), "tf", "dl", "positions")


def phrase_docs_from_index(
    postings: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    stemmed: bool = False,
) -> DataFrame:
    """``phfts`` evaluated from a positional index: documents containing
    the phrase's tokens CONSECUTIVELY. One scan of the phrase terms'
    postings, a per-doc pivot to one position array per phrase slot, then
    a pure-codegen intersection of offset-shifted arrays — the phrase
    occurs iff some position p has word i at p+i for every i.

    Matches filters._fts phrase semantics exactly (consecutive tokens in
    the normalized token stream). Requires :func:`positional_index`
    postings (a ``positions`` column)."""
    from xcube_geodb_spark.errors import GeoDBError
    from xcube_geodb_spark.filters import _fts_norm

    if "positions" not in postings.columns:
        raise GeoDBError(
            "phrase_docs_from_index needs a positional_index (no"
            " 'positions' column in the postings)"
        )
    words = _fts_norm(phrase).split(" ") if _fts_norm(phrase) else []
    if not words:
        raise GeoDBError(f"Empty phrase: {phrase!r}")
    if stemmed:
        from xcube_geodb_spark.functions.porter import porter_py
        from xcube_geodb_spark.functions.stopwords import ENGLISH_STOPWORDS

        # PG gap semantics: elided stopwords keep their positions, so the
        # surviving terms carry their ORIGINAL query offsets ('the cat in
        # the hat' -> cat@1, hat@4 -> 'cat <3> hat'); the positional
        # index stores original-stream positions, making the shifted-
        # array intersection below match at exactly those distances. An
        # all-stopword phrase is the empty tsquery: matches nothing.
        kept = [
            (i, porter_py(w))
            for i, w in enumerate(words)
            if w not in ENGLISH_STOPWORDS
        ]
        if not kept:
            return postings.select(id_col).filter(F.lit(False)).distinct()
        offsets = [i - kept[0][0] for i, _ in kept]
        words = [w for _, w in kept]
    else:
        offsets = list(range(len(words)))
    sub = postings.filter(F.col("token").isin(list(set(words))))
    per_doc = sub.groupBy(id_col).agg(
        *[
            F.first(
                F.when(F.col("token") == w, F.col("positions")),
                ignorenulls=True,
            ).alias(f"__p{i}")
            for i, w in enumerate(words)
        ]
    )
    # every slot must exist, and the offset-shifted arrays must share a
    # start position
    def _shifted(col_name: str, offset: int):
        # NOTE: the lambda must stay single-argument — F.transform treats
        # a two-argument lambda as (element, array_index)
        off = F.lit(offset)
        return F.transform(F.col(col_name), lambda x: x - off)

    cond = F.col("__p0").isNotNull()
    common = F.col("__p0")
    for i in range(1, len(words)):
        cond = cond & F.col(f"__p{i}").isNotNull()
        common = F.array_intersect(common, _shifted(f"__p{i}", offsets[i]))
    return (
        per_doc.filter(cond)
        .filter(F.size(common) > 0)
        .select(id_col)
        .distinct()
    )


def phrase_collection_docs(
    catalog,
    name: str,
    phrase: str,
    id_col: str = "doc_id",
    database: str = "public",
    stemmed: bool = True,
) -> DataFrame:
    """Warehouse phrase search: ``phfts`` against an at-rest POSITIONAL
    postings collection (``positional_index`` inserted under a
    btree(token) layout) — one ``token=in.(...)`` scan of the phrase's
    terms, file-pruned by token range, then the offset-shift
    intersection. Neither the text column nor any non-phrase posting is
    read."""
    from xcube_geodb_spark.errors import GeoDBError
    from xcube_geodb_spark.filters import _fts_norm
    from xcube_geodb_spark.operators.scan import get_collection

    words = _fts_norm(phrase).split(" ") if _fts_norm(phrase) else []
    if not words:
        raise GeoDBError(f"Empty phrase: {phrase!r}")
    if stemmed:
        from xcube_geodb_spark.functions.porter import porter_py

        words = [porter_py(w) for w in words]
    for t in words:
        if not re.fullmatch(r"[a-z0-9]+", t):
            raise GeoDBError(
                f"phrase word {t!r} is not a tokenizer-normal token"
            )
    quoted = ",".join(f'"{t}"' for t in sorted(set(words)))
    sub = get_collection(
        catalog, name, f"token=in.({quoted})", database=database
    )
    # terms are pre-normalized above; the evaluator must not re-stem
    return phrase_docs_from_index(
        sub, " ".join(words), id_col=id_col, stemmed=False
    )


def ts_stat(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    stemmed: bool = False,
) -> DataFrame:
    """PG ``ts_stat`` parity: per-lexeme corpus statistics ``(word, ndoc,
    nentry)`` — the number of documents containing the lexeme and its
    total occurrence count. One aggregation over the posting stream
    (map-side combined); with ``stemmed`` the english dictionary applies,
    matching ``ts_stat('SELECT to_tsvector(...) ...')``. Output size is
    the vocabulary, never the corpus."""
    return (
        inverted_index(docs, text_col, id_col, stemmed=stemmed)
        .groupBy(F.col("token").alias("word"))
        .agg(
            F.count(F.lit(1)).alias("ndoc"),
            F.sum("tf").alias("nentry"),
        )
    )
