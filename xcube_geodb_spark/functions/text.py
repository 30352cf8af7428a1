"""Text-analysis operators over a document table.

Everything here is pure ``pyspark.sql.functions`` column algebra — no UDFs,
fully codegen'd, shuffle-free (per-row projections), so it scales linearly
with input splits. Formulas are fixed so a SQL oracle reproduces them
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xcube_geodb_spark.functions.spread import spread_small

# deliberately small, deterministic stopword sets (public common words)
STOPWORDS_EN = ("the", "and", "of", "to", "in", "is", "that", "it", "for", "was")
LANG_STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is"),
    "de": ("der", "die", "und", "das", "ist", "nicht"),
    "fr": ("le", "la", "et", "les", "des", "est"),
    "es": ("el", "los", "y", "que", "una", "por"),
    "it": ("il", "di", "che", "per", "con", "sono"),
}


def normalized(text: Column) -> Column:
    """lowercase, strip non-alphanumerics, collapse whitespace. One fused
    regex pass: ``[^a-z0-9]+ -> " "`` produces exactly the same string as
    the classic strip-then-collapse two-pass (any run of non-alphanumerics
    — including the spaces between them — becomes one space; leading/
    trailing runs are trimmed), at half the regex cost on the text hot
    paths."""
    return F.trim(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "))


def tokens(text: Column) -> Column:
    return F.split(normalized(text), " ")


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """token count (whitespace) + a BPE-ish subword estimate: ~1 token per
    4 chars is the published rule-of-thumb for byte-pair encodings."""
    toks = tokens(F.col(text_col))
    return df.withColumn("n_tokens", F.size(toks)).withColumn(
        "n_subword_est", F.ceil(F.length(F.col(text_col)) / F.lit(4.0)).cast("long")
    )


def _quality_exprs(
    text: Column, norm: Column, alpha_chars: Column, punct_chars: Column
) -> dict[str, Column]:
    """THE quality formula — the only copy. The caller supplies the
    staging columns as materialized refs. Hot-path formulation: space-count
    tokens over the normalized string and a one-pass regex stopword
    count (:func:`word_count_in`) — no interpreted higher-order filter."""
    n_tokens = (
        F.length(norm) - F.length(F.translate(norm, " ", "")) + F.lit(1)
    )
    n_chars = F.length(text)
    stop_hits = word_count_in(norm, tuple(STOPWORDS_EN))
    stop_ratio = stop_hits / F.greatest(n_tokens, F.lit(1))
    alpha_ratio = alpha_chars / F.greatest(n_chars, F.lit(1))
    punct_ratio = punct_chars / F.greatest(n_chars, F.lit(1))
    score = (
        F.lit(0.35) * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + F.lit(0.35) * stop_ratio
        + F.lit(0.20) * alpha_ratio
        + F.lit(0.10) * (F.lit(1.0) - F.least(punct_ratio * 5, F.lit(1.0)))
    )
    return {
        "n_tokens": n_tokens,
        "stop_ratio": F.round(stop_ratio, 6),
        "alpha_ratio": F.round(alpha_ratio, 6),
        "punct_ratio": F.round(punct_ratio, 6),
        "quality": F.round(score, 6),
    }


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Table-level quality scoring with the normalized string materialized
    once — inline expressions would re-run normalization per reference
    (same Catalyst inlining hazard as dedup.shingle_table). Delegates to
    :func:`_quality_exprs`, the one copy of the formula."""
    text = F.col(text_col)
    staged = (
        df.withColumn("__norm", normalized(text))
        .withColumn(
            "__alpha",
            F.length(text) - F.length(F.translate(text, _ALPHABET, "")),
        )
        .withColumn(
            "__punct",
            F.length(text) - F.length(F.translate(text, _PUNCT, "")),
        )
    )
    exprs = _quality_exprs(
        text, F.col("__norm"), F.col("__alpha"), F.col("__punct")
    )
    for name, col in exprs.items():
        staged = staged.withColumn(name, col)
    return staged.drop("__norm", "__alpha", "__punct")


def word_count_in(norm: Column, words: tuple[str, ...]) -> Column:
    """Occurrence count of any of ``words`` as whole tokens of an
    already-NORMALIZED string (lowercase, single-spaced, trimmed —
    :func:`normalized`'s output). One codegen'd JVM regex pass replaces a
    higher-order ``filter(toks, isin)`` traversal, which evaluates its
    lambda INTERPRETED per element and dominated the text-profile hot
    path (~2.5x the rest of the projection combined). The lookahead
    keeps consecutive stopwords countable ("the of": the match consumes
    the leading space only), and counts equal the token-equality counts
    exactly, because normalized text splits on single spaces."""
    pat = " (?:" + "|".join(words) + ")(?= )"
    return F.regexp_count(
        F.concat(F.lit(" "), norm, F.lit(" ")), F.lit(pat)
    )


def _lang_case(scores: dict[str, Column]) -> Column:
    """First-match CASE over per-language vote counts; earlier languages
    win ties (the SQL-replicable tie-break the oracle replays)."""
    langs = list(scores)
    expr = None
    for lang in langs:
        cond = scores[lang] > 0
        for other in langs:
            if other != lang:
                cond = cond & (scores[lang] >= scores[other])
        expr = (
            F.when(cond, F.lit(lang))
            if expr is None
            else expr.when(cond, F.lit(lang))
        )
    return expr.otherwise(F.lit("und"))


def lang_id_from_norm(norm: Column) -> Column:
    """Stopword-vote language id over normalized text: one regexp_count
    per language (pure codegen), identical counts to the token-array
    formulation."""
    return _lang_case(
        {
            lang: word_count_in(norm, sw)
            for lang, sw in LANG_STOPWORDS.items()
        }
    )


def lang_id_column(text_col: str = "text") -> Column:
    return lang_id_from_norm(normalized(F.col(text_col)))


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("lang_pred", lang_id_column(text_col))


_ALPHABET = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
_PUNCT = ".,;:!?"
# every word any vote counter cares about (quality stopwords + all
# language stopword sets), extracted in ONE shared regex pass
_VOTE_WORDS = tuple(
    sorted(
        set(STOPWORDS_EN)
        | {w for sw in LANG_STOPWORDS.values() for w in sw}
    )
)


def with_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Fused single-pass text profile: quality score, token stats, language
    id, and fingerprint sharing ONE normalization + tokenization per row.
    A provably-small input is round-robin-spread first (functions/spread)
    so the regex battery is not serialized onto a one-row-group scan.
    The composable ``with_*`` helpers each re-derive the token array
    (Catalyst inlines single-expression columns), which multiplied the
    dominant regexp cost 4x on the profile path — this is the hot-path
    variant; formulas are identical.

    Hot-path plan (each item measured on the 10x-replication profile):
    - ``__votes``: ONE regexp_extract_all pass collects every quality- or
      language-stopword hit; the per-counter tallies then filter a
      handful of matches instead of re-scanning the text once per
      language (was 6 regex passes / 6 interpreted array traversals)
    - alpha/punct counts via ``translate`` (character map) instead of
      regexp_replace — same counts, ~5x cheaper
    All counts are bit-identical to the composable helpers' formulas, so
    the same DuckDB oracles hold."""
    df = spread_small(df)
    text = F.col(text_col)
    staged = (
        df.withColumn("__norm", normalized(text))
        .withColumn(
            "__votes",
            F.regexp_extract_all(
                F.concat(F.lit(" "), F.col("__norm"), F.lit(" ")),
                F.lit(" (" + "|".join(_VOTE_WORDS) + ")(?= )"),
                1,
            ),
        )
        .withColumn(
            "__alpha",
            F.length(text) - F.length(F.translate(text, _ALPHABET, "")),
        )
        .withColumn(
            "__punct",
            F.length(text) - F.length(F.translate(text, _PUNCT, "")),
        )
    )
    votes = F.col("__votes")
    # size(split(norm, " ")) without building the array: norm is
    # single-spaced and trimmed, so tokens = spaces + 1 (empty string
    # splits to [""] -> size 1, which 0 spaces + 1 reproduces)
    n_tokens = (
        F.length(F.col("__norm"))
        - F.length(F.translate(F.col("__norm"), " ", ""))
        + F.lit(1)
    )
    n_chars = F.length(text)
    stop_hits = F.size(F.filter(votes, lambda t: t.isin(*STOPWORDS_EN)))
    stop_ratio = stop_hits / F.greatest(n_tokens, F.lit(1))
    alpha_ratio = F.col("__alpha") / F.greatest(n_chars, F.lit(1))
    punct_ratio = F.col("__punct") / F.greatest(n_chars, F.lit(1))
    score = (
        F.lit(0.35) * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + F.lit(0.35) * stop_ratio
        + F.lit(0.20) * alpha_ratio
        + F.lit(0.10) * (F.lit(1.0) - F.least(punct_ratio * 5, F.lit(1.0)))
    )
    return (
        staged.withColumn("n_tokens", n_tokens)
        .withColumn(
            "n_subword_est", F.ceil(n_chars / F.lit(4.0)).cast("long")
        )
        .withColumn("stop_ratio", F.round(stop_ratio, 6))
        .withColumn("alpha_ratio", F.round(alpha_ratio, 6))
        .withColumn("punct_ratio", F.round(punct_ratio, 6))
        .withColumn(
            "lang_pred",
            _lang_case(
                {
                    lang: F.size(
                        F.filter(
                            votes,
                            (lambda sw: lambda t: t.isin(*sw))(sw),
                        )
                    )
                    for lang, sw in LANG_STOPWORDS.items()
                }
            ),
        )
        .withColumn("quality", F.round(score, 6))
        .withColumn("fingerprint", F.md5(F.col("__norm")))
        .drop("__norm", "__votes", "__alpha", "__punct")
    )


def fingerprint_column(text_col: str = "text") -> Column:
    """Document fingerprint: md5 of the normalized text (rolling-hash class;
    md5 chosen because it is bit-identical across engines)."""
    return F.md5(normalized(F.col(text_col)))


# scrub patterns chosen to parse identically under Java regex (Spark) and
# RE2 (DuckDB) so the oracle replays them bit-for-bit
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^ \t\n]+"
IPV4_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"


def with_scrubbed(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII/URL scrubbing for training corpora: emails, URLs, and IPv4
    literals replaced with fixed sentinels — pure regexp projections,
    shuffle-free, and cross-engine reproducible. (Small inputs are
    spread first — see :func:`with_profile`.)"""
    df = spread_small(df)
    c = F.col(text_col)
    c = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    c = F.regexp_replace(c, URL_RE, "<URL>")
    c = F.regexp_replace(c, IPV4_RE, "<IP>")
    return df.withColumn("text_scrubbed", c)


def with_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signal: fraction of tokens that are repeats
    of an earlier token (1 - distinct/total). High values flag boilerplate
    and degenerate generations."""
    df = spread_small(df)
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    return df.withColumn(
        "rep_ratio",
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(toks)) / F.greatest(n, F.lit(1)),
            6,
        ),
    )


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("fingerprint", fingerprint_column(text_col))


def top_ngrams(
    df: DataFrame, n: int = 2, k: int = 20, text_col: str = "text"
) -> DataFrame:
    """Corpus-wide top-k word n-grams with counts — the vocabulary /
    collocation profile of a training corpus. The n-gram fan-out is the
    dedup family's codegen'd shingle transform (no Python), the count is
    one map-side-combined hash aggregate, and the top-k is a
    TakeOrderedAndProject — so the full pass shuffles only pre-reduced
    (ngram, partial-count) pairs. Ties break lexicographically for
    deterministic, engine-replayable output."""
    df = spread_small(df.select(F.col(text_col)))
    toks = tokens(F.col(text_col))
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array())
    return (
        df.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("ngram"))
        .limit(k)
    )


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Perplexity-proxy quality signal: per-document mean unigram negative
    log-probability under the corpus's own unigram model — the cheap
    stand-in for a KenLM quality filter (fluent, typical documents score
    low; gibberish and outliers score high).

    Two passes, both shuffle-bounded by the token vocabulary: one
    aggregation builds the unigram table (map-side combined; output is
    vocabulary-sized, Zipf-small relative to the corpus), then postings
    join it on the token (hash join on the vocab key) and re-aggregate
    per document. Per-token surprisals round to 7 decimals and sum as
    exact DECIMAL(28,7), so the per-doc mean is independent of
    aggregation order and replayable by any SQL engine. Returns
    ``(id, n_tokens, nll)`` with nll rounded to 6.
    """
    df = spread_small(df.select(F.col(id_col), F.col(text_col)))
    toks = tokens(F.col(text_col))
    total = df.agg(F.sum(F.size(toks))).collect()[0][0] or 1
    post = df.select(F.col(id_col), F.explode(toks).alias("__tok"))
    vocab = post.groupBy("__tok").agg(F.count(F.lit(1)).alias("__tf"))
    # -ln(tf / total): integer inputs, one fixed association
    surprisal = -F.log(F.col("__tf") / F.lit(float(total)))
    scored = post.join(vocab, "__tok").select(
        F.col(id_col),
        F.round(surprisal, 7).cast("decimal(28,7)").alias("__s"),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # decimal sum -> double BEFORE the divide: the sum is exact
            # in a double (< 2^53 scaled units), so both engines divide
            # identical operands. The final rounding is spelled as
            # floor(q*1e6 + 0.5)/1e6 — the same IEEE op sequence on any
            # engine — because generic round(q, 6) is engine-defined at a
            # half-ULP tie (Spark rounds the exact binary expansion,
            # DuckDB multiplies first; observed divergence at sf0.001).
            (
                F.floor(
                    F.sum("__s").cast("double")
                    / F.count(F.lit(1))
                    * F.lit(1e6)
                    + F.lit(0.5)
                ).cast("double")
                / F.lit(1e6)
            ).alias("nll"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.75,
) -> DataFrame:
    """Interpolated-bigram perplexity proxy — one modeling step past
    :func:`unigram_logprob` toward a KenLM-style quality filter:
    ``P(w2|w1) = lam * c(w1,w2)/c(w1,.) + (1-lam) * tf(w2)/N`` with the
    document's first token scored by the unigram alone. Word-salad text
    with plausible unigrams but improbable transitions now scores high.

    Same scale/replay design as the unigram: every join/aggregate is
    keyed by the unigram or bigram TYPE vocabulary (Zipf-small relative
    to the corpus, map-side combined), per-token surprisals round to 7
    decimals and sum as exact DECIMAL(28,7), so results are
    aggregation-order independent and any SQL engine replays them.
    Returns ``(id, n_tokens, nll2)`` with nll2 rounded to 6.
    """
    df = spread_small(df.select(F.col(id_col), F.col(text_col)))
    toks_arr = tokens(F.col(text_col))
    tok = df.select(F.col(id_col), toks_arr.alias("__toks"))
    post = tok.select(
        F.col(id_col), F.posexplode(F.col("__toks")).alias("pos", "w")
    )
    n_total = float(df.agg(F.sum(F.size(toks_arr))).collect()[0][0] or 1)
    uni = post.groupBy("w").agg(F.count(F.lit(1)).alias("tf"))

    k = F.size("__toks")
    pairs = F.transform(
        F.sequence(F.lit(1), F.greatest(k - 1, F.lit(1))),
        lambda i: F.struct(
            F.element_at(F.col("__toks"), i).alias("w1"),
            F.element_at(F.col("__toks"), i + 1).alias("w2"),
        ),
    )
    big = tok.select(
        F.col(id_col),
        F.explode(F.when(k >= 2, pairs).otherwise(F.array())).alias("b"),
    ).select(F.col(id_col), F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    btab = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    w1dot = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))

    surp2 = -F.log(
        F.lit(lam) * (F.col("c12") / F.col("c1"))
        + F.lit(1.0 - lam) * (F.col("tf") / F.lit(n_total))
    )
    scored2 = (
        big.join(btab, ["w1", "w2"])
        .join(w1dot, "w1")
        .join(uni.select(F.col("w").alias("w2"), "tf"), "w2")
        .select(
            F.col(id_col),
            F.round(surp2, 7).cast("decimal(28,7)").alias("__s"),
        )
    )
    surp1 = -F.log(F.col("tf") / F.lit(n_total))
    scored1 = (
        post.filter(F.col("pos") == 0)
        .join(uni, "w")
        .select(
            F.col(id_col),
            F.round(surp1, 7).cast("decimal(28,7)").alias("__s"),
        )
    )
    return (
        scored1.unionByName(scored2)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # tie-proof cross-engine rounding, same as unigram_logprob
            (
                F.floor(
                    F.sum("__s").cast("double")
                    / F.count(F.lit(1))
                    * F.lit(1e6)
                    + F.lit(0.5)
                ).cast("double")
                / F.lit(1e6)
            ).alias("nll2"),
        )
    )
