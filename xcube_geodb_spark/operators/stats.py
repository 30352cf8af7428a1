"""Parquet-footer statistics — the engine's "estimated" fast paths.

The reference answers estimated counts from ``pg_class.reltuples``
(``xcube_geodb/sql/geodb.sql:1276-1303``) and estimated extents from
``ST_EstimatedExtent`` (``geodb.sql:443-458``) — O(1) reads of planner
statistics. Parquet footers give us the same thing *exactly* and without
launching a Spark job: row counts and per-column min/max live in the file
metadata. Documented deviation: our "estimates" are exact (SURVEY.md §7),
so they never return the pre-ANALYZE −1/NULL sentinels.
"""

from __future__ import annotations

import base64
import hashlib
import os

import pyarrow.parquet as pq

# per-file bloom filters for equality pruning on NON-clustered columns
# (min/max ranges overlap there, so interval stats can't skip files):
# 32768 bits / 4 hashes ≈ 1% false positives at ~3.4k distinct values,
# capped at 20k distinct (beyond that the filter saturates — omit it and
# the file simply always scans, never a wrong skip)
_BLOOM_BITS = 32768
_BLOOM_K = 4
_BLOOM_MAX_DISTINCT = 20000


# fts token blooms carry a whole per-file vocabulary, so they get 4x the
# bits (16 KiB each; ~13k distinct stems at ~1% FP) — a manifest-sidecar
# cost of ~1.6 GB per 10^5 files, comparable to parquet's own per-chunk
# bloom footprint and read only by the sharded stats loader
_FTS_BLOOM_BITS = 131072
# beyond ~32k distinct stems the 131072-bit filter saturates past ~15% FP
# and stops earning its bytes — omit it and the file simply always scans
_FTS_BLOOM_MAX_DISTINCT = 32000


def _bloom_positions(value: str, bits: int = _BLOOM_BITS) -> list[int]:
    return [
        int(hashlib.md5(f"{value}#{i}".encode()).hexdigest()[:8], 16)
        % bits
        for i in range(_BLOOM_K)
    ]


def build_bloom(
    values,
    bits: int = _BLOOM_BITS,
    max_distinct: int = _BLOOM_MAX_DISTINCT,
) -> str | None:
    """Base64 bloom filter over the distinct non-null values, or None when
    the column is too high-cardinality for the fixed size to be useful."""
    buf = bytearray(bits // 8)
    seen: set[str] = set()
    for v in values:
        if v is None:
            continue
        s = str(v)
        if s in seen:
            continue
        seen.add(s)
        if len(seen) > max_distinct:
            return None
        for pos in _bloom_positions(s, bits):
            buf[pos // 8] |= 1 << (pos % 8)
    return base64.b64encode(bytes(buf)).decode()


from functools import lru_cache


@lru_cache(maxsize=8192)
def _bloom_bytes(b64: str) -> bytes:
    """Decoded bloom payload, cached per b64 string. Probes hit the same
    payload once per (file, term, query); the b64 strings live in the
    immutable shard cache, so their str-hash is computed once and lookup
    is O(1) — without this, a warm fts probe re-decodes every file's
    ~16 KiB bloom on every query (the linear term in SCALE's
    bloom-isolation probe). 8192 entries x 16 KiB bounds the cache at
    ~128 MiB."""
    return base64.b64decode(b64)


@lru_cache(maxsize=4096)
def _probe_positions(value: str, bits: int) -> tuple[int, ...]:
    """Probe-side twin of :func:`_bloom_positions`, cached: a query
    probes the SAME few terms against every file's bloom, so the k md5
    hashes per term compute once per query instead of once per file.
    (The build path stays uncached — it hashes millions of distinct
    values exactly once each.)"""
    return tuple(_bloom_positions(value, bits))


def bloom_may_contain(b64: str, value) -> bool:
    """False means PROVABLY absent; True means maybe present. The filter
    size is carried by the encoding itself (len * 8 bits), so one probe
    function serves both the equality and the fts-token blooms."""
    raw = _bloom_bytes(b64)
    bits = len(raw) * 8
    return all(
        raw[p // 8] >> (p % 8) & 1
        for p in _probe_positions(str(value), bits)
    )


def file_bloom_filters(path: str, columns: list[str]) -> dict[str, str]:
    """Build blooms for ``columns`` of one file (single column-projected
    read at COMMIT time — queries only ever touch the manifest)."""
    import pyarrow.parquet as _pq

    present = set(_pq.read_schema(path).names)
    cols = [c for c in columns if c in present]
    if not cols:
        return {}
    table = _pq.read_table(path, columns=cols)
    out = {}
    for c in cols:
        b = build_bloom(table.column(c).to_pylist())
        if b is not None:
            out[f"::bloom:{c}"] = b
    return out


def file_fts_blooms(path: str, fts_cols: dict[str, str]) -> dict[str, str]:
    """Per-file token blooms for fts-indexed text columns: ``fts_cols``
    maps column -> dictionary ('english' stems every token with the same
    Porter pipeline the fts(english) filter applies; 'simple' stores raw
    tokens). Built once at COMMIT time from one column-projected read;
    stored under ``::bloom:fts:<col>`` so fts scans prune whole files
    from the manifest — the 100 TB answer to a tsvector GIN index.

    A raw-token query term t requires the literal token t, whose stem is
    in an english bloom — probing stem(t) is conservative for both tagged
    and untagged queries against an english index."""
    import re as _re

    import pyarrow.parquet as _pq

    from xcube_geodb_spark.functions.porter import porter_py

    present = set(_pq.read_schema(path).names)
    cols = {c: d for c, d in fts_cols.items() if c in present}
    if not cols:
        return {}
    table = _pq.read_table(path, columns=list(cols))
    out = {}
    stem_cache: dict[str, str] = {}
    for c, dic in cols.items():
        vocab: set[str] = set()
        for text in table.column(c).to_pylist():
            if text is None:
                continue
            for t in _re.split(r"[^a-z0-9]+", text.lower()):
                if t:
                    vocab.add(t)
        if dic == "english":
            from xcube_geodb_spark.functions.stopwords import (
                ENGLISH_STOPWORDS,
            )

            # stopword elision BEFORE stemming, matching filters._fts's
            # document pipeline (stopwords never become required query
            # terms — fts_term_groups elides them symmetrically)
            stemmed = set()
            for t in vocab:
                if t in ENGLISH_STOPWORDS:
                    continue
                st = stem_cache.get(t)
                if st is None:
                    st = stem_cache[t] = porter_py(t)
                stemmed.add(st)
            vocab = stemmed
        b = build_bloom(
            vocab, bits=_FTS_BLOOM_BITS, max_distinct=_FTS_BLOOM_MAX_DISTINCT
        )
        if b is not None:
            out[f"::bloom:fts:{c}"] = b
    return out


def footer_row_count(paths: list[str]) -> int:
    """Exact row count from parquet footers only."""
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


# decoded Arrow width of a value of each fixed-width parquet physical type
# (INT96 timestamps decode to 8 bytes, FIXED_LEN_BYTE_ARRAY adds its length)
_ARROW_WIDTH = {
    "BOOLEAN": 1,
    "INT32": 4,
    "INT64": 8,
    "INT96": 8,
    "FLOAT": 4,
    "DOUBLE": 8,
    "FIXED_LEN_BYTE_ARRAY": 16,
}


def file_arrow_bytes(path: str) -> int:
    """:func:`_file_arrow_bytes` of the file at ``path``, memoized per file
    version: data files are immutable, and a pruned read sizes the same
    files on every call."""
    st = os.stat(path)
    return _file_arrow_bytes(path, st.st_mtime_ns, st.st_size)


@lru_cache(maxsize=4096)
def _file_arrow_bytes(path: str, _mtime_ns: int, _size: int) -> int:
    """An upper bound of the bytes the rows of the parquet file at ``path``
    take decoded to Arrow, which is what a driver collect of them holds.

    Encoded sizes can understate that many times over (a dictionary
    column of a few distinct values costs bits per row on disk), so every
    value counts at its decoded width plus an 8-byte offset and a validity
    byte. Fixed-width and PLAIN byte-array values are bounded from the
    footer alone (a PLAIN byte array is its bytes plus a 4-byte length).
    Only dictionary-encoded byte-array columns are read: as dictionary
    indices, whose value lengths are summed without decoding a string."""
    import pyarrow.compute as pc

    md = pq.ParquetFile(path).metadata
    total, dict_paths = 0, set()
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for i in range(group.num_columns):
            col, leaf = group.column(i), md.schema.column(i)
            total += 9 * col.num_values
            if col.physical_type != "BYTE_ARRAY":
                total += col.num_values * (
                    _ARROW_WIDTH[col.physical_type] + (leaf.length or 0)
                )
            elif col.has_dictionary_page:
                dict_paths.add(leaf.path)
            else:
                total += col.total_uncompressed_size
    if dict_paths:
        pf = pq.ParquetFile(path, read_dictionary=sorted(dict_paths))
        tops = sorted({p.split(".")[0] for p in dict_paths})
        for rg in range(md.num_row_groups):
            for column in pf.read_row_group(rg, columns=tops).columns:
                for chunk in column.chunks:
                    while not hasattr(chunk, "indices"):  # list<dictionary>
                        chunk = chunk.flatten()
                    lengths = pc.binary_length(chunk.dictionary)
                    total += pc.sum(pc.take(lengths, chunk.indices)).as_py() or 0
    return total


def file_column_stats(path: str, max_str: int = 64) -> dict[str, list]:
    """JSON-safe per-column [min, max] for ONE file, for embedding into the
    collection manifest at commit time (Delta-style data skipping: pruning
    then reads the manifest instead of N footers per query).

    Only columns whose every row group carries stats and whose values are
    JSON-representable (int/float/bool/short str) are recorded; anything
    else is simply absent, which pruning treats as "maybe matches". The
    reserved ``::rows`` key (not a valid column name) carries the file's
    row count, so exact counts read the manifest with zero file IO."""
    md = pq.ParquetFile(path).metadata
    out: dict[str, list] = {"::rows": [md.num_rows, md.num_rows]}
    for i in range(md.num_columns):
        name = md.schema.column(i).name
        lo = hi = None
        ok = True
        nulls: int | None = 0
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or st.null_count is None:
                nulls = None
            elif nulls is not None:
                nulls += st.null_count
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            a, b = st.min, st.max
            if not isinstance(a, (int, float, str)) or isinstance(a, bool):
                ok = False
                break
            if isinstance(a, str) and (len(a) > max_str or len(str(b)) > max_str):
                ok = False
                break
            if lo is None or a < lo:
                lo = a
            if hi is None or b > hi:
                hi = b
        if ok and lo is not None:
            out[name] = [lo, hi]
        if nulls is not None:
            # reserved key (mirrors ::rows / ::bloom:): per-file null count,
            # so profiles answer null ratios from the manifest with zero IO
            out[f"::nulls:{name}"] = [nulls, nulls]
    return out


def profile_collection(
    catalog,
    collection: str,
    database: str = "public",
    exact: bool = False,
    columns: list[str] | None = None,
):
    """ANALYZE-style per-column profile: (column, row_count, n_nulls,
    vmin, vmax, n_distinct) as a pandas DataFrame (one row per column —
    driver-sized by construction).

    ``exact=False`` answers entirely from the manifest's commit-time
    stats — ZERO file IO and no Spark job, the engine's analogue of the
    reference reading planner statistics (``pg_class`` / ``pg_stats``,
    geodb.sql:1276-1303) — with ``n_distinct`` as None (the manifest does
    not store cardinalities). Columns the manifest lacks stats for report
    None min/max. ``exact=True`` runs ONE Spark aggregation computing
    exact nulls/min/max/distinct per column (map-side partials; a single
    scan regardless of column count).
    """
    import pandas as pd
    from pyspark.sql import functions as F

    m = catalog.meta(collection, database)
    cols = columns or [
        f.name
        for f in m.spark_schema(include_system=False).fields
        if f.name != "geometry"
    ]
    if not exact:
        fstats = m.file_stats()
        have_all = all(f in fstats and "::rows" in fstats[f] for f in m.files)
        if not have_all:
            raise ValueError(
                "manifest lacks commit-time stats for some files; "
                "use exact=True"
            )
        rows_total = sum(fstats[f]["::rows"][0] for f in m.files)
        recs = []
        for c in cols:
            lo = hi = None
            seen = True
            nulls: int | None = 0
            for f in m.files:
                st = fstats[f]
                if st["::rows"][0] == 0:
                    continue  # empty rewrite: no column stats to contribute
                if c not in st:
                    seen = False
                else:
                    a, b = st[c]
                    lo = a if lo is None or a < lo else lo
                    hi = b if hi is None or b > hi else hi
                nc = st.get(f"::nulls:{c}")
                nulls = None if nc is None or nulls is None else nulls + nc[0]
            recs.append(
                {
                    "column": c,
                    "row_count": rows_total,
                    "n_nulls": nulls,
                    "vmin": lo if seen else None,
                    "vmax": hi if seen else None,
                    "n_distinct": None,
                }
            )
        return pd.DataFrame(recs)

    df = catalog.load_df(collection, database)
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"__rc_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"),
            F.min(c).alias(f"__mn_{c}"),
            F.max(c).alias(f"__mx_{c}"),
            F.countDistinct(c).alias(f"__nd_{c}"),
        ]
    row = df.agg(*aggs).collect()[0]
    return pd.DataFrame(
        [
            {
                "column": c,
                "row_count": row[f"__rc_{c}"],
                "n_nulls": row[f"__nn_{c}"],
                "vmin": row[f"__mn_{c}"],
                "vmax": row[f"__mx_{c}"],
                "n_distinct": row[f"__nd_{c}"],
            }
            for c in cols
        ]
    )


def footer_min_max(paths: list[str], columns: list[str]) -> dict[str, tuple]:
    """Per-column (min, max) aggregated over all files' row-group stats.
    Returns only columns whose every row group carries stats."""
    agg: dict[str, list] = {c: [None, None] for c in columns}
    ok: dict[str, bool] = {c: True for c in columns}
    for p in paths:
        md = pq.ParquetFile(p).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for c in columns:
            if c not in idx:
                ok[c] = False
                continue
            ci = idx[c]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    ok[c] = False
                    break
                lo, hi = st.min, st.max
                if agg[c][0] is None or lo < agg[c][0]:
                    agg[c][0] = lo
                if agg[c][1] is None or hi > agg[c][1]:
                    agg[c][1] = hi
    return {c: tuple(agg[c]) for c in columns if ok[c] and agg[c][0] is not None}


def histogram_column(
    df,
    column: str,
    bins: int = 10,
    bounds: tuple | None = None,
):
    """Equi-width histogram of a numeric column — the ANALYZE histogram
    companion to :func:`profile_collection` (the reference's server keeps
    ``pg_stats`` histograms; here they are computed on demand).

    One pass when ``bounds`` is given, two when the [min, max] must be
    measured first (both aggregations map-side combined; output is
    ``bins`` rows). Bucket membership is closed-form —
    ``least(floor((x - lo) / width), bins - 1)`` with the max value
    folded into the last bucket — so any SQL engine replays the exact
    counts. Empty buckets are emitted with zero counts (sequence join,
    proportional to ``bins``). Returns (bucket, lo, hi, n) with bucket
    edges rounded to 9 decimals.
    """
    from pyspark.sql import functions as F

    if bins < 1:
        raise ValueError("bins must be >= 1")
    c = F.col(column).cast("double")
    if bounds is None:
        row = df.agg(F.min(c).alias("lo"), F.max(c).alias("hi")).collect()[0]
        bounds = (row["lo"], row["hi"])
    lo, hi = float(bounds[0]), float(bounds[1])
    if not hi > lo:
        hi = lo + 1.0
    width = (hi - lo) / bins
    bucket = F.least(
        F.floor((c - F.lit(lo)) / F.lit(width)).cast("long"),
        F.lit(bins - 1),
    )
    counts = (
        df.filter(c.isNotNull() & (c >= lo) & (c <= hi))
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spark = df.sparkSession
    grid = spark.range(bins).select(F.col("id").alias("bucket"))
    return (
        grid.join(counts, "bucket", "left")
        .select(
            "bucket",
            F.round(F.lit(lo) + F.col("bucket") * F.lit(width), 9).alias("lo"),
            F.round(F.lit(lo) + (F.col("bucket") + 1) * F.lit(width), 9).alias("hi"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
        .orderBy("bucket")
    )


def quantiles_column(
    df,
    column: str,
    qs: tuple = (0.25, 0.5, 0.75),
    bins: int = 1024,
    bounds: tuple | None = None,
    group_cols: list[str] | None = None,
):
    """Deterministic histogram-interpolated quantiles, optionally per group.

    Spark's ``approx_percentile`` is a merge-order-dependent sketch: its
    estimates change with partitioning, so no external oracle can replay
    them. This estimator is exact arithmetic over an equi-width histogram —
    bucket counts are integers and the interpolation is a fixed expression
    tree, so results are identical at any parallelism and on any engine.
    Within-bucket error is bounded by ``(hi - lo) / bins``.

    Physical shape: one ``[min, max]`` aggregation (skipped when ``bounds``
    is given; with ``group_cols`` the grid is shared across groups so one
    global [min, max] still suffices), one map-side-combined bucket-count
    aggregation whose output is at most ``bins`` rows per group, and
    cumulative windows over those aggregated rows only (partitioned by the
    group columns) — the data itself is never sorted or shuffled beyond
    the count aggregation. Returns ``(*group_cols, q, est)`` with ``est``
    rounded to 6 decimals.

    For each q the target rank is ``max(ceil(q * N), 1)`` (N = the
    group's row count); the estimate interpolates linearly inside the
    first bucket whose cumulative count reaches the target.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if bins < 1:
        raise ValueError("bins must be >= 1")
    if not qs or any(not 0.0 < q <= 1.0 for q in qs):
        raise ValueError("each q must be in (0, 1]")
    groups = list(group_cols or [])
    c = F.col(column).cast("double")
    if bounds is None:
        row = df.agg(F.min(c).alias("lo"), F.max(c).alias("hi")).collect()[0]
        bounds = (row["lo"], row["hi"])
    lo, hi = float(bounds[0]), float(bounds[1])
    if not hi > lo:
        hi = lo + 1.0
    width = (hi - lo) / bins
    bucket = F.least(
        F.floor((c - F.lit(lo)) / F.lit(width)).cast("long"),
        F.lit(bins - 1),
    )
    counts = (
        df.filter(c.isNotNull() & (c >= lo) & (c <= hi))
        .select(*groups, bucket.alias("bucket"))
        .groupBy(*(groups + ["bucket"]))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # both windows run over <= bins rows PER GROUP (the aggregated
    # histogram), never over the data — ungrouped, that is one
    # O(bins)-row partition
    w_cum = Window.partitionBy(*groups).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy(*groups)
    cum = counts.select(
        *groups,
        "bucket",
        "n",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("total"),
    )
    spark = df.sparkSession
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    target = F.greatest(
        F.ceil(F.col("q") * F.col("total")).cast("long"), F.lit(1)
    )
    hit = qdf.join(
        cum,
        (F.col("cum") >= target) & ((F.col("cum") - F.col("n")) < target),
    )
    est = F.round(
        F.lit(lo)
        + F.col("bucket") * F.lit(width)
        + F.lit(width)
        * ((target - (F.col("cum") - F.col("n"))) / F.col("n")),
        6,
    )
    return hit.select(*groups, F.col("q"), est.alias("est")).orderBy(
        *(groups + ["q"])
    )
