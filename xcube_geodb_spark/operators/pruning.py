"""File-level pruning for DML: decide from parquet footer statistics which
manifest files can possibly contain rows matching a PostgREST filter.

At 100 TB this is the difference between rewriting one file and rewriting
the table: ``delete_from_collection(query='raba_id=eq.7000')`` must touch
only the files whose ``raba_id`` min/max interval admits 7000 (files are
Z-order/btree clustered at write, so intervals are tight).

The analysis is deliberately conservative: it extracts only *top-level
conjunctive* constraints of the form ``col op literal`` (eq/gt/gte/lt/lte/
in) from the parsed query (``filters.Query.constraints``), including the
plain members of a top-level ``and=(...)`` group; anything it cannot
understand (or-groups, like, negation, is) contributes no constraint,
meaning "maybe matches". A file is skipped ONLY when some understood
constraint provably excludes its entire [min, max] range — never the
other way around.

The kept files of a client read are then read on one of two lanes
(:class:`PrunedRead`): on the driver with ``pyarrow`` when they are small
(``dml.files_fit_driver``) and the filter has a ``pyarrow`` spelling, else
by Spark. Spatial reads (``operators/spatial.py``) and grammar reads
(``operators/scan.py``) share it.
"""

from __future__ import annotations

import math
import os

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xcube_geodb_spark.catalog import SYSTEM_COLUMNS
from xcube_geodb_spark.filters import FTS_OPS, Query, parse_query
from xcube_geodb_spark.geometry.udfs import Conjunction
from xcube_geodb_spark.operators import dml

def conjunctive_constraints(query: str | Query | None) -> list[tuple[str, str, object]]:
    """[(column, op, literal)] for top-level ANDed simple comparisons:
    ``col=op.literal`` pairs and the plain ``col.op.literal`` members of a
    top-level ``and=(...)`` group (its nested ``or(...)``/``and(...)``
    groups and negated members contribute nothing) — the pruning lowering
    of the parsed query (``filters.Query.constraints``)."""
    return parse_query(query).constraints()


def fts_term_groups(
    query: str | Query | None, fts_indexes: dict[str, str]
) -> list[tuple[str, list[list[str]]]]:
    """Required-term groups for fts-family filters on fts-indexed columns:
    ``[(column, [[terms of group 1], [terms of group 2], ...])]`` where the
    filter matches a row only if SOME group has ALL its terms present.
    A file may be skipped only when EVERY group has at least one term
    provably absent from the file's token bloom.

    Conservative by construction: negated filters and negated terms
    contribute nothing; a group that ends up with no positive terms
    renders its whole filter un-prunable (an empty-group marker is kept
    so the file-match check sees a satisfiable group). Terms are stemmed
    iff the INDEX dictionary is english (a raw token's stem is always in
    an english bloom, so this is safe for untagged queries too); a tagged
    english query on a 'simple' index can't be pruned and is skipped."""
    if not query or not fts_indexes:
        return []
    from xcube_geodb_spark.filters import Leaf, _fts_norm

    out = []
    for leaf in parse_query(query).where.members:
        if (
            not isinstance(leaf, Leaf)
            or leaf.column not in fts_indexes
            or leaf.negate  # negated fts: no safe constraint
            or leaf.op not in FTS_OPS
        ):
            continue
        dic = fts_indexes[leaf.column]
        if dic == "simple" and leaf.fts_lang in ("english", "en"):
            continue  # stemmed query terms have no raw-token preimage
        op, raw = leaf.op, leaf.value
        groups_raw: list[list[str]] = []
        if op in ("plfts", "phfts"):
            groups_raw = [[t for t in _fts_norm(raw).split(" ") if t]]
        elif op == "wfts":
            import re as _re

            cur: list[str] = []
            groups_raw = [cur]
            for t in _re.findall(r'-?"[^"]+"|\S+', raw):
                if t.lower() == "or":
                    cur = []
                    groups_raw.append(cur)
                elif not t.startswith(("-", "!")):
                    # filters._fts.term negates BOTH '-' and '!' prefixes;
                    # a negated term must contribute nothing to pruning.
                    cur.extend(
                        w for w in _fts_norm(t.replace('"', "")).split(" ")
                        if w
                    )
        else:  # fts: | over & groups
            for group in raw.split("|"):
                terms: list[str] = []
                for t in group.split("&"):
                    t = t.strip()
                    if not t or t.startswith(("!", "-")):
                        continue  # both negation spellings (filters._fts.term)
                    terms.extend(w for w in _fts_norm(t).split(" ") if w)
                groups_raw.append(terms)
        if dic == "english":
            from xcube_geodb_spark.functions.porter import porter_py
            from xcube_geodb_spark.functions.stopwords import (
                ENGLISH_STOPWORDS,
            )

            # english blooms are built over the STOPWORD-ELIDED stemmed
            # vocabulary: a stopword term can never be safely required
            # (tagged queries elide it; untagged literal queries would
            # wrongly prune files whose text contains it), so it
            # contributes nothing. A group elided empty stays as an
            # empty (trivially satisfiable) marker — conservative.
            groups_raw = [
                [
                    porter_py(w)
                    for w in g
                    if w not in ENGLISH_STOPWORDS
                ]
                for g in groups_raw
            ]
        out.append((leaf.column, groups_raw))
    return out


def fts_file_may_match(
    stats: dict, fts_groups: list[tuple[str, list[list[str]]]]
) -> bool:
    """Token-bloom check: for each fts filter, the file survives if SOME
    group's terms are all maybe-present. A group with no positive terms is
    trivially satisfiable; a file without the bloom always survives."""
    from xcube_geodb_spark.operators.stats import bloom_may_contain

    for col, groups in fts_groups:
        bloom = stats.get(f"::bloom:fts:{col}")
        if bloom is None or not groups:
            continue
        if not any(
            all(bloom_may_contain(bloom, t) for t in g) for g in groups
        ):
            return False
    return True


def shard_summary(stats: dict[str, dict]) -> dict:
    """Shard-level stats-tree node over a stats shard's per-file entries:
    ``{"cols": {col: [min, max]}, "n": n_files}``. A column appears ONLY
    when every file in the shard carries a valid [min, max] for it — a
    shard-level interval may prove absence for ALL its files, so it must
    be the true hull (a file with missing/NaN stats is un-prunable and
    would make the hull a lie). Stored in the MANIFEST next to the shard
    name: probes check O(shards) summaries and load/iterate only the
    shards whose hull admits the constraints — probe cost stops scaling
    with file count (verdict r5 task 3)."""
    cols: dict | None = None
    for st in stats.values():
        fcols = {}
        for c, v in st.items():
            if c.startswith("::"):
                continue
            if (
                isinstance(v, (list, tuple))
                and len(v) == 2
                and v[0] is not None
                and v[1] is not None
            ):
                lo, hi = v
                if isinstance(lo, float) and (math.isnan(lo) or math.isnan(hi)):
                    continue
                fcols[c] = (lo, hi)
        if cols is None:
            cols = fcols
        else:
            for c in list(cols):
                if c not in fcols:
                    del cols[c]
                    continue
                try:
                    cols[c] = (
                        min(cols[c][0], fcols[c][0]),
                        max(cols[c][1], fcols[c][1]),
                    )
                except TypeError:
                    del cols[c]
    return {
        "cols": {c: [lo, hi] for c, (lo, hi) in (cols or {}).items()},
        "n": len(stats),
    }


def summary_excludes(summary: dict, constraints) -> bool:
    """True when the shard hull proves NO file in the shard can match:
    some constraint excludes the whole [min, max] hull of its column."""
    cols = (summary or {}).get("cols") or {}
    for col, op, lit in constraints or []:
        v = cols.get(col)
        if v is None:
            continue
        if _excludes(op, lit, v[0], v[1]):
            return True
    return False


def _excludes(op: str, lit, lo, hi) -> bool:
    """True when `col op lit` can match NO value in [lo, hi]."""
    try:
        if op == "eq":
            return lit < lo or lit > hi
        if op in ("gt",):
            return hi <= lit
        if op in ("gte", "ge"):
            return hi < lit
        if op in ("lt",):
            return lo >= lit
        if op in ("lte", "le"):
            return lo > lit
        if op == "in":
            return all(v < lo or v > hi for v in lit)
    except TypeError:
        return False  # incomparable types: keep the file
    return False


def file_may_match(
    stats: dict[str, tuple], constraints: list[tuple[str, str, object]]
) -> bool:
    """Footer min/max stats (+ optional ``::bloom:<col>`` filters) vs the
    constraint set; missing stats => maybe."""
    from xcube_geodb_spark.operators.stats import bloom_may_contain

    for col, op, lit in constraints:
        bloom = stats.get(f"::bloom:{col}")
        if bloom is not None:
            if op == "eq" and not bloom_may_contain(bloom, lit):
                return False
            if op == "in" and all(
                not bloom_may_contain(bloom, v) for v in lit
            ):
                return False
        if col not in stats:
            continue
        lo, hi = stats[col]
        if lo is None or hi is None:
            continue
        if isinstance(lo, float) and (math.isnan(lo) or math.isnan(hi)):
            continue
        if _excludes(op, lit, lo, hi):
            return False
    return True


def bloom_columns_needed(
    constraints, fts_groups, bloom_indexed: set[str]
) -> bool:
    """Whether the query carries any bloom-answerable filter — callers
    load the bloom sidecar shards ONLY then; interval-only probes never
    pay the (kilobytes x files) bloom parse."""
    if fts_groups:
        return True
    return any(
        op in ("eq", "in") and col in bloom_indexed
        for col, op, _ in (constraints or [])
    )


def _classify_file(rel, raw, columns, constraints, fts_groups, blooms_map):
    """True (maybe touched) / False (provably untouched) for one file's
    raw stats entry. A file of no rows (older commits wrote one for a
    rewrite that deleted them all) holds no column stats, and matches
    nothing."""
    if raw.get("::rows") == [0, 0]:
        return False
    stats = {}
    for c, v in raw.items():
        if c in columns:
            stats[c] = tuple(v)
        elif c.startswith("::bloom:fts:"):
            stats[c] = v  # legacy inline; probed by fts_file_may_match
        elif c.startswith("::bloom:") and c[len("::bloom:"):] in columns:
            stats[c] = v  # base64 string, not a (min, max) pair
    if blooms_map is not None and rel in blooms_map:
        stats.update(blooms_map[rel])
    return file_may_match(stats, constraints) and (
        not fts_groups or fts_file_may_match(stats, fts_groups)
    )


def split_files_by_constraints(
    paths: dict[str, str],
    columns: list[str],
    constraints,
    stats_map: dict[str, dict] | None = None,
    fts_groups: list[tuple[str, list[list[str]]]] | None = None,
    blooms_map: dict[str, dict] | None = None,
    meta=None,
    need_untouched: bool = True,
) -> tuple[list[str], list[str]]:
    """Partition manifest files into (maybe_touched, untouched).

    ``paths`` maps manifest-relative name -> absolute path. ``stats_map``
    is the manifest's commit-time ``file_stats`` (rel -> {col: [min,
    max]}); files present there prune without any footer IO — at 100 TB
    the manifest read replaces N per-query footer reads. Files absent
    (pre-stats commits) fall back to reading their footer. ``blooms_map``
    (``meta.file_blooms()``) supplies the per-file bloom payloads when
    the caller determined the query needs them
    (:func:`bloom_columns_needed`).

    STATS-TREE FAST PATH: when ``meta`` is passed and its manifest
    declares complete stats coverage (``stats_complete``), the probe
    walks shard-level summaries first — a shard whose [min, max] hull
    excludes the constraints is skipped WITHOUT loading or iterating it
    (its files are untouched wholesale), so probe cost is O(shards) +
    O(files in surviving shards) instead of O(all files). Compaction
    writes clustered ~1k-file shards, so a selective probe on a
    clustered column touches one shard however many files the
    collection holds."""
    from xcube_geodb_spark.operators.stats import footer_min_max

    if not constraints and not fts_groups:
        return list(paths), []
    if meta is not None and stats_map is None:
        if getattr(meta, "stats_complete", False) and constraints:
            touched = []  # shard-walk order
            seen: set[str] = set()
            for name, summary in meta.stats_shards():
                if summary is not None and summary_excludes(
                    summary, constraints
                ):
                    continue  # whole shard provably untouched: never loaded
                for rel, raw in meta.load_stats_shard(name).items():
                    if rel in seen or rel not in paths:
                        continue
                    seen.add(rel)
                    if _classify_file(
                        rel, raw, columns, constraints, fts_groups, blooms_map
                    ):
                        touched.append(rel)
            if not need_untouched:
                return touched, []
            # stats_complete: every live file is covered by some shard, so
            # files of skipped shards are exactly paths - touched
            ts = set(touched)
            return touched, [r for r in paths if r not in ts]
        stats_map = meta.file_stats()
    touched, untouched = [], []
    for rel, absolute in paths.items():
        if stats_map is not None and rel in stats_map:
            ok = _classify_file(
                rel, stats_map[rel], columns, constraints, fts_groups,
                blooms_map,
            )
        else:
            stats = footer_min_max([absolute], columns)
            ok = file_may_match(stats, constraints) and (
                not fts_groups or fts_file_may_match(stats, fts_groups)
            )
        if ok:
            touched.append(rel)
        else:
            untouched.append(rel)
    return touched, untouched


def fts_indexes(m) -> dict[str, str]:
    """column -> dictionary for the collection's fts token-bloom indexes."""
    return {
        i["property"]: i.get("dictionary", "english")
        for i in m.d.get("indexes", [])
        if i.get("type") == "fts"
    }


def bloom_indexed(m) -> set[str]:
    return {
        i["property"]
        for i in m.d.get("indexes", [])
        if i.get("type") == "bloom"
    }


def query_files(
    catalog, collection: str, database: str, m, query: Query, need_untouched: bool = False
) -> tuple[list[str], list[str]] | None:
    """``(kept, dropped)`` files of manifest snapshot ``m`` for grammar
    ``query``: its conjunctive constraints against the file stats, its fts
    terms (and ``eq``/``in`` values on bloom-indexed columns) against the
    file blooms. None when the query has no such test or ``m`` no file.
    Grammar scans, their DML rewrites and ``explain_scan`` all decide here."""
    constraints = conjunctive_constraints(query)
    fts_groups = fts_term_groups(query, fts_indexes(m))
    if not (constraints or fts_groups) or not m.files:
        return None
    return split_files_by_constraints(
        catalog.manifest_paths(collection, database, meta=m),
        sorted({c for c, _, _ in constraints}),
        constraints,
        meta=m,
        need_untouched=need_untouched,
        fts_groups=fts_groups,
        blooms_map=(
            m.file_blooms()
            if bloom_columns_needed(constraints, fts_groups, bloom_indexed(m))
            else None
        ),
    )


class Candidates:
    """The rows a client read (a spatial filter-and-refine read, or a
    grammar read) collects, with the decision of how it reads them
    (``decision``: ``lane``, ``files_total``, ``files_kept``). On the ``"driver"`` lane they are already an Arrow
    table, read from the kept files with ``pyarrow``; on the ``"spark"``
    lane they are a Spark DataFrame over the same files. Both answer a
    collecting caller as a DataFrame does: ``schema``, ``toArrow()``,
    ``toPandas()``. ``srid`` is the SRID of the manifest snapshot read."""

    def __init__(self, spark, schema, decision: dict, srid: int, df=None, table=None):
        self.spark, self.schema, self.decision = spark, schema, decision
        self.srid, self.df, self.table = srid, df, table

    def toArrow(self):
        return self.table if self.df is None else self.df.toArrow()

    def toPandas(self) -> pd.DataFrame:
        from xcube_geodb_spark.client import arrow_to_pandas

        return arrow_to_pandas(self.toArrow(), self.schema, self.spark)


class PrunedRead:
    """A read of the ``files`` of one manifest snapshot ``m`` (by default
    all of them), and the lane it takes (:meth:`decide`)."""

    def __init__(self, catalog, collection, database, m, files=None):
        self.catalog, self.collection, self.database, self.m = (
            catalog, collection, database, m,
        )
        # the schema as Spark reports a parquet scan of it: all nullable
        self.schema = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in m.spark_schema().fields]
        )
        self.paths = catalog.manifest_paths(collection, database, m)
        self.files = list(self.paths) if files is None else files
        self.driver = False

    def prune_query(self, query: Query) -> bool:
        """Keep the files whose stats and blooms admit grammar ``query``
        (:func:`query_files`); False when the query has no file test."""
        split = query_files(self.catalog, self.collection, self.database, self.m, query)
        if split is not None:
            self.files = split[0]
        return split is not None

    def prune(self, spec: Conjunction) -> None:
        """Keep the files whose stats admit ``spec``."""
        self.files, _ = split_files_by_constraints(
            {f: self.paths[f] for f in self.files}, spec.columns,
            spec.constraints(), meta=self.m, need_untouched=False,
        )

    def decide(self, driver_ok: bool = True) -> None:
        """Read on the driver when ``driver_ok`` and the files are small."""
        self.driver = driver_ok and dml.files_fit_driver(
            self.catalog, self.collection, self.database, self.files
        )
        self.decision = {
            "lane": "driver" if self.driver else "spark",
            "files_total": len(self.paths),
            "files_kept": len(self.files),
        }

    def read(self, spec: Conjunction, columns: list[str] | dict, also=None):
        """The rows of the kept files that pass ``spec`` (and the
        ``pyarrow`` expression ``also``), read on the driver under the
        declared schema: a column a file lacks reads as NULL, Spark's INT96
        timestamps as microseconds. ``columns`` names the columns read, or
        maps output names to ``pyarrow`` expressions over them."""
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema

        base = self.catalog._coll_dir(self.collection, self.database)
        fmt = ds.ParquetFileFormat(
            read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
        )
        floating = {f.name for f in self.schema.fields if isinstance(f.dataType, T.DoubleType)}
        where = spec.arrow(floating)
        if also is not None:
            where = where & also
        return ds.dataset(
            [os.path.join(base, f) for f in self.files],
            schema=to_arrow_schema(self.schema),
            format=fmt,
        ).to_table(columns=columns, filter=where)

    def frame(self) -> DataFrame:
        """The kept files as a Spark DataFrame (the Spark lane)."""
        return self.catalog.load_files(
            self.collection, self.database, self.files, meta=self.m
        )

    def candidates(self, spec: Conjunction, drop=SYSTEM_COLUMNS, spark_filters=(), also=None):
        """:class:`Candidates` of the rows passing ``spec`` (and, on the
        Spark lane, the Column filters ``spark_filters``; on the driver
        lane, the ``pyarrow`` expression ``also``), without the columns
        ``drop``."""
        spark = self.catalog.spark
        if self.driver:
            schema = T.StructType([f for f in self.schema.fields if f.name not in drop])
            table = self.read(spec, [f.name for f in schema.fields], also)
            return Candidates(spark, schema, self.decision, self.m.srid, table=table)
        df = self.frame()
        for cond in (*spark_filters, *([F.expr(spec.sql())] if spec else [])):
            df = df.filter(cond)
        df = df.drop(*drop)
        return Candidates(spark, df.schema, self.decision, self.m.srid, df=df)
