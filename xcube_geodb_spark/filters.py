"""PostgREST filter-grammar parser: one predicate tree, three lowerings.

The reference's ``get_collection(query=...)`` forwards the query string
verbatim to PostgREST (``xcube_geodb/core/geodb.py:1866-1874``), which
parses it into SQL; nothing in the reference repo implements the grammar.
This module is the Spark-native replacement: a recursive-descent parser for
the PostgREST v6 convention (pinned by the reference docstrings,
``geodb.py:1335/:1372/:1843``). :func:`parse_query` reads a query once into
a :class:`Query`: a tree of :class:`Leaf` ``(column, op, value, negate,
fts_lang)`` nodes and negatable ``and``/``or`` :class:`Group` nodes, with
``select``, ``order``, ``limit`` and ``offset`` alongside. The tree lowers
three ways:

1. :func:`parse_postgrest_query`: a declarative Spark ``Column``, so
   Catalyst can push every predicate into the parquet scan;
2. :meth:`Query.constraints`: the ``(column, op, literal)`` triples that
   prune manifest files (``operators/pruning.py``);
3. :meth:`Query.arrow`: a ``pyarrow.compute`` expression, NULL exactly
   where the ``Column`` is (Kleene logic, Spark's NaN order), for a subset
   of the grammar, and :meth:`Query.arrow_sort` for the order; client
   reads of small kept files run them on the driver
   (``operators/scan.collection_candidates``).

Supported surface (superset of every form in the reference's tests and
notebooks — see SURVEY.md §2.2):

- ``col=eq.1410``, ``col=gt.5``, ``ge``/``le`` aliases, ``neq`` …
- ``col=like.*pat*`` / ``ilike`` (``*`` wildcard -> SQL ``%``)
- ``col=in.(a,b,"c d")``; ``col=is.null|true|false``
- array containment ``col=cs.{a,b}`` (column ⊇ list) / ``col=cd.{a,b}``
  (column ⊆ list) — scoped to array-typed columns (PostgREST also applies
  them to jsonb/ranges; the engine's property model stores arrays)
- full-text search ``col=fts.a&b|!c`` (tsquery &/|/! over lower-cased
  alphanumeric tokens), ``plfts`` (plain: all words), ``phfts`` (phrase:
  consecutive tokens), ``wfts`` (websearch: words, ``-`` negation, ``or``,
  quoted phrases); the ``fts(english).`` language tag applies the built-in
  Porter stemmer (functions/porter.py, pure Column tree — no UDF) to both
  document tokens and query terms, matching PG's english dictionary
  semantics; ``fts(simple).`` / no tag = exact token match; other
  dictionary names fail the parse (stopword elision not applied —
  documented deviation)
- json arrows in column references: ``props->>k=eq.7``,
  ``order=props->>k.desc``, ``select=props->a->>b``, array index ``->2``
- ``select`` elements ``alias:column->json_path::cast`` (every segment
  optional; json extractions default-named after their last path key)
- negation ``col=not.op.value``
- boolean trees ``and=(...)`` / ``or=(...)`` with arbitrary nesting, both
  the ``or(...)`` and ``or=(...)`` spellings inside groups, ``not.and``/
  ``not.or``
- ``select=`` projection, ``order=col.desc.nullslast`` sorting,
  ``limit=`` / ``offset=`` paging
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xcube_geodb_spark.errors import GeoDBError
from xcube_geodb_spark.geometry.udfs import _arrow_term

_OPS = {
    "eq",
    "neq",
    "gt",
    "gte",
    "ge",
    "lt",
    "lte",
    "le",
    "like",
    "ilike",
    "in",
    "is",
    "cs",
    "cd",
    "fts",
    "plfts",
    "phfts",
    "wfts",
    "match",
    "imatch",
}


@dataclass
class ParsedQuery:
    predicate: Column | None = None
    select: list[str] | None = None
    order: list[tuple[str, bool, str | None]] = field(default_factory=list)
    limit: int | None = None
    offset: int | None = None


@dataclass(frozen=True)
class Leaf:
    """``column op value``: ``op`` lower-cased as spelled (``ge``/``le``
    kept), ``value`` the raw text after it."""

    column: str
    op: str
    value: str
    negate: bool = False
    fts_lang: str | None = None


@dataclass(frozen=True)
class Group:
    """An ``and`` / ``or`` of its members, possibly negated."""

    conj: str
    members: tuple = ()
    negate: bool = False


FTS_OPS = ("fts", "plfts", "phfts", "wfts")
# the operators whose literal bounds a column's [min, max] (file pruning)
_INTERVAL_OPS = {"eq", "gt", "gte", "ge", "lt", "lte", "le", "in"}
# the comparison operators of the pyarrow lowering, as udfs._arrow_term spells them
_ARROW_OPS = {
    "eq": "=", "neq": "=", "in": "=", "gt": ">", "gte": ">=", "ge": ">=",
    "lt": "<", "lte": "<=", "le": "<=",
}
_INTEGRAL = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
# column types an Arrow sort orders as Spark does (NaN and NULL spelled out)
_SORTABLE = (*_INTEGRAL, T.DoubleType, T.FloatType, T.StringType, T.BooleanType,
             T.DateType, T.TimestampType)


@dataclass
class Query:
    """A parsed grammar query: the filters (``where``, the top-level
    filters AND-ed; no members, no filter) with ``select``, ``order``,
    ``limit`` and ``offset`` alongside. The filters lower three ways:
    :func:`parse_postgrest_query` (a Spark ``Column``),
    :meth:`constraints` (file pruning) and :meth:`arrow` (a driver read)."""

    where: Group = Group("and")
    select: list[str] | None = None
    order: list[tuple[str, bool, str | None]] = field(default_factory=list)
    limit: int | None = None
    offset: int | None = None

    def constraints(self) -> list[tuple[str, str, object]]:
        """``[(column, op, literal)]`` for the plain interval comparisons
        every matching row satisfies: the top-level leaves and the leaves
        directly inside a top-level ``and`` group. Negations, ``or``
        groups, nested groups and other operators contribute nothing
        ("maybe matches"). Literals are parsed without the column type."""
        out = []
        for node in self.where.members:
            if isinstance(node, Leaf):
                leaves = [node]
            elif node.conj == "and" and not node.negate:
                leaves = [m for m in node.members if isinstance(m, Leaf)]
            else:
                continue
            for leaf in leaves:
                if leaf.negate or leaf.op not in _INTERVAL_OPS:
                    continue
                if leaf.op != "in":
                    out.append((leaf.column, leaf.op, _parse_literal(leaf.value)))
                    continue
                raw = leaf.value.strip()
                if raw.startswith("(") and raw.endswith(")"):
                    out.append(
                        (leaf.column, "in", [_parse_literal(v) for v in _split_csv(raw[1:-1])])
                    )
        return out

    def columns(self) -> set[str]:
        """Every column the filters and the order name."""
        out = {name for name, _, _ in self.order}

        def walk(node):
            if isinstance(node, Leaf):
                out.add(node.column)
            else:
                for m in node.members:
                    walk(m)

        walk(self.where)
        return out

    def arrow(self, types: dict[str, T.DataType]) -> pc.Expression | None:
        """The filters as a ``pyarrow.compute`` expression that is TRUE,
        FALSE and NULL exactly where Spark's ``Column`` is (Kleene logic,
        Spark's NaN order), or None outside the subset it covers:
        ``eq``/``neq``/``gt``/``gte``/``lt``/``lte``/``in`` of an integral
        column with integers, a DOUBLE column with numbers or a string
        column with strings; ``is.null`` on any column; ``is.true``/
        ``is.false`` on a boolean column; ``not.``; ``and``/``or`` groups.
        ``types`` maps the declared columns to their Spark types."""
        return _arrow(self.where, types) if self.where.members else pc.scalar(True)

    def arrow_sortable(self, types: dict[str, T.DataType]) -> bool:
        return all(isinstance(types.get(name), _SORTABLE) for name, _, _ in self.order)

    def arrow_sort(self, table: pa.Table) -> pa.Table:
        """``table`` in the order the Spark lowering sorts it: PG's NULL
        placement (last ascending, first descending, or as spelled) and
        NaN above every number. Each key is spelled out as a NULL rank, a
        NaN rank and the value, because pyarrow's ``null_placement``
        groups NaN with NULL."""
        keys, cols = [], {}
        for i, (name, asc, nulls) in enumerate(self.order):
            col = table.column(name)
            nulls_first = nulls == "nullsfirst" if asc else nulls != "nullslast"
            cols[f"n{i}"] = col.is_null()
            keys.append((f"n{i}", "descending" if nulls_first else "ascending"))
            direction = "ascending" if asc else "descending"
            if pa.types.is_floating(col.type):
                nan = pc.fill_null(pc.is_nan(col), False)
                cols[f"x{i}"] = nan
                keys.append((f"x{i}", direction))
                col = pc.if_else(nan, pa.scalar(0, col.type), col)
            cols[f"v{i}"] = col
            keys.append((f"v{i}", direction))
        if not keys:
            return table
        return table.take(pc.sort_indices(pa.table(cols), sort_keys=keys))


def _arrow(node: Leaf | Group, types: dict[str, T.DataType]) -> pc.Expression | None:
    if isinstance(node, Group):
        out = None
        for m in node.members:
            e = _arrow(m, types)
            if e is None:
                return None
            out = e if out is None else (out & e) if node.conj == "and" else (out | e)
        return ~out if node.negate else out
    dtype = types.get(node.column)
    if dtype is None:
        return None
    f = pc.field(node.column)
    if node.op == "is":
        v = node.value.strip().lower()
        if v == "null":
            out = f.is_null()
        elif v in ("true", "false") and isinstance(dtype, T.BooleanType):
            # PG's IS TRUE / IS FALSE: FALSE, never NULL, on a NULL cell
            out = f.is_valid() & (f == (v == "true"))
        else:
            return None
        return ~out if node.negate else out
    op = _ARROW_OPS.get(node.op)
    if op is None:
        return None
    raw = [node.value]
    if node.op == "in":
        inner = node.value.strip()
        if not (inner.startswith("(") and inner.endswith(")")):
            return None
        raw = _split_csv(inner[1:-1])
        # Spark turns a list of more than 10 into a hash-set lookup, where
        # -0.0 no longer equals 0.0
        if not raw or isinstance(dtype, T.DoubleType) and len(raw) > 10:
            return None
    out = None
    for r in raw:
        v = _arrow_literal(_parse_literal(r, dtype), dtype)
        if v is None:
            return None
        e = _arrow_term(pc, f, op, v, isinstance(dtype, T.DoubleType))
        out = e if out is None else out | e
    if node.op == "neq":
        out = ~out
    return ~out if node.negate else out


def _arrow_literal(v, dtype: T.DataType):
    """``v`` as the literal pyarrow compares as Spark does with a column
    of ``dtype``, or None: an integer with an integral column, a number
    with a DOUBLE column, a string with a string column."""
    if isinstance(dtype, T.StringType):
        return v if isinstance(v, str) else None
    if type(v) is int and not -(2**63) <= v < 2**63:
        return None
    if type(v) is int and isinstance(dtype, _INTEGRAL):
        return v
    if type(v) in (int, float) and isinstance(dtype, T.DoubleType):
        return float(v)
    return None


def _parse_literal(raw: str, dtype: T.DataType | None = None):
    """Turn a PostgREST value token into a Python literal (number / bool /
    string). Quoted strings keep their exact contents. When the target
    column's type is known and is a string type, the token stays text —
    PostgREST compares by column type, so ``col=eq.0123`` on a text column
    must match the string ``'0123'``, not the number 123."""
    raw = raw.strip()
    if len(raw) >= 2 and raw[0] == '"' and raw[-1] == '"':
        return raw[1:-1].replace('\\"', '"')
    if isinstance(dtype, T.StringType):
        return raw
    low = raw.lower()
    if low == "true":
        return True
    if low == "false":
        return False
    try:
        return int(raw)
    except ValueError:
        pass
    try:
        return float(raw)
    except ValueError:
        pass
    return raw


def _col_ref(
    name: str, schema: dict[str, T.DataType] | None = None
) -> tuple[Column, T.DataType | None]:
    """Resolve a column reference that may carry a PostgREST json path:
    ``props->>k``, ``props->a->>b``, ``props->2`` (array index). Arrow
    chains compile to ``get_json_object`` with a ``$.a.b`` / ``$[2]``
    path. Both ``->`` (json) and ``->>`` (text) terminals yield Spark
    strings — json properties are stored as json text and the chained form
    is preserved through the path, so only the representation of a
    *terminal* ``->`` on an object/array differs (documented deviation;
    PostgREST renders it as jsonb)."""
    if "->" not in name:
        return F.col(name), (schema or {}).get(name)
    parts = re.split(r"->>|->", name)
    base = parts[0].strip()
    path = "$"
    for k in (p.strip() for p in parts[1:]):
        path += f"[{k}]" if k.isdigit() else f".{k}"
    return F.get_json_object(F.col(base), path), T.StringType()


def _select_expr(item: str, schema: dict[str, T.DataType] | None) -> Column:
    """One ``select=`` element: ``alias:column->json_path::cast`` with every
    segment optional (PostgREST v6 resource-embedding excluded — there are
    no foreign tables in a collection scan). Default output names follow
    PostgREST: a json extraction is named after its last path key."""
    alias = None
    m = re.match(r"^([A-Za-z_][A-Za-z0-9_]*):(?!:)(.+)$", item)
    if m:
        alias, item = m.group(1), m.group(2)
    cast = None
    m = re.match(r"^(.+?)::([A-Za-z0-9_ \[\]]+)$", item)
    if m:
        item, cast = m.group(1), m.group(2).strip()
    item = item.strip()
    col, _ = _col_ref(item, schema)
    if cast is not None:
        from xcube_geodb_spark.catalog import pg_type_to_spark

        col = col.cast(pg_type_to_spark(cast))
    if alias is None:
        if "->" in item:
            alias = re.split(r"->>|->", item)[-1].strip()
        elif cast is not None:
            alias = item
        else:
            return col  # plain column: keep the reference untouched
    return col.alias(alias)


def _split_csv(s: str) -> list[str]:
    """Split on commas at paren depth 0, respecting double quotes."""
    out, depth, start, in_q = [], 0, 0, False
    for i, ch in enumerate(s):
        if ch == '"' and (i == 0 or s[i - 1] != "\\"):
            in_q = not in_q
        elif not in_q:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                out.append(s[start:i])
                start = i + 1
    out.append(s[start:])
    return [x.strip() for x in out if x.strip()]


def _compile_op(
    column: str,
    op: str,
    value: str,
    negate: bool,
    schema: dict[str, T.DataType] | None = None,
    fts_lang: str | None = None,
) -> Column:
    c, dtype = _col_ref(column, schema)
    if op == "eq":
        expr = c == F.lit(_parse_literal(value, dtype))
    elif op == "neq":
        expr = c != F.lit(_parse_literal(value, dtype))
    elif op == "gt":
        expr = c > F.lit(_parse_literal(value, dtype))
    elif op in ("gte", "ge"):
        expr = c >= F.lit(_parse_literal(value, dtype))
    elif op == "lt":
        expr = c < F.lit(_parse_literal(value, dtype))
    elif op in ("lte", "le"):
        expr = c <= F.lit(_parse_literal(value, dtype))
    elif op == "like":
        expr = c.like(value.replace("*", "%"))
    elif op == "ilike":
        expr = c.ilike(value.replace("*", "%"))
    elif op in ("match", "imatch"):
        expr = c.rlike(value if op == "match" else f"(?i){value}")
    elif op == "in":
        inner = value.strip()
        if not (inner.startswith("(") and inner.endswith(")")):
            raise GeoDBError(f"in filter requires a parenthesized list: {value!r}")
        items = [_parse_literal(v, dtype) for v in _split_csv(inner[1:-1])]
        expr = c.isin(items)
    elif op == "is":
        v = value.strip().lower()
        if v == "null":
            expr = c.isNull()
        elif v in ("true", "false"):
            # PG's IS TRUE / IS FALSE: false, never NULL, on a NULL cell
            expr = c.eqNullSafe(F.lit(v == "true"))
        else:
            raise GeoDBError(f"is filter accepts null/true/false, got {value!r}")
    elif op in ("cs", "cd"):
        expr = _containment(c, op, value, dtype)
    elif op in FTS_OPS:
        expr = _fts(c, op, value, fts_lang)
    else:
        raise GeoDBError(f"Unsupported filter operator: {op!r}")
    return ~expr if negate else expr


def _containment(c: Column, op: str, value: str, dtype) -> Column:
    """``cs`` = column contains every listed element (PG ``@>``);
    ``cd`` = column contained in the list (PG ``<@``). List literal is the
    PostgREST brace form ``{a,b,"c d"}``."""
    raw = value.strip()
    if not (raw.startswith("{") and raw.endswith("}")):
        raise GeoDBError(f"{op} filter requires a brace list: {value!r}")
    if dtype is not None and not isinstance(dtype, T.ArrayType):
        # PostgREST also applies @>/<@ to jsonb/ranges; the engine's
        # property model stores arrays — fail the parse, not Spark analysis
        raise GeoDBError(
            f"{op} filter requires an array-typed column, got {dtype.simpleString()}"
        )
    elem_dtype = dtype.elementType if isinstance(dtype, T.ArrayType) else None
    items = [_parse_literal(v, elem_dtype) for v in _split_csv(raw[1:-1])]
    lit_arr = F.array(*[F.lit(v) for v in items])
    if op == "cs":
        return F.size(F.array_except(lit_arr, c)) == 0
    return F.size(F.array_except(c, lit_arr)) == 0


def _fts_tokens(c: Column) -> Column:
    """to_tsvector tokenizer stand-in: lower-cased alphanumeric word
    tokens. Stemming (the ``english`` dictionary) is applied on top by
    :func:`_fts` when the filter carries a language tag."""
    return F.array_remove(F.split(F.lower(c), "[^a-z0-9]+"), "")


def _fts_norm(term: str) -> str:
    return " ".join(t for t in re.split(r"[^a-z0-9]+", term.lower()) if t)


def _fts(c: Column, op: str, value: str, lang: str | None = None) -> Column:
    """tsquery evaluation over :func:`_fts_tokens`.

    fts: ``a&b|!c`` — ``|`` (lowest precedence) over ``&`` groups of
    optionally ``!``-negated terms. plfts: every word required. phfts:
    consecutive-token phrase. wfts: websearch — bare words ANDed, ``-word``
    negated, ``or`` separates alternatives, quoted phrases kept whole.

    ``lang`` in ``("english", "en")`` runs PG's english-dictionary
    pipeline on both sides: Snowball STOPWORDS are elided first
    (functions/stopwords.py — document tokens filtered in the Column
    tree, query terms dropped from their groups exactly as
    ``to_tsquery`` does: a group left empty disappears, a query left
    with no groups matches nothing), then the Porter stemmer applies
    (pure Column tree, functions/porter.py — JVM-evaluated inside the
    scan, no UDF; query terms through its Python twin), so
    ``fts(english).connection`` matches "connections"/"connected" and
    ``fts(english).the.cat`` behaves like PG's ``'the & cat'`` ->
    ``'cat'``. No tag (or ``simple``) keeps exact token matching with
    no elision."""
    stemmed = lang in _STEM_DICTS
    toks = _fts_tokens(c)
    toks_all = toks  # unfiltered stream: phrase gaps need ORIGINAL positions
    if stemmed:
        from xcube_geodb_spark.functions.porter import porter_col, porter_py
        from xcube_geodb_spark.functions.stopwords import (
            ENGLISH_STOPWORDS,
            ENGLISH_STOPWORDS_SORTED,
        )

        stop_list = list(ENGLISH_STOPWORDS_SORTED)
        toks = F.filter(toks, lambda t: ~t.isin(stop_list))
        toks = F.transform(toks, porter_col)

    def norm_words(t: str) -> str:
        words = _fts_norm(t).split(" ") if _fts_norm(t) else []
        if stemmed:
            words = [w for w in words if w not in ENGLISH_STOPWORDS]
            words = [porter_py(w) for w in words]
        return " ".join(words)

    def phrase_match(phrase_normed: str) -> Column:
        joined = F.concat(F.lit(" "), F.array_join(toks, " "), F.lit(" "))
        return joined.contains(f" {phrase_normed} ")

    def term(t: str) -> Column | None:
        """None = the term elided entirely (english stopword), exactly
        PG's to_tsquery behavior; raises only on syntactically empty
        terms."""
        neg = t.startswith("!") or t.startswith("-")
        raw = t.lstrip("!-")
        if not _fts_norm(raw):
            raise GeoDBError(f"Empty term in {op} filter: {value!r}")
        body = norm_words(raw)
        if not body:
            return None
        e = (
            F.array_contains(toks, body)
            if " " not in body
            else phrase_match(body)
        )
        return ~e if neg else e

    def conj(exprs: list) -> Column | None:
        kept = [e for e in exprs if e is not None]
        if not kept:
            return None  # whole group elided
        out = kept[0]
        for e in kept[1:]:
            out = out & e
        return out

    if op == "phfts":
        if not _fts_norm(value):
            raise GeoDBError(f"Empty phrase in phfts filter: {value!r}")
        if not stemmed:
            return phrase_match(norm_words(value))
        # PG phrase semantics with stopword elision: elided stopwords
        # leave POSITIONAL GAPS ('the cat in the hat' -> 'cat <3> hat'),
        # i.e. the surviving terms must sit at the same original-stream
        # distances — ANY token (stopword or not) may occupy the gap
        # positions. Matched as a regex over the original token stream
        # with non-stopwords stemmed in place (stopword tokens stay as
        # position fillers only a gap wildcard can consume); tokens are
        # [a-z0-9]+ so the generated pattern needs no escaping.
        from xcube_geodb_spark.functions.porter import porter_col as _pcol

        words = _fts_norm(value).split(" ")
        kept = [
            (i, porter_py(w))
            for i, w in enumerate(words)
            if w not in ENGLISH_STOPWORDS
        ]
        if not kept:
            return F.lit(False)  # all-stopword phrase: empty tsquery
        # NOTE: no consecutive-in-filtered-stream shortcut even for a
        # stopword-free QUERY — the DOCUMENT side's positions are
        # original-stream too, so 'window <-> function' must NOT match
        # "window the function" (PG rejects it: tsvector positions are
        # pre-elision)
        # stopword tokens stay in the stream as POSITION FILLERS only:
        # the \x01 suffix moves them out of the stem namespace, so a
        # query stem that happens to spell a stopword ("do") can never
        # match a filler — in PG's tsvector the stopword position simply
        # has no lexeme (the positional-index path gets this for free)
        stream = F.concat(
            F.lit(" "),
            F.array_join(
                F.transform(
                    toks_all,
                    lambda t: F.when(
                        t.isin(stop_list), F.concat(t, F.lit("\x01"))
                    ).otherwise(_pcol(t)),
                ),
                " ",
            ),
            F.lit(" "),
        )
        pat = " " + kept[0][1]
        for (i_prev, _), (i_cur, w) in zip(kept, kept[1:]):
            pat += "(?: [^ ]+){%d} %s" % (i_cur - i_prev - 1, w)
        return stream.rlike(pat + " ")
    if op == "plfts":
        out = conj([term(w) for w in _fts_norm(value).split(" ")])
        return out if out is not None else F.lit(False)
    if op == "wfts":
        groups: list[list[str]] = [[]]
        for t in re.findall(r'-?"[^"]+"|\S+', value):
            if t.lower() == "or":
                groups.append([])
            else:
                groups[-1].append(t.replace('"', ""))
        raw_groups = [g for g in groups if g]
        if not raw_groups:
            raise GeoDBError(f"Empty wfts query: {value!r}")
        group_cols = [
            e for e in (conj([term(t) for t in g]) for g in raw_groups)
            if e is not None
        ]
        if not group_cols:
            return F.lit(False)  # every group elided: empty tsquery
        out = group_cols[0]
        for e in group_cols[1:]:
            out = out | e
        return out
    # fts: | over & groups
    or_cols = []
    for group in value.split("|"):
        terms = [t for t in group.split("&") if t.strip()]
        if not terms:
            raise GeoDBError(f"Empty group in fts filter: {value!r}")
        e = conj([term(t) for t in terms])
        if e is not None:
            or_cols.append(e)
    if not or_cols:
        return F.lit(False)  # every group elided: empty tsquery
    out = or_cols[0]
    for e in or_cols[1:]:
        out = out | e
    return out


_STEM_DICTS = ("english", "en")
_PLAIN_DICTS = ("simple",)


def _norm_op(op: str) -> tuple[str, str | None]:
    """Split an fts-family language tag: ``fts(english)`` ->
    ``("fts", "english")``. The tag selects the stemming dictionary, as in
    PG: ``english`` applies the built-in Porter stemmer
    (functions/porter.py) to both document tokens and query terms;
    ``simple`` (and no tag) means exact token match. Other dictionary
    names fail the parse — the engine ships only the english stemmer.
    The english dictionary also applies PG's stopword elision (Snowball
    list, functions/stopwords.py) to document tokens and query terms."""
    base, _, tag = op.partition("(")
    if base not in FTS_OPS:
        return op, None
    lang = tag[:-1].strip().lower() if tag.endswith(")") else None
    if tag and not tag.endswith(")"):
        raise GeoDBError(f"Malformed fts language tag in {op!r}")
    if lang is not None and lang not in _STEM_DICTS + _PLAIN_DICTS:
        raise GeoDBError(
            f"Unknown fts dictionary {lang!r} (available: english, simple)"
        )
    return base, lang


def _parse_condition(token: str) -> Leaf | Group:
    """``col.op.value`` / ``col.not.op.value`` / nested ``and(...)``/``or(...)``."""
    token = token.strip()
    low = token.lower()
    for head, neg in (("not.and", True), ("not.or", True), ("and", False), ("or", False)):
        if low.startswith(head + "(") or low.startswith(head + "=("):
            conj = head.rsplit(".", 1)[-1]
            open_idx = token.index("(")
            if not token.endswith(")"):
                raise GeoDBError(f"Unbalanced logic group: {token!r}")
            return _parse_group(conj, token[open_idx + 1 : -1], neg)
    parts = token.split(".")
    if len(parts) < 3:
        raise GeoDBError(f"Invalid filter condition: {token!r}")
    negate = parts[1].lower() == "not"
    idx = 2 if negate else 1
    op, fts_lang = _norm_op(parts[idx].lower())
    if op not in _OPS:
        raise GeoDBError(f"Unknown operator {op!r} in condition {token!r}")
    return Leaf(parts[0], op, ".".join(parts[idx + 1 :]), negate, fts_lang)


def _parse_group(conj: str, body: str, negate: bool = False) -> Group:
    members = tuple(_parse_condition(tok) for tok in _split_csv(body))
    if not members:
        raise GeoDBError(f"Empty {conj}=() group")
    return Group(conj, members, negate)


def _split_pairs(query: str) -> list[tuple[str, str]]:
    """Split a raw query string into (key, value) pairs. Values are
    percent-decoded once — PostgREST receives them after HTTP URL-decoding,
    so ``fts`` values carrying ``&``/``=`` arrive as ``%26``/``%3D``
    (the reference forwards the string verbatim to the server, which
    decodes; ``geodb.py:1866``)."""
    from urllib.parse import unquote

    pairs = []
    for part in query.split("&"):
        if not part:
            continue
        if "=" not in part:
            raise GeoDBError(f"Malformed query fragment: {part!r}")
        k, v = part.split("=", 1)
        if not k.strip():
            raise GeoDBError(f"Empty key in query fragment: {part!r}")
        pairs.append((k.strip(), unquote(v.strip())))
    return pairs


def parse_query(query: str | Query | None) -> Query:
    """Parse a grammar query string into its :class:`Query` tree (a
    ``Query`` passes through). Grammar errors raise here; errors that need
    the column types (a bad ``in`` list, ``cs`` on a scalar, an empty fts
    term) raise when the tree is lowered to a Spark ``Column``."""
    if isinstance(query, Query):
        return query
    q = Query()
    if not query:
        return q
    preds: list[Leaf | Group] = []
    for key, value in _split_pairs(query):
        low = key.lower()
        if low == "select":
            q.select = [c.strip() for c in value.split(",") if c.strip()]
        elif low == "order":
            for item in _split_csv(value):
                bits = item.split(".")
                asc = True
                nulls = None
                for b in bits[1:]:
                    bl = b.lower()
                    if bl in ("asc", "desc"):
                        asc = bl == "asc"
                    elif bl in ("nullsfirst", "nullslast"):
                        nulls = bl
                q.order.append((bits[0], asc, nulls))
        elif low == "limit":
            q.limit = int(value)
        elif low == "offset":
            q.offset = int(value)
        elif low in ("and", "or", "not.and", "not.or"):
            if not (value.startswith("(") and value.endswith(")")):
                raise GeoDBError(f"{key}= group must be parenthesized: {value!r}")
            preds.append(_parse_group(low.rsplit(".", 1)[-1], value[1:-1], low.startswith("not.")))
        else:
            # column filter: key is the column, value is "op.value" or
            # "not.op.value"
            bits = value.split(".")
            negate = bits[0].lower() == "not"
            idx = 1 if negate else 0
            if len(bits) <= idx:
                raise GeoDBError(f"Invalid filter for column {key!r}: {value!r}")
            op, fts_lang = _norm_op(bits[idx].lower())
            if op not in _OPS:
                raise GeoDBError(f"Unknown operator {op!r} for column {key!r}")
            preds.append(Leaf(key, op, ".".join(bits[idx + 1 :]), negate, fts_lang))
    q.where = Group("and", tuple(preds))
    return q


def _column(node: Leaf | Group, schema: dict[str, T.DataType] | None) -> Column:
    """The Spark lowering of a tree node."""
    if isinstance(node, Leaf):
        return _compile_op(
            node.column, node.op, node.value, node.negate, schema, node.fts_lang
        )
    cols = [_column(m, schema) for m in node.members]
    out = cols[0]
    for c in cols[1:]:
        out = (out & c) if node.conj == "and" else (out | c)
    return ~out if node.negate else out


def parse_postgrest_query(
    query: str | Query | None, schema: dict[str, T.DataType] | None = None
) -> ParsedQuery:
    """The query with its filters lowered to one Spark ``Column``
    (``predicate``; None without a filter)."""
    q = parse_query(query)
    return ParsedQuery(
        predicate=_column(q.where, schema) if q.where.members else None,
        select=q.select,
        order=q.order,
        limit=q.limit,
        offset=q.offset,
    )


def _order_columns(order: list[tuple[str, bool, str | None]]) -> list[Column]:
    """PostgREST sorts with PG's defaults — NULLS LAST ascending, FIRST
    descending; Spark's bare asc()/desc() are the OPPOSITE (r12 probe),
    so the placement is always explicit here."""
    cols = []
    for name, asc, nulls in order:
        c, _ = _col_ref(name)
        if asc:
            c = (
                c.asc_nulls_first()
                if nulls == "nullsfirst"
                else c.asc_nulls_last()
            )
        else:
            c = (
                c.desc_nulls_last()
                if nulls == "nullslast"
                else c.desc_nulls_first()
            )
        cols.append(c)
    return cols


def apply_postgrest_query(
    df: DataFrame,
    query: str | Query | None = None,
    limit: int | None = None,
    offset: int | None = None,
) -> DataFrame:
    """Apply a parsed PostgREST query to a DataFrame; explicit
    ``limit``/``offset`` arguments win over in-query values (the reference
    client appends them to the query string, ``geodb.py:1866-1869``)."""
    schema = {f.name: f.dataType for f in df.schema.fields}
    pq = parse_postgrest_query(query, schema=schema)
    if pq.predicate is not None:
        df = df.filter(pq.predicate)
    # order BEFORE projecting: PostgREST allows ordering by a non-selected
    # column (select=a&order=b.desc); projection after the sort preserves
    # row order and Catalyst prunes the sort column from the scan output
    if pq.order:
        df = df.orderBy(*_order_columns(pq.order))
    if pq.select:
        df = df.select(*[_select_expr(i, schema) for i in pq.select])
    eff_offset = offset if offset is not None else pq.offset
    eff_limit = limit if limit is not None else pq.limit
    if eff_offset:
        df = df.offset(int(eff_offset))
    if eff_limit is not None:
        df = df.limit(int(eff_limit))
    return df
