"""Value-level differential fuzz: the r12 probe technique as a harness.

The operator-spelling fuzz asserts parse-or-refuse; every silent
wrong-answer class this project has shipped (dow numbering, ``^`` as
XOR, varchar(n) non-truncation, global regexp_replace, backslash-eaten
literals, base-e ``log``, reversed 2-arg trims...) PARSED fine and
returned the wrong VALUE. This harness closes that gap: a deterministic
grid of template x literal-operand expressions is evaluated through the
dialect shim on Spark AND natively on DuckDB (whose scalar semantics
follow PG), and the VALUES are compared.

Expressions where DuckDB itself deviates from PG (to_hex case,
interval division, extract(second) truncation, list_position 0,
Python-style format...) are excluded here and pinned with literal
expecteds in test_client_e2e instead.

Refusals (GeoDBError) are fine — the spelling fuzz owns that contract;
this harness only compares the expressions BOTH engines can run.
"""

import math
import re

import duckdb

from xcube_geodb_spark.errors import GeoDBError
from xcube_geodb_spark.operators.scan import _pg_clause_to_spark

# template grids: {} slots are filled with every operand in the row's
# pool. All operands are literals so both engines see identical inputs.
STR_OPS = ["'abc-DEF gh'", "'x_1.y'", "''", "'  pad  '", "NULL"]
NUM_OPS = ["0", "7", "-7", "2.5", "-2.5", "1234.5678", "NULL"]
INT_OPS = ["0", "1", "2", "7", "-3", "NULL"]
DATE_OPS = ["date '2024-03-04'", "date '1996-12-31'", "date '2000-02-29'"]
TS_OPS = [
    "timestamp '2024-03-04 10:30:02.25'",
    "timestamp '1996-12-31 23:59:59'",
]
PAT_OPS = [r"'\d+'", "'[a-z]+'", "'(a)(b)?'", "'-'", "'.'"]

GRID = [
    # (template, operand pools)
    ("lower({})", [STR_OPS]),
    ("upper({})", [STR_OPS]),
    ("initcap({})", [STR_OPS]),
    ("length({})", [STR_OPS]),
    ("reverse({})", [STR_OPS]),
    ("ltrim({}, 'x ')", [STR_OPS]),
    ("rtrim({}, 'y ')", [STR_OPS]),
    ("btrim({}, ' ')", [STR_OPS]),
    ("left({}, 3)", [STR_OPS]),
    ("right({}, 3)", [STR_OPS]),
    ("left({}, -2)", [STR_OPS]),
    ("right({}, -2)", [STR_OPS]),
    ("substring({}, 2, 3)", [STR_OPS]),
    ("substring({}, 0, 3)", [STR_OPS]),
    ("strpos({}, 'c')", [STR_OPS]),
    ("replace({}, '-', '+')", [STR_OPS]),
    ("translate({}, 'abc', 'xy')", [STR_OPS]),
    ("repeat({}, 2)", [STR_OPS]),
    ("lpad({}, 6, '*')", [STR_OPS]),
    ("rpad({}, 6, '*')", [STR_OPS]),
    ("concat({}, 'Z', {})", [STR_OPS, STR_OPS[:3]]),
    ("{} || 'Z'", [STR_OPS]),
    # NULL excluded: DuckDB split_part(NULL,..) is '' where PG is NULL
    ("split_part({}, '-', 1)", [STR_OPS[:4]]),
    ("string_to_array({}, '-')[1]", [STR_OPS]),
    ("regexp_replace({}, {}, 'X')", [STR_OPS, PAT_OPS]),
    ("regexp_replace({}, {}, 'X', 'g')", [STR_OPS, PAT_OPS]),
    ("substring({} from {})", [STR_OPS[:4], PAT_OPS]),
    ("md5({})", [STR_OPS]),
    ("ascii({})", [STR_OPS]),
    ("abs({})", [NUM_OPS]),
    ("sign({})", [NUM_OPS]),
    ("floor({})", [NUM_OPS]),
    ("ceil({})", [NUM_OPS]),
    ("round({}, 1)", [NUM_OPS]),
    ("round({}, -2)", [NUM_OPS]),
    ("trunc({}, 1)", [NUM_OPS]),
    ("mod(CAST({} AS INT), 4)", [INT_OPS]),
    ("{} + 3", [NUM_OPS]),
    ("{} * -2", [NUM_OPS]),
    ("CAST({} / 2 AS DOUBLE)", [NUM_OPS]),
    ("{}::int8 / 2", [INT_OPS]),
    ("power({}, 2)", [NUM_OPS[:6]]),
    ("{} ^ 2", [INT_OPS]),
    ("sqrt(abs({}))", [NUM_OPS]),
    ("log(abs({}) + 1.5)", [NUM_OPS]),
    ("log(2, abs({}) + 1.5)", [NUM_OPS]),
    ("ln(abs({}) + 1.5)", [NUM_OPS]),
    ("exp(least({}, 2))", [INT_OPS]),
    ("greatest({}, 1, {})", [NUM_OPS, NUM_OPS[:3]]),
    ("least({}, 1, {})", [NUM_OPS, NUM_OPS[:3]]),
    ("coalesce({}, -1)", [NUM_OPS]),
    ("nullif({}, 7)", [NUM_OPS]),
    ("width_bucket({}, 0, 10, 5)", [NUM_OPS]),
    ("{} BETWEEN 0 AND 7", [NUM_OPS]),
    ("{} BETWEEN SYMMETRIC 7 AND 0", [NUM_OPS]),
    ("{} IS DISTINCT FROM 7", [NUM_OPS]),
    ("extract(year from {})", [DATE_OPS]),
    ("extract(month from {})", [DATE_OPS]),
    ("extract(day from {})", [DATE_OPS]),
    ("extract(quarter from {})", [DATE_OPS]),
    ("extract(week from {})", [DATE_OPS]),
    ("extract(doy from {})", [DATE_OPS]),
    ("extract(dow from {})", [DATE_OPS]),
    ("extract(isodow from {})", [DATE_OPS]),
    ("extract(isoyear from {})", [DATE_OPS]),
    ("extract(century from {})", [DATE_OPS]),
    ("extract(decade from {})", [DATE_OPS]),
    ("extract(millennium from {})", [DATE_OPS]),
    ("extract(epoch from {})", [TS_OPS]),
    ("extract(hour from {})", [TS_OPS]),
    ("extract(minute from {})", [TS_OPS]),
    ("extract(milliseconds from {})", [TS_OPS]),
    ("extract(microseconds from {})", [TS_OPS]),
    ("CAST(date_trunc('month', {}) AS DATE)", [DATE_OPS]),
    ("CAST(date_trunc('week', {}) AS DATE)", [DATE_OPS]),
    ("CAST(date_trunc('hour', {}) AS STRING)", [TS_OPS]),
    ("{} - date '2024-01-01'", [DATE_OPS]),
    ("CAST({} + 5 AS STRING)", [DATE_OPS]),
    ("CAST({} + interval '36 hours' AS STRING)", [TS_OPS]),
    ("to_char({}, 'YYYY-MM-DD')", [DATE_OPS]),
    ("to_char({}, 'DY')", [DATE_OPS]),
    ("day({})", [DATE_OPS]),
    ("last_day({})", [DATE_OPS]),
    ("datediff(date '2024-03-01', {})", [DATE_OPS]),
    ("array_position(array[10, 20, 30], CAST({} AS INT))", [INT_OPS]),
    ("array_to_string(array_prepend('s', array['a','b']), {})",
     [["'-'", "'+'"]]),
    ("array_to_string(array_replace(array['a','b','a'], 'a', {}), ',')",
     [["'z'", "'b'"]]),
    ("size(string_to_array({}, '-'))", [STR_OPS[:4]]),
    ("array_length(string_to_array({}, '-'), 1)", [STR_OPS[:4]]),
    # json arrows / typeof / build
    ("{} ->> 'a'", [["'{\"a\": 1}'", "'{\"b\": 2}'", "'{\"a\": null}'"]]),
    ("{} -> 'a' ->> 'b'", [["'{\"a\": {\"b\": 3}}'", "'{\"a\": 1}'"]]),
    ("{} ->> 0", [["'[5, 6]'", "'[]'"]]),
    ("{} #>> '{{a,0}}'", [["'{\"a\": [7, 8]}'", "'{\"a\": 1}'"]]),
    ("json_typeof({}::json)",
     [["'{\"a\": 1}'", "'[1]'", "'\"s\"'", "'true'", "'null'", "'4.5'"]]),
    ("json_array_length({}::json)", [["'[1, 2, 3]'", "'[]'"]]),
    # quantified comparisons + OVERLAPS + CASE
    ("{} = ANY(array[1, 2, 7])", [INT_OPS]),
    ("{} > ALL(array[1, 2])", [INT_OPS]),
    ("CASE WHEN {} > 1 THEN 'big' WHEN {} IS NULL THEN 'n' ELSE 'small' END",
     [INT_OPS, ["0"]]),
    ("(date '2024-01-01', date '2024-02-01') OVERLAPS "
     "({}, date '2024-03-01')", [DATE_OPS]),
    # numeric to_char (the formula-replay classes)
    ("to_char({}, '9999.99')", [NUM_OPS]),
    ("to_char({}, 'FM9999.99')", [NUM_OPS]),
    ("to_char({}, 'FM00.0')", [NUM_OPS[:6]]),
    ("to_number('1,234.56', '9G999D99') + {}", [INT_OPS[:3]]),
    # boolean regex / LIKE operators in value position
    ("{} ~ '[0-9]'", [STR_OPS[:4]]),
    ("{} ~* 'DEF'", [STR_OPS[:4]]),
    ("{} !~ 'x'", [STR_OPS[:4]]),
    ("{} LIKE '%-%'", [STR_OPS[:4]]),
    ("{} ILIKE '%def%'", [STR_OPS[:4]]),
    ("{} SIMILAR TO '%[0-9]%'", [STR_OPS[:4]]),
    ("{} BETWEEN SYMMETRIC 'b' AND 'a'", [STR_OPS[:4]]),
    # casts with PG truncation semantics
    ("{}::varchar(3)", [STR_OPS]),
    ("'12.567'::numeric(6, 2) + {}", [INT_OPS[:3]]),
    ("{}::int8::text", [INT_OPS]),
    ("format('%s<%s>', {}, {})", [STR_OPS[:3], INT_OPS[:3]]),
    ("regexp_match({}, '([a-z]+)')[1]", [STR_OPS[:4]]),
    # template parse directions + PG 14 date_bin
    ("CAST(to_timestamp('2024-03-05 10:30', 'YYYY-MM-DD HH24:MI') "
     "AS STRING)", [[""]]),
    ("CAST(to_date('05 Mar 1996', 'DD Mon YYYY') AS STRING)", [[""]]),
    ("CAST(date_bin('15 minutes', {}, timestamp '2000-01-01') "
     "AS STRING)", [TS_OPS]),
    ("encode({}::bytea, 'hex')", [["'ab'", "'-'"]]),
]

def _duck_sql(expr: str) -> str:
    """PG expression -> DuckDB spelling where DuckDB's own surface
    lacks the function or deviates from PG (the ORACLE stays
    PG-faithful through these replays). Everything else runs verbatim —
    DuckDB follows PG for this grid."""
    if expr.startswith("CAST(to_timestamp('2024-03-05 10:30'"):
        return ("CAST(strptime('2024-03-05 10:30', '%Y-%m-%d %H:%M') "
                "AS VARCHAR)")
    if expr.startswith("CAST(to_date('05 Mar 1996'"):
        return ("CAST(CAST(strptime('05 Mar 1996', '%d %b %Y') AS DATE) "
                "AS VARCHAR)")
    if expr.startswith("CAST(date_bin("):
        inner = expr[len("CAST(date_bin('15 minutes', "):]
        ts = inner.split(", timestamp '2000-01-01'")[0]
        return (f"CAST(time_bucket(INTERVAL '15 minutes', {ts}, "
                "timestamp '2000-01-01') AS VARCHAR)")
    if expr.startswith("initcap("):
        # DuckDB has no initcap: per-separator nested split replay of
        # PG's any-non-alnum word boundary (the grid's operands only
        # contain the separators ' ', '-', '_', '.')
        inner = expr[len("initcap("):-1]
        word = "concat(upper(w[1]), lower(w[2:]))"
        lvl = f"array_to_string(list_transform(string_split(s3, '.'), w -> {word}), '.')"
        lvl = f"array_to_string(list_transform(string_split(s2, '_'), s3 -> {lvl}), '_')"
        lvl = f"array_to_string(list_transform(string_split(seg, '-'), s2 -> {lvl}), '-')"
        return (
            f"array_to_string(list_transform(string_split({inner}, ' '), "
            f"seg -> {lvl}), ' ')"
        )
    if expr.startswith("array_position("):
        # DuckDB list_position returns 0 where PG returns NULL
        return "nullif(list_position(" + expr[len("array_position("):-1] + "), 0)"
    if expr.startswith("size("):
        return "len(" + expr[len("size("):]
    if expr.startswith("day("):
        return "extract(day from " + expr[len("day("):-1] + ")"
    m = re.fullmatch(r"(.+?) (!~\*|!~|~\*|~) '(.*)'", expr)
    if m:
        # DuckDB's ~ / SIMILAR TO are FULL-match regex; PG's ~ is a
        # partial match -> regexp_matches replay
        lhs, op, pat = m.groups()
        if "*" in op:
            pat = "(?i)" + pat
        neg = "NOT " if op.startswith("!") else ""
        return f"{neg}regexp_matches({lhs}, '{pat}')"
    if expr.endswith("SIMILAR TO '%[0-9]%'"):
        lhs = expr[: -len(" SIMILAR TO '%[0-9]%'")]
        return f"regexp_matches({lhs}, '[0-9]')"
    if expr.endswith("::varchar(3)"):
        # DuckDB's VARCHAR(n) cast does not truncate; PG's does
        return "left(" + expr[: -len("::varchar(3)")] + ", 3)"
    if "ORDER BY v DESC, k" in expr:
        # engine inserts PG's default NULL placement (DESC -> NULLS
        # FIRST); DuckDB defaults to NULLS LAST on BOTH directions
        return expr.replace(
            "ORDER BY v DESC, k", "ORDER BY v DESC NULLS FIRST, k"
        )
    if expr.startswith("format('%s<%s>', "):
        a, b = expr[len("format('%s<%s>', "):-1].split(", ")
        return (
            f"concat(coalesce(CAST({a} AS VARCHAR), ''), '<', "
            f"coalesce(CAST({b} AS VARCHAR), ''), '>')"
        )
    if " / 2" in expr and "DOUBLE" in expr or "::int8 / 2" in expr:
        # DuckDB's / always float-divides; PG integer-divides int/int
        return expr.replace(" / 2", " // 2").replace("::int8", "::BIGINT")
    return expr


def _duck(con, expr: str):
    return con.execute(f"SELECT {_duck_sql(expr)} AS v").fetchone()[0]


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(b, bool):
        # engine values arrive CAST AS STRING ('true'/'false')
        return str(a).lower() == str(b).lower()
    try:
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-9)
    except (TypeError, ValueError):
        return str(a) == str(b)


# aggregate / window templates evaluated over a fixed inline relation —
# exercises the aggregate-internal ORDER BY / FILTER / WITHIN GROUP
# rewrite machinery at the VALUE level. {} slots take column names.
AGG_TABLE = (
    "(VALUES (1, 10.0, 'a'), (2, 20.0, 'b'), (3, 20.0, 'a'), "
    "(4, NULL, 'c'), (5, 5.5, NULL)) t(k, v, s)"
)
AGG_COLS = ["k", "v"]
AGG_GRID = [
    "sum({})", "avg({})", "min({})", "max({})", "count({})",
    "count(*) + min({})", "sum({}) FILTER (WHERE k > 2)",
    "count(DISTINCT {})",
    "string_agg(s, '-' ORDER BY k)",
    "string_agg(DISTINCT s, '|' ORDER BY s)",
    "array_to_string(array_agg(s ORDER BY k), ',')",
    "array_to_string(array_agg(DISTINCT s ORDER BY s), ',')",
    "array_to_string(array_agg(k ORDER BY v DESC, k), ',')",
    "percentile_cont(0.5) WITHIN GROUP (ORDER BY {})",
    "percentile_disc(0.25) WITHIN GROUP (ORDER BY {})",
    "mode() WITHIN GROUP (ORDER BY s)",
    "bool_and(k > 0)", "bool_or(v > 15)",
    "corr(k, {})", "covar_samp(k, {})", "covar_pop(k, {})",
    "regr_slope({}, k)", "regr_intercept({}, k)", "regr_count({}, k)",
    "stddev_samp({})", "var_pop({})",
    "bit_and(k)", "bit_or(k)", "bit_xor(k)",
    "CAST(sum({}) FILTER (WHERE s IS NOT NULL) AS DOUBLE)",
]
WIN_GRID = [
    "row_number() OVER (ORDER BY {})",
    "rank() OVER (ORDER BY v)",
    "dense_rank() OVER (ORDER BY v)",
    "lag({}) OVER (ORDER BY k)",
    "lag({}, 2, -1) OVER (ORDER BY k)",
    "lead({}) OVER (ORDER BY k)",
    "first_value({}) OVER (ORDER BY k)",
    "last_value({}) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING "
    "AND UNBOUNDED FOLLOWING)",
    "nth_value({}, 2) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED "
    "PRECEDING AND CURRENT ROW)",
    "sum({}) OVER (ORDER BY k ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)",
    "sum({}) OVER (PARTITION BY s ORDER BY k)",
    # DOUBLE cast: Spark's decimal avg fixes scale at input+4 where PG
    # numeric avg keeps ~16 digits (documented type-level deviation)
    "avg(CAST({} AS DOUBLE)) OVER (ORDER BY k RANGE BETWEEN 1 "
    "PRECEDING AND 1 FOLLOWING)",
    "ntile(2) OVER (ORDER BY k)",
    "percent_rank() OVER (ORDER BY {})",
    "cume_dist() OVER (ORDER BY {})",
    "count(*) OVER ()",
]


def test_agg_window_differential(spark):
    con = duckdb.connect()
    exprs = []
    for t in AGG_GRID:
        exprs += [t.format(*([c] * t.count("{}"))) for c in AGG_COLS]             if "{}" in t else [t]
    win = []
    for t in WIN_GRID:
        win += [t.format(*([c] * t.count("{}"))) for c in AGG_COLS]             if "{}" in t else [t]

    mismatches = []
    # aggregates: one row per engine per batch
    kept, translated = [], []
    for e in exprs:
        try:
            translated.append(_pg_clause_to_spark(e))
            kept.append(e)
        except GeoDBError:
            continue
    sel = ", ".join(
        f"CAST(({t}) AS STRING) AS c{i}" for i, t in enumerate(translated)
    )
    row = spark.sql(f"SELECT {sel} FROM {AGG_TABLE}").collect()[0]
    for i, e in enumerate(kept):
        try:
            dv = con.execute(
                f"SELECT {_duck_sql(e)} AS v FROM {AGG_TABLE}"
            ).fetchone()[0]
        except duckdb.Error:
            continue
        if dv is not None and not isinstance(dv, (int, float, bool)):
            dv = str(dv)
        if not _close(row[f"c{i}"], dv):
            mismatches.append((e, row[f"c{i}"], dv))

    # window functions: per-row frames — compare the whole ordered column
    kept, translated = [], []
    for e in win:
        try:
            translated.append(_pg_clause_to_spark(e))
            kept.append(e)
        except GeoDBError:
            continue
    sel = ", ".join(
        f"CAST(({t}) AS STRING) AS c{i}" for i, t in enumerate(translated)
    )
    rows = spark.sql(
        f"SELECT k, {sel} FROM {AGG_TABLE} ORDER BY k"
    ).collect()
    for i, e in enumerate(kept):
        sv = [r[f"c{i}"] for r in rows]
        try:
            dv = [
                r[0] for r in con.execute(
                    f"SELECT {_duck_sql(e)} AS v FROM {AGG_TABLE} "
                    "ORDER BY k"
                ).fetchall()
            ]
        except duckdb.Error:
            continue
        for a, b in zip(sv, dv):
            if b is not None and not isinstance(b, (int, float, bool)):
                b = str(b)
            if not _close(a, b):
                mismatches.append((e, sv, dv))
                break
    assert not mismatches, "\n".join(
        f"{e!r}: engine={sv!r} duckdb={dv!r}" for e, sv, dv in mismatches[:20]
    )


def test_value_differential(spark):
    con = duckdb.connect()
    exprs = []
    for template, pools in GRID:
        combos = [[]]
        for pool in pools:
            combos = [c + [op] for c in combos for op in pool]
        for ops in combos:
            exprs.append(template.format(*ops))

    translated, kept = [], []
    for e in exprs:
        try:
            translated.append(_pg_clause_to_spark(e))
            kept.append(e)
        except GeoDBError:
            continue  # loud refusal: the spelling fuzz owns this

    # one batched SELECT per engine chunk keeps this test fast
    mismatches = []
    chunk = 80
    for lo in range(0, len(kept), chunk):
        batch = kept[lo: lo + chunk]
        tbatch = translated[lo: lo + chunk]
        sel = ", ".join(
            f"CAST(({t}) AS STRING) AS c{i}" for i, t in enumerate(tbatch)
        )
        row = spark.sql(f"SELECT {sel}").collect()[0]
        for i, e in enumerate(batch):
            sv = row[f"c{i}"]
            try:
                dv = _duck(con, e)
            except duckdb.Error:
                continue  # DuckDB can't run it: no oracle, skip
            if dv is not None and not isinstance(dv, (int, float, bool)):
                dv = str(dv)
            if not _close(sv, dv):
                mismatches.append((e, sv, dv))
    assert not mismatches, "\n".join(
        f"{e!r}: engine={sv!r} duckdb={dv!r}" for e, sv, dv in mismatches[:25]
    )
    assert len(kept) > 400  # the grid stays meaningfully sized



def _grid_exprs() -> list[str]:
    exprs = []
    for template, pools in GRID:
        combos = [[]]
        for pool in pools:
            combos = [c + [op] for c in combos for op in pool]
        exprs += [template.format(*ops) for ops in combos]
    return exprs


# comments holding an unpaired quote: a quote-splitting shim reads the
# text between two of them as a literal
COMMENTS = [" /* it's */ ", " -- it's\n", " /* a /* nested ' */ b */ "]


def _commented(expr: str, i: int) -> str | None:
    """``expr`` with a comment in place of one of its blanks outside
    string literals (the ``i``-th, cyclically); None without a blank."""
    spaces, quotes = [], 0
    for at, ch in enumerate(expr):
        quotes += ch == "'"
        if ch == " " and quotes % 2 == 0:
            spaces.append(at)
    if not spaces:
        return None
    at = spaces[i % len(spaces)]
    return expr[:at] + COMMENTS[i % len(COMMENTS)] + expr[at + 1:]


def _quoted_columns(expr: str) -> str:
    """Double-quote every column name of an AGG/WIN grid expression."""
    return re.sub(r"(?<!')\b([kvs])\b(?!')", r'"\1"', expr)


def _engine_values(spark, exprs: list[str], source: str = "") -> list[list]:
    """The shim's translations of ``exprs``, run in one SELECT over
    ``source``: each expression's values as strings, row by row."""
    sel = ", ".join(
        f"CAST(({_pg_clause_to_spark(e)}) AS STRING) AS c{i}"
        for i, e in enumerate(exprs)
    )
    rows = spark.sql(f"SELECT {sel} {source}").collect()
    return [[r[i] for r in rows] for i in range(len(exprs))]


def _translates(expr: str) -> bool:
    try:
        _pg_clause_to_spark(expr)
    except GeoDBError:
        return False  # refused: the spelling fuzz owns this
    return True


def test_comment_and_quoted_identifier_spellings_keep_values(spark):
    """Metamorphic: a comment holding a ' between two tokens, or a
    double-quoted column name, must not change the engine's value.
    DuckDB reads both spellings natively, so where the expression needs
    no oracle replay (_duck_sql) DuckDB must agree with them too."""
    aggs, wins = f"FROM {AGG_TABLE}", f"FROM {AGG_TABLE} ORDER BY k"
    cases = {"": [], aggs: [], wins: []}
    for i, e in enumerate(_grid_exprs()):
        cases[""].append((e, _commented(e, i)))
    for i, t in enumerate(AGG_GRID + WIN_GRID):
        for e in ([t.format(*([c] * t.count("{}"))) for c in AGG_COLS]
                  if "{}" in t else [t]):
            q = _quoted_columns(e)
            cases[wins if "OVER" in t else aggs] += [(e, q), (e, _commented(q, i))]
    con = duckdb.connect()
    mismatches, n = [], 0
    for source, pairs in cases.items():
        pairs = [(p, q) for p, q in pairs if q is not None and _translates(p)]
        n += len(pairs)
        for lo in range(0, len(pairs), 80):
            batch = pairs[lo: lo + 80]
            plain = _engine_values(spark, [p for p, _ in batch], source)
            spelled = _engine_values(spark, [q for _, q in batch], source)
            for (p, q), vp, vq in zip(batch, plain, spelled):
                if vq != vp:
                    mismatches.append((q, vq, vp))
                    continue
                if _duck_sql(p) != p:
                    continue  # DuckDB deviates from PG here: no oracle
                try:
                    dv = con.execute(f"SELECT {q} AS v {source}").fetchall()
                except duckdb.Error:
                    continue
                dv = [
                    d if d is None or isinstance(d, (int, float, bool))
                    else str(d) for (d,) in dv
                ]
                if not all(_close(a, b) for a, b in zip(vq, dv)):
                    mismatches.append((q, vq, dv))
    assert n > 500
    assert not mismatches, "\n".join(
        f"{e!r}: engine={v!r} expected={w!r}" for e, v, w in mismatches[:25]
    )


# E'..' escapes and dollar quoting, with the values PG gives
ESCAPED_LITERALS = [
    (r"E'a\tb'", "a\tb"),
    (r"E'it\'s'", "it's"),
    (r"E'it''s'", "it's"),
    (r"E'\x41\101B'", "AAB"),
    (r"E'a\\b'", "a\\b"),
    (r"e'\n'", "\n"),
    ("$$it's$$", "it's"),
    ("$$a\\b$$", "a\\b"),
    ("$tag$a$$b$tag$", "a$$b"),
    ("$q$ -- not a comment $q$", " -- not a comment "),
    ("'/* not a comment */'", "/* not a comment */"),
]


def test_escape_and_dollar_literals(spark):
    """E'..' and $tag$..$tag$ literals keep PG's value through the shim,
    checked against hand-written values and against DuckDB."""
    con = duckdb.connect()
    got = _engine_values(spark, [lit for lit, _ in ESCAPED_LITERALS])
    for (lit, want), v in zip(ESCAPED_LITERALS, got):
        assert v == [want], lit
        assert con.execute(f"SELECT {lit}").fetchone()[0] == want, lit
    # the literal's value feeds the rewrites: a regex from E'..'
    assert _engine_values(
        spark, [r"'a12' ~ E'\\d+'", "'x' || $$'$$ || 'y'"]
    ) == [["true"], ["x'y"]]
