"""Operator-spelling fuzz harness (r10 verdict order 5 / What's-wrong
#3): every PG operator spelling the dialect shim supports, crossed with
the operand shapes users write, must either

1. translate to SQL that PARSES under Spark's parser (and resolves its
   functions — an unresolved internal marker or half-rewritten operator
   is exactly the ``name ~ RLIKE ...`` class that shipped broken for a
   full round in r9), or
2. refuse loudly with a GeoDBError.

Silent middle ground — emitted text that Spark's parser rejects, or
that contains a leaked ``__geodb``/``__GEODB_`` placeholder — fails
the harness. The spellings share prefixes and characters (``~``, ``~~``,
``~~*``, ``@>``, ``@@``, ``?``, ``?|``, ``&&``, ``<->``, ``#>``,
``->``), so every new rewrite joins this corpus.

Analysis-level TYPE errors are acceptable (loud), parse errors and
unresolved functions are not.
"""

import pytest

from xcube_geodb_spark.errors import GeoDBError
from xcube_geodb_spark.operators.scan import _pg_clause_to_spark


# lhs/rhs shapes: bare column, call, literal, parenthesized — crossed
# per operator family with plausible and adversarial operands
CORPUS = [
    # ::cast family (segment-level, literal, paren, chained)
    "num::int", "num::int8", "num::float4", "'12'::int", "name::text",
    "(num)::int", "abs(num)::bigint", "((num)::int)::text",
    "num::numeric", "j::json", "j::jsonb", "name::varchar",
    # parameterized casts (r11): PG truncation/padding semantics
    "num::numeric(10,2)", "num::decimal(8)", "name::varchar(3)",
    "name::char(5)", "ts::timestamp(6)", "(num + 1)::numeric(10,2)",
    "'12.5'::numeric(6,2)", "num::bit(3)",
    # regex matches — the ~ / ~~ prefix-collision class
    "name ~ 'pat.*'", "name ~* 'pat'", "name !~ 'p'", "name !~* 'p'",
    "upper(name) ~ 'P.*'",
    "name ~~ 'pat%'", "name ~~* 'pat%'", "name !~~ 'p%'",
    "name !~~* 'p%'",
    "name SIMILAR TO 'p%'", "name NOT SIMILAR TO '(a|b)_'",
    # LIKE/ILIKE pass through natively
    "name LIKE 'p%'", "name ILIKE 'P%'",
    # json arrows + chains + paren casts + keyword guards
    "j -> 'a'", "j ->> 'a'", "j -> 'a' ->> 'b'", "j -> 0",
    "j #> '{a,b}'", "j #>> '{a,1}'", "(j ->> 'a')::int",
    "j -> 'a' -> 'b' ->> 'c'", "coalesce(j ->> 'k', 'x')",
    "transform(arr, x -> 'y')", "transform(arr, x -> x ->> 'k')",
    # array containment
    "arr @> array('a')", "arr <@ array('a', 'b')",
    "ARRAY['a'] <@ arr", "arr @> ARRAY['a','b']",
    # jsonb existence
    "j ? 'a'", "j ?| array('a', 'b')", "j ?& array('a')",
    "j ?| ARRAY['a','zz']",
    # PostGIS operators
    "g && h", "g && 'POINT (1 2)'::geometry", "g <-> h", "g <#> h",
    "g <-> st_point(0.5, 0.5)",
    # geography casts routed to geodesic kernels (case-insensitive)
    "st_distance(g::geography, h::geography)",
    "st_distance((g)::GEOGRAPHY, (h)::GEOGRAPHY)",
    "st_dwithin(g::geography, h::geography, 1000)",
    "st_length(g::geography)", "st_area(g::geography)",
    # text search
    "to_tsvector('english', name) @@ plainto_tsquery('english', 'word')",
    # string concat stays native; jsonb concat refuses (GeoDBError ok)
    "name || '-x'", "j::jsonb || j", "j -> 'a' || name",
    # aggregate-internal ORDER BY / FILTER folds
    "array_agg(name ORDER BY name)",
    "array_agg(DISTINCT name ORDER BY name)",
    "json_agg(name ORDER BY name DESC)",
    "jsonb_agg(num)",
    "string_agg(name, ',' ORDER BY name)",
    "array_agg(name ORDER BY num DESC, name ASC)",
    "array_agg(name ORDER BY name) FILTER (WHERE num > 0)",
    # spatial aggregates
    "st_extent(g)", "st_union(g)", "st_collect(g ORDER BY num)",
    "st_makeline(g ORDER BY num)",
    # misc scalar shims
    "to_char(ts, 'YYYY-MM-DD')", "to_char(ts, 'HH24:MI:SS')",
    "to_char(num, 'FM9999.00')", "to_char(num, '9,999,999.99')",
    "to_char(num, 'FM000.00')",
    # r12: zero-padded negatives (sign column is extra, not in the width)
    "to_char(-5, 'FM00')", "to_char(0 - num, '00')",
    "to_char(-5.25, 'FM00.0')",
    "string_to_array(name, '-')", "array_length(arr, 1)",
    "array_cat(arr, arr)", "strpos(name, 'a')",
    "extract(epoch from ts)", "date_part('epoch', ts)",
    # r12: epoch of a timestamp difference (INTERVAL operand) + chains
    # and interval-literal lhs refuse loudly naming the supported shapes
    "extract(epoch from ts - timestamp '2024-01-01 00:00:00')",
    "date_part('epoch', ts - ts)",
    "extract(epoch from ts - ts - ts)",
    "extract(epoch from INTERVAL '1 day' - ts)",
    # r12: PG-template parse direction + the epoch-seconds 1-arg form
    "to_timestamp('1996-03-05', 'YYYY-MM-DD')",
    "to_timestamp(name, 'DD Mon YYYY')",
    "to_date('05 JAN 1996', 'DD MON YYYY')",
    "to_timestamp(num)",
    "to_timestamp('x')",
    "to_timestamp(name, 'YYYY TZ')",
    # r12: provable date - date -> integer days; ::timestamp(p) rounding
    "date '2024-01-10' - date '2024-01-01'",
    "ts::date - date '2024-01-01'",
    "current_date - to_date('2024-01-01', 'YYYY-MM-DD')",
    "ts::timestamp(3)", "ts::timestamp(0)", "ts::timestamp(6)",
    # r12: multi-word PG types + round(provably-double) half-even
    "num::double precision", "name::character varying(3)",
    "ts::timestamp with time zone", "ts::timestamp(3) without time zone",
    "num::bit varying",
    "round(num::float8)", "round(-2.5::float8)", "round(num::float8, 2)",
    "round(num)",
    # r12: everyday-semantics classes (int div, subscripts, concat,
    # string windows)
    "7 / 2", "-7 / 2", "num / 2", "7 / 2.0", "num::int4 / 2",
    "num * 7 / 2", "8 / 3 / 2", "num + 7 / 2",
    "to_number('1,234.5', '9G999D9')", "to_number(name, 'FM999.00')",
    "to_number(name, 'RN')",
    "num BETWEEN SYMMETRIC 5 AND 1",
    "num NOT BETWEEN SYMMETRIC 1 AND (num + 2)",
    "num BETWEEN SYMMETRIC 1 AND num + 2",
    # r12: regexp_replace first-match semantics + backslash literals
    r"regexp_replace(name, '\d', 'x')",
    r"regexp_replace(name, '\d', 'x', 'g')",
    r"regexp_replace(name, '(\w)\d', '\1-', 'gi')",
    r"regexp_replace(name, '(a)', '<\1>')",
    r"regexp_replace(name, name, name)",
    r"regexp_replace(regexp_replace(name, 'a', 'b'), 'c', 'd')",
    r"regexp_replace(name, 'a', 'b', 'q')",
    r"regexp_replace(name, 'a', 'b', name)",
    r"name ~ '\d+'", r"name !~* '^\w{3}$'",
    r"name SIMILAR TO 'a.c%'",
    "log(num)", "log(2, num)", "ltrim(name, 'x')", "rtrim(name, 'x')",
    "ltrim(name)", "to_hex(num)", "to_hex(num, 2)",
    r"regexp_match(name, '(\d+)')", "regexp_match(name, name)",
    r"regexp_match(name, '\w', 'g')",
    "extract(isoyear from d)", "extract(century from d)",
    "extract(decade from d)", "extract(millennium from d)",
    "date_part('millennium', d)",
    "array_to_string(string_to_array(name, '-'), '+')",
    "array_to_string(string_to_array(name, '-'), '+', 'N')",
    "array_to_string(name)",
    "array_position(string_to_array(name, '-'), 'x')",
    "array_prepend('x', string_to_array(name, '-'))",
    "array_replace(string_to_array(name, '-'), 'a', 'b')",
    "array_replace(string_to_array(name, '-'), 'a')",
    "format('%s-%s', name, num)", "format('%2$s%1$s', name, num)",
    "format('%s %d', name, num)", "format(name, num)",
    "format('100%%')", "format('%s')",
    r"substring(name, '\d+')", "substring(name, '2')",
    "extract(milliseconds from d)", "date_part('microseconds', d)",
    "json_typeof(name)", "jsonb_typeof(name)", "json_typeof(name, 2)",
    "initcap(name)", "initcap(name, 2)",
    "to_char(d, 'Day')", "to_char(d, 'FMDay')", "to_char(d, 'Month')",
    "to_char(d, 'FMMonth')", "to_char(d, 'Day, DD Mon')",
    "arr[1]", "arr[0]", "arr[-1]", "arr[num::int4]", "arr[1:2]",
    "ARRAY['x','y'][2]",
    "concat(name, NULL, 'x')", "concat_ws('-', name, name)",
    "left(name, -2)", "right(name, -2)", "left(name, 2)",
    "substring(name, 0, 3)", "substring(name, -2, 5)",
    "substring(name, 2, 3)",
    "substring(name from '[a-z]+')", "substring(name from 2 for 3)",
    "row_number() OVER (ORDER BY num DESC)",
    "sum(num) OVER (ORDER BY num ROWS BETWEEN 1 PRECEDING "
    "AND CURRENT ROW)",
    "rank() OVER (PARTITION BY name ORDER BY num, name DESC)",
    "date_part('year', ts)",
    "ts AT TIME ZONE 'UTC'",
    "ts AT TIME ZONE 'UTC' AT TIME ZONE 'Europe/Berlin'",
    "(ts AT TIME ZONE 'UTC') AT TIME ZONE 'Europe/Berlin'",
    "json_build_object('k', num)", "jsonb_build_object('k', name)",
    "json_array_elements_text(j)",
    "date_bin(INTERVAL '1 hour', ts, TIMESTAMP '2024-01-01 00:00:00')",
    "regexp_replace(name, 'a', 'b', 'gi')",
    "st_relate(g, h, 'T*F**FFF*')", "st_buffer(g, 1.0, 'quad_segs=2')",
    # PG exponentiation ^ (Spark's ^ is XOR — silent garbage) (r11)
    "num ^ 2", "num ^ 2 + num ^ 3", "-num ^ 2", "(num + 1) ^ 2",
    "num ^ -2", "sqrt(num) ^ (num + 1)",
    # numeric trunc + hex encode/decode (r11)
    "trunc(num)", "trunc(num, 2)", "trunc(num, -1)",
    "trunc(ts, 'MM')",
    "encode(CAST(name AS BINARY), 'hex')", "decode(name, 'hex')",
    # SQL-standard OVERLAPS + PG starts_with spelling (r11)
    "(ts, ts) OVERLAPS (ts, ts)",
    "(ts, ts + INTERVAL '1 day') OVERLAPS "
    "(timestamp '2024-01-01 00:00:00', timestamp '2024-02-01 00:00:00')",
    "starts_with(name, 'ab')",
    # quantified comparisons over arrays (r11)
    "name = ANY(arr)", "name <> ALL(arr)",
    "num > ANY(array(1.0, 2.0))", "name = ANY(ARRAY['a','b'])",
    "num >= ALL(arr)",
    "name LIKE ANY(ARRAY['a%', 'b%'])", "name NOT LIKE ALL(arr)",
    "name ILIKE ANY(array('A%'))",
    # jsonb mutation surface (r11): registered jsonb_set + the - / #-
    # operator rewrites; ambiguous string subtraction refuses
    "jsonb_set(j, '{k}', '9')",
    "jsonb_set(j, '{a,b}', '\"x\"', false)",
    "jsonb_merge(j, j)",
    "j #- '{a,b}'",
    "j::jsonb - 'k'",
    "json_build_object('a', 1) - 'a'",
    "name - 'abc'",
    "num - 5", "num - '3'", "ts - INTERVAL '1 day'",
    # keyword-operand guards (refusals are the CORRECT outcome)
    "CASE WHEN num > 0 THEN j ELSE j END ->> 'k'",
    "(CASE WHEN num > 0 THEN j ELSE j END) ->> 'k'",
    # literal contents must never confuse the scanners
    "name = 'x ~~ y && z ->> w'",
    "j ->> 'key with '' quote'",
    # comments between tokens (quotes inside them pair with nothing)
    "num -- it's a trailing comment",
    "num /* it's */ ^ 2", "num ^ /* ok' */ 2",
    "name /* it's */ ~ 'p' /* ok' */",
    "num /* it's */ ::int", "j /* ' */ ->> 'a'",
    "num + /* outer /* nested it's */ still */ 1",
    "name ~~ -- line one\n'p%'",
    "(num /* don't */ + 1)::numeric(10,2)",
    # PG double-quoted identifiers (Spark backtick identifiers)
    '"num"', '"num"::int', '"name" ~ \'p\'', '"name" ~~ \'p%\'',
    '"num" ^ 2', '"j" ->> \'a\'', '"arr" @> array(\'a\')',
    '"g" && "h"', 'st_distance("g"::geography, "h"::geography)',
    '"na""me"', '"select"', 'upper("name") || \'-\'',
    # E'..' and dollar-quoted literals become standard literals
    "E'a\\tb' || name", "name ~ E'\\\\d+'", "E'it\\'s' = name",
    "$$it's$$ || name", "$tag$a$$b$tag$ || name", "name ~ $$^a.*$$",
]


@pytest.fixture(scope="module")
def fuzz_view(spark):
    from xcube_geodb_spark.functions.jsonsql import register_json_sql_functions
    from xcube_geodb_spark.functions.textsql import register_text_sql_functions
    from xcube_geodb_spark.geometry.sqlfuncs import (
        register_spatial_sql_functions,
    )

    register_spatial_sql_functions(spark)
    register_text_sql_functions(spark)
    register_json_sql_functions(spark)
    spark.sql(
        "SELECT 'ab-cd' AS name, '{\"a\": {\"b\": 1}, \"k\": 2}' AS j, "
        "array('a', 'b') AS arr, CAST(1.5 AS DOUBLE) AS num, "
        "timestamp'2024-01-01 10:30:00' AS ts, "
        "st_point(1.0, 2.0) AS g, st_point(3.0, 4.0) AS h"
    ).createOrReplaceTempView("fuzz_t")
    return "fuzz_t"


class TestOperatorSpellingFuzz:
    def test_every_spelling_parses_or_refuses(self, spark, fuzz_view):
        from pyspark.errors import AnalysisException, ParseException

        problems = []
        for clause in CORPUS:
            try:
                out = _pg_clause_to_spark(clause)
            except GeoDBError:
                continue  # loud refusal is a valid outcome
            # the leak classes: unconsumed geography markers and
            # literal placeholders (emitted lambda variables like
            # __geodb_e are intentional, parse, and shadow nothing)
            if "__geodb_geography__" in out or "__GEODB_" in out:
                problems.append((clause, out, "marker/placeholder leak"))
                continue
            try:
                spark.sql(f"SELECT {out} FROM {fuzz_view}").schema
            except ParseException as e:
                problems.append((clause, out, f"parse error: {e}"))
            except AnalysisException as e:
                # type errors are loud and acceptable; an unresolved
                # function means the rewrite emitted a name that does
                # not exist — the broken-emission class
                if "UNRESOLVED_ROUTINE" in str(e):
                    problems.append((clause, out, f"unresolved: {e}"))
        assert not problems, "\n".join(
            f"{c!r}\n  -> {o!r}\n  {p}" for c, o, p in problems
        )

    def test_spellings_translate_to_distinct_operators(self):
        """The prefix-collision pin: ~~ is LIKE (never a half-matched ~
        RLIKE), ~~* is ILIKE, <-> is distance (never two casts), etc."""
        f = _pg_clause_to_spark
        assert f("name ~~ 'p%'") == "name LIKE 'p%'"
        assert f("name ~~* 'p%'") == "name ILIKE 'p%'"
        assert f("name !~~ 'p%'") == "name NOT LIKE 'p%'"
        assert f("name !~~* 'p%'") == "name NOT ILIKE 'p%'"
        assert f("name ~ 'p'") == "name RLIKE 'p'"
        assert "st_distance" in f("g <-> h")
        assert "st_envelope" in f("g <#> h")
        assert "st_intersects" in f("g && h")
        assert "ts_match_all" in f("a @@ b")
        assert "array_contains" in f("j ? 'k'")
        assert "arrays_overlap" in f("j ?| array('a')")
        assert "array_except" in f("j ?& array('a')")


FROM_CORPUS = [
    "fuzz_t, unnest(arr) u(x)",
    "fuzz_t, unnest(arr) u",
    "fuzz_t, unnest(arr)",
    "fuzz_t, unnest(arr) WITH ORDINALITY AS u(x, i)",
    "fuzz_t, unnest(arr, arr) AS u(x, y)",
    "fuzz_t, json_each_text(j) AS e(k, v)",
    "fuzz_t, json_each(j) e",
    "fuzz_t, jsonb_each_text(j)",
    "fuzz_t, json_array_elements_text(j) AS el(v)",
    "fuzz_t, json_array_elements(j) AS el(v)",
    "fuzz_t, json_object_keys(j) AS ko(k)",
    "fuzz_t, regexp_split_to_table(name, '[-_]') AS rs(tok)",
    "fuzz_t, string_to_table(name, '-') AS st2(p)",
    "fuzz_t CROSS JOIN unnest(arr) u(x)",
    "fuzz_t CROSS JOIN LATERAL unnest(arr) u(x)",
    "fuzz_t, LATERAL json_each_text(j) AS e(k, v)",
    "unnest(array(1, 2, 3)) t0(x)",
    "json_each_text('{\"a\": 1}') e(k, v)",
    "generate_series(1, 5) g(i)",
    "fuzz_t, generate_series(1, 3) g(i), unnest(arr) u(x)",
    # refusal shapes (GeoDBError is the correct outcome)
    "fuzz_t, unnest(arr, arr)",
    "fuzz_t, json_each_text(j) AS e(k)",
    "fuzz_t, string_to_table(name, name) p",
    # comments and quoted identifiers in the FROM clause
    "fuzz_t /* it's */, unnest(arr) u(x) -- don't",
    '"fuzz_t", unnest("arr") AS "u"("x")',
    "fuzz_t, string_to_table(name, $$-$$) AS st3(p)",
]


class TestFromClauseFuzz:
    def test_every_from_srf_form_parses_or_refuses(self, spark, fuzz_view):
        from pyspark.errors import AnalysisException, ParseException

        from xcube_geodb_spark.operators.scan import build_pg_sql

        problems = []
        for table in FROM_CORPUS:
            try:
                sql = build_pg_sql(table, select="*")
            except GeoDBError:
                continue  # loud refusal is a valid outcome
            if "__geodb_geography__" in sql or "__GEODB_" in sql:
                problems.append((table, sql, "marker/placeholder leak"))
                continue
            try:
                spark.sql(sql).schema
            except ParseException as e:
                problems.append((table, sql, f"parse error: {e}"))
            except AnalysisException as e:
                if "UNRESOLVED_ROUTINE" in str(e):
                    problems.append((table, sql, f"unresolved: {e}"))
        assert not problems, "\n".join(
            f"{t!r}\n  -> {s!r}\n  {p}" for t, s, p in problems
        )
