"""Judge-probe cross-engine gate (round 7).

The r6 verdict ran ~150 adversarial verbatim-DuckDB probes against the
dialect path and found six SILENT divergences plus a batch of loud
gaps — exactly the wrong-answer class SURVEY §2.4 exists to kill. This
file commits those probes (and the fixes' edge cases) as a permanent
gate: every case is identical text executed in both engines.

Fixed here (dialect.py r7):
  1. 3-arg regexp_replace = FIRST match only (+ 'i'/'s'/'gi' options)
  2. array_agg keeps NULL elements, NULLS LAST under ORDER BY
  3. array_distinct/list_distinct DROP NULL elements
  4. strftime '%-d' no-pad specifiers
  5. chr(n) beyond latin-1 (full Unicode codepoint, UTF-8 built JVM-side)
  6. element_at(map, k) is a map_extract alias (one-element LIST)
  7. IGNORE NULLS inside the call parens (DuckDB spelling)
  8. week()/EXTRACT(microseconds|milliseconds|seconds)/timezone() forms

Documented divergences are pinned at the bottom so a behavior change in
either engine shows up as a test failure, not a silent drift.
"""

from __future__ import annotations

import pytest

from duckdb_read_spark.oracle import diff_summary, duckdb_rows, spark_rows


def _check(engine, duck, q):
    got = spark_rows(engine.sql(q, dialect="duckdb"))
    want = duckdb_rows(duck, q)
    assert got == want, q + "\n" + diff_summary(got, want)


def test_regexp_replace_first_match(engine, duck):
    """DuckDB regexp_replace WITHOUT 'g' replaces only the FIRST match
    (judge probe: 'aaa','a','b' → 'baa'; the engine said 'bbb')."""
    _check(engine, duck, (
        "SELECT regexp_replace('aaa', 'a', 'b') AS a, "
        "regexp_replace('xaxbxc', 'x(.)', '<\\1>') AS b, "
        "regexp_replace('abc', 'q', 'Z') AS c, "
        "regexp_replace('abc', 'x*', 'Y') AS d, "
        "regexp_replace('abc', '$', 'END') AS e2, "
        "regexp_replace('john smith', '(\\w+) (\\w+)', '\\2 \\1') AS f, "
        "regexp_replace('a$b', '\\$', 'USD') AS g, "
        "regexp_replace(NULL, 'a', 'b') AS h, "
        "regexp_replace('mississippi', 'ss', 'SS') AS i2"))


def test_regexp_replace_option_letters(engine, duck):
    """'i' stays first-only, 'gi' is global case-insensitive, 's' is
    dotall [measured]."""
    _check(engine, duck, (
        "SELECT regexp_replace('HeLLo', 'l+', 'L', 'i') AS a, "
        "regexp_replace('HeLLo', 'l+', 'L', 'gi') AS b, "
        "regexp_replace('hello', 'l+', 'L', 'g') AS c, "
        "regexp_replace('a\nb', 'a.b', 'X', 's') AS d"))


def test_regexp_replace_first_match_on_column(engine, duck):
    _check(engine, duck, (
        "SELECT n_nationkey AS k, "
        "regexp_replace(n_name, '_', '-') AS one, "
        "regexp_replace(n_name, '_', '-', 'g') AS all_ "
        "FROM nation ORDER BY k"))


def test_array_agg_keeps_nulls(engine, duck):
    """DuckDB array_agg KEEPS NULL elements; its default null order is
    NULLS LAST in both directions (judge probe: collect_list dropped
    them). The expr≠key form sorts by the key with the same rule."""
    _check(engine, duck, (
        "SELECT array_agg(x ORDER BY x) AS asc_, "
        "array_agg(x ORDER BY x DESC) AS desc_, "
        "array_agg(DISTINCT x ORDER BY x) AS dist "
        "FROM (VALUES (1), (NULL), (2), (NULL), (1)) t(x)"))
    _check(engine, duck, (
        "SELECT array_agg(x ORDER BY y) AS by_key "
        "FROM (VALUES (1, 3), (NULL, 1), (2, 2)) t(x, y)"))
    _check(engine, duck, (
        "SELECT array_agg(x ORDER BY x) AS only_null "
        "FROM (VALUES (CAST(NULL AS INTEGER))) t(x)"))
    # all-filtered group is NULL; surviving NULL elements stay
    _check(engine, duck, (
        "SELECT array_agg(x ORDER BY x) FILTER (WHERE y > 1) AS f "
        "FROM (VALUES (1, 1), (NULL, 2), (3, 2)) t(x, y)"))


def test_array_agg_grouped_on_table(engine, duck):
    _check(engine, duck, (
        "SELECT n_regionkey AS k, "
        "array_agg(CASE WHEN n_nationkey % 7 = 0 THEN NULL "
        "ELSE n_name END ORDER BY n_nationkey) AS v "
        "FROM nation GROUP BY 1 ORDER BY k"))


def test_array_distinct_drops_nulls(engine, duck):
    """DuckDB list_distinct/array_distinct DROP NULLs. Result order is
    arbitrary in DuckDB (hash order) — compare through list_sort
    (documented §2.4)."""
    _check(engine, duck, (
        "SELECT list_sort(array_distinct([1, 1, NULL, NULL, 2])) AS a, "
        "list_sort(list_distinct([3, NULL, 3])) AS b, "
        "array_distinct([NULL]) AS c, "
        "array_distinct(CAST([] AS INTEGER[])) AS d, "
        "list_sort(array_distinct(['x', NULL, 'x', 'y'])) AS e2"))


def test_strftime_nopad_specifiers(engine, duck):
    """'%-d' family = no-pad (judge probe: the engine emitted literal
    '%-5' garbage)."""
    _check(engine, duck, (
        "SELECT strftime(TIMESTAMP '2024-06-05 07:08:09', "
        "'%-d/%-m/%Y %-H:%-M:%-S') AS a, "
        "strftime(TIMESTAMP '2024-06-05 07:08:09', '%-I %p') AS b, "
        "strftime(DATE '2024-06-05', '%-j') AS c, "
        "strftime(TIMESTAMP '2024-12-25 23:59:59', '%-d.%-m.') AS d"))


def test_strftime_unknown_nopad_refuses(engine):
    with pytest.raises(Exception, match="no-pad"):
        engine.sql("SELECT strftime(DATE '2024-06-05', '%-y')",
                   dialect="duckdb")


def test_chr_full_unicode(engine, duck):
    """chr(8364) is '€' (judge probe: Spark's chr wraps mod 256 → '¬',
    silent mojibake). All four UTF-8 byte-length arms + NULL."""
    _check(engine, duck, (
        "SELECT chr(65) AS one_byte, chr(956) AS two_byte, "
        "chr(8364) AS three_byte, chr(128021) AS four_byte, "
        "chr(0) AS nul, chr(127) AS del, chr(2047) AS b2max, "
        "chr(65535) AS b3max, chr(CAST(NULL AS INTEGER)) AS n"))


def test_chr_invalid_codepoint_errors_both(engine, duck):
    """DuckDB errors on surrogates/negatives/out-of-range; raise_error
    matches loudly."""
    for cp in (-1, 55296, 1114112):
        with pytest.raises(Exception):
            engine.sql(f"SELECT chr({cp})", dialect="duckdb").collect()
        with pytest.raises(Exception):
            duck.execute(f"SELECT chr({cp})").fetchall()


def test_element_at_on_map_is_list(engine, duck):
    """DuckDB element_at is a map_extract alias: one-element LIST, []
    on a missing key (judge probe: the engine returned scalar NULL)."""
    _check(engine, duck, (
        "SELECT element_at(MAP([1, 2], [10, 20]), 3) AS missing, "
        "element_at(MAP([1, 2], [10, 20]), 1) AS hit, "
        "element_at(MAP(['k'], [CAST(NULL AS INTEGER)]), 'k') AS nullv, "
        "map_extract(MAP([1], [10]), 9) AS me_missing"))


def test_ignore_nulls_in_parens(engine, duck):
    """DuckDB spells first_value(x IGNORE NULLS) INSIDE the parens —
    the LOCF idiom (judge probe: parse error before r7)."""
    _check(engine, duck, (
        "SELECT y, first_value(x IGNORE NULLS) OVER w AS fv, "
        "last_value(x IGNORE NULLS) OVER w AS lv, "
        "lag(x IGNORE NULLS) OVER (ORDER BY y) AS lg, "
        "lead(x IGNORE NULLS) OVER (ORDER BY y) AS ld, "
        "first_value(x RESPECT NULLS) OVER w AS rv "
        "FROM (VALUES (NULL, 1), (5, 2), (NULL, 3), (7, 4)) t(x, y) "
        "WINDOW w AS (ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING "
        "AND CURRENT ROW) ORDER BY y"))


def test_locf_gapfill_idiom_verbatim(engine, duck):
    """The full LOCF pattern over a real table, verbatim both engines."""
    _check(engine, duck, (
        "SELECT n_nationkey AS k, first_value("
        "CASE WHEN n_nationkey % 3 = 0 THEN n_name END IGNORE NULLS) "
        "OVER (ORDER BY n_nationkey ROWS BETWEEN UNBOUNDED PRECEDING "
        "AND CURRENT ROW) AS filled FROM nation ORDER BY k"))


def test_temporal_stragglers(engine, duck):
    """week() bare alias; EXTRACT microseconds/milliseconds INCLUDE the
    seconds component [measured 9123456/9123]; seconds is the INTEGER
    field (Spark's EXTRACT(SECOND) is DECIMAL with the fraction)."""
    _check(engine, duck, (
        "SELECT week(DATE '2024-01-01') AS w1, "
        "week(DATE '2022-01-01') AS w2, "
        "week(DATE '2024-12-30') AS w3, "
        "yearweek(DATE '2024-12-30') AS yw, "
        "EXTRACT(microseconds FROM TIMESTAMP "
        "'2024-06-05 07:08:09.123456') AS us, "
        "EXTRACT(milliseconds FROM TIMESTAMP "
        "'2024-06-05 07:08:09.123456') AS ms, "
        "EXTRACT(seconds FROM TIMESTAMP "
        "'2024-06-05 07:08:09.123456') AS s, "
        "date_part('microseconds', TIMESTAMP "
        "'2024-06-05 07:08:09.123456') AS us2, "
        "EXTRACT(second FROM TIMESTAMP '1961-02-03 04:05:06.789') AS pre"))


def test_timezone_two_arg(engine, duck):
    """timezone(tz, naive-ts) interprets the wall clock IN tz → instant.
    The raw types stringify differently (DuckDB TIMESTAMPTZ carries
    '+00'; documented §2.4) — compare through strftime, which renders
    both as the session-UTC wall clock."""
    _check(engine, duck, (
        "SELECT strftime(timezone('UTC', "
        "TIMESTAMP '2024-06-05 07:08:09'), '%Y-%m-%d %H:%M:%S') AS a, "
        "strftime(timezone('America/New_York', "
        "TIMESTAMP '2024-06-05 07:08:09'), '%Y-%m-%d %H:%M:%S') AS b, "
        "strftime(timezone('Asia/Tokyo', "
        "TIMESTAMP '2024-01-15 00:30:00'), '%Y-%m-%d %H:%M:%S') AS c"))


def test_bracket_subscript_safety(engine, duck):
    """DuckDB list[n]: NULL on 0/out-of-range, negatives from the back
    (judge probe r7: ANSI throw on [5], parse error on [-1]); map[k]
    is a one-element LIST ([] missing); string[n] is 1-based char with
    '' on 0/out-of-range."""
    _check(engine, duck, (
        "SELECT [1, 2, 3][-1] AS a, [1, 2, 3][5] AS b, "
        "[1, 2, 3][0] AS c, [1, 2, 3][2] AS d, [1, 2, 3][-5] AS e2, "
        "[[1, 2], [3]][1][2] AS f"))
    _check(engine, duck, (
        "SELECT (MAP([1, 2], [10, 20]))[1] AS hit, "
        "(MAP([1, 2], [10, 20]))[3] AS miss"))
    _check(engine, duck, (
        "SELECT 'abcde'[2] AS a, 'abcde'[-1] AS b, 'abcde'[0] AS c, "
        "'abcde'[7] AS d, 'abcde'[-9] AS e2"))
    # non-literal index on a bracket literal / known-array column
    _check(engine, duck, (
        "SELECT n_nationkey AS k, "
        "[10, 20, 30][1 + n_nationkey % 4] AS v, "
        "string_split(n_name, '_')[2] AS w, "
        "string_split(n_name, '_')[-1] AS x "
        "FROM nation ORDER BY k"))


def test_bracket_slices_on_literals(engine, duck):
    """Literal slices ([2:], [:2], [-2:]) previously threw (the slice
    walk-back had no ']' base)."""
    _check(engine, duck, (
        "SELECT [1, 2, 3][2:] AS a, [1, 2, 3][:2] AS b, "
        "[1, 2, 3][-2:] AS c, [1, 2, 3][2:-1] AS d, "
        "[1, 2, 3, 4][0:9] AS e2"))


def test_age_two_arg(engine, duck):
    """age() is the Postgres-style component interval; the engine
    renders it as DuckDB's VARCHAR cast (Spark can't type a mixed
    year-month/day-time interval) — compare through CAST AS VARCHAR.
    Covers singular units, omitted zero components, negative signs on
    every component, trimmed fractions and the calendar borrow."""
    _check(engine, duck, (
        "SELECT CAST(age(TIMESTAMP '2024-06-05 07:08:09', "
        "TIMESTAMP '2020-03-10 01:02:03') AS VARCHAR) AS a, "
        "CAST(age(TIMESTAMP '2020-03-10 01:02:03', "
        "TIMESTAMP '2024-06-05 07:08:09') AS VARCHAR) AS b, "
        "CAST(age(TIMESTAMP '2024-01-31 12:00:00', "
        "TIMESTAMP '2024-03-01 00:00:00') AS VARCHAR) AS c, "
        "CAST(age(TIMESTAMP '2023-05-05', TIMESTAMP '2022-04-04') "
        "AS VARCHAR) AS d, "
        "CAST(age(TIMESTAMP '2024-06-05 07:08:09.123456', "
        "TIMESTAMP '2024-06-05 07:08:09') AS VARCHAR) AS e2, "
        "CAST(age(TIMESTAMP '2024-06-05', TIMESTAMP '2024-06-05') "
        "AS VARCHAR) AS f, "
        "CAST(age(TIMESTAMP '2024-06-01', "
        "TIMESTAMP '2024-05-31 23:00:00') AS VARCHAR) AS g, "
        "CAST(age(TIMESTAMP '2026-08-15 09:26:13.998', "
        "TIMESTAMP '2020-01-01') AS VARCHAR) AS h"))


def test_printf_type_carriers(engine, duck):
    """JVM printf rejects DECIMAL for %f and narrow ints for %d/%x —
    the literal-format branch casts each argument to its conversion's
    carrier (judge probe r6: printf('%5.2f', 3.14159) errored)."""
    _check(engine, duck, (
        "SELECT printf('%5.2f', 3.14159) AS a, "
        "printf('%05d|%x|%s', 42, 255, 'hi') AS b, "
        "printf('%.3f', 2.0) AS c, "
        "printf('100%% of %d', 7) AS d, "
        "printf('%s=%d', 'k', CAST(NULL AS INTEGER)) AS n"))


def test_format_alignment_specs(engine, duck):
    """fmt fill/align/width specs → lpad/rpad wrappers (judge probe r6:
    '{:>8}' refused). Centering puts the extra fill on the right;
    over-width values are never truncated."""
    _check(engine, duck, (
        "SELECT format('{:>8}', 'ab') AS a, "
        "format('{:<8}|', 'ab') AS b, "
        "format('{:^7}', 'ab') AS c, "
        "format('{:*>6}', 'ab') AS d, "
        "format('{:>6.1f}', 3.14159) AS e2, "
        "format('{:>3}', 'abcdef') AS f, "
        "format('{:>4}', 42) AS g"))


def test_review_r7_regression_pins(engine, duck):
    """r7 code-review finds: (1) a 3-arg regexp_replace NESTED inside
    another's arguments must first-match too (the pass recurses into
    args now); (2) nested replacement literals get their backrefs
    converted; (3) EXTRACT sub-minute fields accept INTERVAL inputs
    (the emission rides Spark's own SECOND field, not a CAST-to-
    TIMESTAMP hop); (4) list_distinct over an already-null-filtered
    argument still renames."""
    _check(engine, duck, (
        "SELECT regexp_replace(regexp_replace('aaa', 'a', 'b'), "
        "'b', 'c') AS nested, "
        "regexp_replace(regexp_replace('xyxy', '(x)(y)', '\\2\\1'), "
        "'(y)', '<\\1>') AS backrefs, "
        "regexp_replace('kk', 'k', regexp_replace('vv', 'v', 'w')) "
        "AS in_repl"))
    _check(engine, duck, (
        "SELECT EXTRACT(second FROM INTERVAL 90 SECOND) AS a, "
        "EXTRACT(milliseconds FROM INTERVAL '1.5' SECOND) AS b, "
        "date_part('seconds', TIMESTAMP '2024-06-05 07:08:09' "
        "- TIMESTAMP '2024-06-05 07:07:39') AS c"))
    _check(engine, duck, (
        "SELECT list_sort(list_distinct(list_filter([1, NULL, 2, 2], "
        "y -> y IS NOT NULL))) AS a"))


def test_probe_batch1_temporal_truncation(engine, duck):
    """r7 self-probe batch: date_trunc decade/century/millennium were
    silent NULLs in Spark [measured floors: 2024 → 2020/2000/2000];
    DATE - DATE is an INTEGER day count in DuckDB (Spark: interval);
    today()/datetrunc/try_strptime aliases."""
    _check(engine, duck, (
        "SELECT date_trunc('decade', DATE '2024-05-05') AS a, "
        "date_trunc('century', DATE '2024-05-05') AS b, "
        "date_trunc('millennium', DATE '2024-05-05') AS c, "
        "date_trunc('quarter', DATE '2024-05-05') AS d, "
        "datetrunc('month', DATE '2024-05-05') AS e2"))
    _check(engine, duck, (
        "SELECT DATE '2024-01-05' - DATE '2024-01-01' AS days, "
        "DATE '2024-01-05' - 3 AS back, "
        "CAST(strptime('05/06/2024 07:08', '%d/%m/%Y %H:%M') "
        "AS VARCHAR) AS sp, "
        "CAST(try_strptime('bad', '%d/%m/%Y') AS VARCHAR) AS tsp, "
        "today() = current_date AS t"))
    _check(engine, duck, (
        "SELECT o_orderdate - DATE '1995-01-01' AS d "
        "FROM orders ORDER BY o_orderkey LIMIT 5"))


def test_probe_batch1_list_functions(engine, duck):
    """range() list form (EXCLUSIVE stop), list_resize NULL/value pads,
    list_sort direction strings, list_indexof/list_has aliases."""
    _check(engine, duck, (
        "SELECT range(3) AS a, range(1, 4) AS b, range(0, 10, 3) AS c, "
        "range(5, 0, -2) AS d, range(0) AS e2, range(2, 2) AS f, "
        "range(-2) AS g"))
    _check(engine, duck, (
        "SELECT list_resize([1, 2], 4) AS a, "
        "list_resize([1, 2, 3], 2) AS b, "
        "list_resize([1, 2], 4, 9) AS c"))
    _check(engine, duck, (
        "SELECT list_sort([3, NULL, 1]) AS a, "
        "list_sort([3, NULL, 1], 'DESC') AS b, "
        "list_sort([3, NULL, 1], 'ASC', 'NULLS FIRST') AS c, "
        "list_sort([3, NULL, 1], 'DESC', 'NULLS FIRST') AS d, "
        "list_sort([3, NULL, 1], 'ASC', 'NULLS LAST') AS e2, "
        "list_has([1, 2], 1) AS f, list_indexof([1, 2, 3], 9) AS g, "
        "list_indexof([1, 2, 3], 2) AS h"))
    _check(engine, duck, (
        "SELECT array_slice('hello', 2, 3) AS a, "
        "array_slice('hello', -3, -1) AS b, "
        "array_slice('hello', 2, NULL) AS c"))


def test_probe_batch1_scalar_functions(engine, duck):
    """sha256, operator-function aliases, geomean, gamma/lgamma/
    nextafter/signbit session UDFs, arbitrary → any_value."""
    _check(engine, duck, (
        "SELECT sha256('x') AS a, add(1, 2) AS b, multiply(3, 4) AS c, "
        "subtract(5, 2) AS d, "
        "round(gamma(5.0), 6) AS e2, round(lgamma(10.0), 6) AS f, "
        "nextafter(1.0, 0.0) AS g, signbit(-0.5) AS h, "
        "signbit(0.5) AS i2, factorial(5) AS j"))
    _check(engine, duck, (
        "SELECT round(geomean(o_totalprice), 4) AS g, "
        "arbitrary(o_orderstatus ORDER BY o_orderkey) AS arb "
        "FROM orders"))


def test_probe_batch2_json_arrows(engine, duck):
    """Arrow chains collapse into one get_json_object with a composed
    JsonPath: bare keys, integer indexes, explicit '$.x' paths, ::JSON
    casts and string-literal LHS [all measured]. Constant lambdas
    sharing the '->' spelling stay untouched."""
    _check(engine, duck, (
        "SELECT '{\"a\":1}'::JSON ->> 'a' AS a, "
        "'{\"a\":\"x\"}' ->> 'a' AS b, "
        "'{\"a\":{\"b\":2}}' -> 'a' ->> 'b' AS c, "
        "'[10,20]' ->> 0 AS d, "
        "'{\"a\":\"x\"}' ->> '$.a' AS e2, "
        "CAST('{\"k\":5}' AS JSON) ->> 'k' AS f"))
    _check(engine, duck, (
        "SELECT list_transform([1, 2], x -> x + 1) AS lam, "
        "list_transform([1, 2], x -> 'y') AS lam2"))


def test_probe_batch2_literal_forms(engine, duck):
    """Underscore digit separators [measured]. Hex/binary literals are
    deliberately NOT translated: DuckDB 1.0 parses '0x1A' as the zero
    literal with alias x1A (this probe's own gate caught a would-be
    0x→decimal rewrite silently diverging against that)."""
    _check(engine, duck, "SELECT 1_000_000 AS d, 12_345 + 1 AS e2")
    # 0x1A itself: DuckDB's zero-with-alias parse vs Spark's unresolved
    # identifier — loud on the engine side, not emulated


def test_probe_batch2_aggs_and_casts(engine, duck):
    """list() = array_agg alias (NULL-keeping), row() = unnamed struct,
    CAST(string AS T[]) parses list text, histogram MAP compare (the
    duckdb Python MAP rendering normalizes to items)."""
    _check(engine, duck, (
        "SELECT list(x ORDER BY x) AS l "
        "FROM (VALUES (2), (NULL), (1)) t(x)"))
    _check(engine, duck, "SELECT row(1, 'x') AS r")
    _check(engine, duck, (
        "SELECT CAST('[1,2]' AS INTEGER[]) AS a, "
        "CAST('[1.5, 2.5]' AS DOUBLE[]) AS b"))
    _check(engine, duck, (
        "SELECT histogram(n_regionkey) AS h FROM nation"))


def test_probe_batch2_string_slices(engine, duck):
    _check(engine, duck, (
        "SELECT 'abcde'[2:-1] AS a, 'abcdef'[:3] AS b, "
        "'abcdef'[3:] AS c, 'abc'[2:2] AS d, 'abcde'[0:2] AS e2"))


def test_probe_batch3_grammar_gaps(engine, duck):
    """CTE materialization hints are dropped (optimizer's call in
    Spark), bare GROUP BY () is the grand-total group, CASE WHEN NULL
    needs a typed boolean under ANSI."""
    _check(engine, duck,
           "WITH c AS MATERIALIZED (SELECT 41 AS x) SELECT x + 1 FROM c")
    _check(engine, duck, (
        "WITH c AS NOT MATERIALIZED (SELECT n_nationkey AS k "
        "FROM nation) SELECT count(*) AS n FROM c"))
    _check(engine, duck,
           "SELECT count(*) AS n, sum(n_nationkey) AS s "
           "FROM nation GROUP BY ()")
    _check(engine, duck, (
        "SELECT CASE WHEN NULL THEN 1 ELSE 2 END AS a, "
        "CASE WHEN 1 = 1 THEN NULL END AS b"))


def test_probe_batch3_functions(engine, duck):
    """3-arg list_aggregate('string_agg'), regexp_full_match,
    array_concat/array_cat aliases, map_entries struct compare (duck
    structs normalize nameless like Spark Row tuples)."""
    _check(engine, duck, (
        "SELECT list_aggregate(['a', 'b', NULL], 'string_agg', '-') "
        "AS a, "
        "list_aggregate(CAST([] AS VARCHAR[]), 'string_agg', '-') AS b, "
        "regexp_full_match('abc', 'a.c') AS c, "
        "regexp_full_match('abcd', 'a.c') AS d, "
        "array_concat([1], [2, 3]) AS e2, array_cat([1], [2]) AS f"))
    _check(engine, duck, (
        "SELECT map_entries(MAP(['a', 'b'], [1, 2])) AS me, "
        "map_keys(MAP(['a'], [1])) AS mk, "
        "map_values(MAP(['a'], [1])) AS mv, "
        "cardinality(MAP(['a'], [1])) AS n"))


def test_probe_batch4_series_expressions(engine, duck):
    """Expression-position generate_series/range lists [measured:
    generate_series(5,1) is EMPTY where Spark's sequence would
    auto-step down — a silent wrong answer]; the TVF forms keep
    working via the engine's series resolver."""
    _check(engine, duck, (
        "SELECT generate_series(3) AS a, generate_series(0) AS b, "
        "generate_series(-1) AS c, generate_series(1, 3) AS d, "
        "generate_series(5, 1) AS e2, generate_series(5, 1, -2) AS f, "
        "generate_series(1, 10, 3) AS g, "
        "unnest(generate_series(1, 3)) AS u"))
    _check(engine, duck, (
        "SELECT g FROM generate_series(1, 4) t(g) ORDER BY g"))


def test_review_r7b_regression_pins(engine, duck):
    """Second r7 review pass: arbitrary() keeps a NULL first value (it
    is DuckDB's first() alias — any_value would skip); gamma/signbit of
    NULL are NULL (Arrow NaN holes); NULL series bounds are NULL not
    []; truncated decades are TIMESTAMP-typed; a derived-table alias
    named 'materialized' survives the CTE-hint dropper."""
    _check(engine, duck, (
        "SELECT arbitrary(v ORDER BY k) AS a, "
        "first(v ORDER BY k) AS b, last(v ORDER BY k) AS c "
        "FROM (VALUES (1, NULL), (2, 7)) t(k, v)"))
    _check(engine, duck, (
        "SELECT gamma(CAST(NULL AS DOUBLE)) AS g, "
        "signbit(CAST(NULL AS DOUBLE)) AS s, "
        "range(NULL) AS r, generate_series(1, NULL) AS gs"))
    _check(engine, duck, (
        "SELECT x FROM (VALUES (1)) AS materialized(x)"))
    # geomean of a non-positive value errors on BOTH engines
    with pytest.raises(Exception):
        duck.execute(
            "SELECT geomean(x) FROM (VALUES (0.0),(2.0)) t(x)").fetchall()
    with pytest.raises(Exception):
        engine.sql("SELECT geomean(x) FROM (VALUES (0.0),(2.0)) t(x)",
                   dialect="duckdb").collect()
    # CAST to a STRING-element list stays loud (DuckDB list text allows
    # unquoted elements that from_json would silently NULL)
    with pytest.raises(Exception):
        engine.sql("SELECT CAST('[a, b]' AS VARCHAR[])",
                   dialect="duckdb").collect()


def test_probe_batch5_timestamptz_literals(engine, duck):
    """TIMESTAMPTZ literal/cast spellings carry as session-UTC
    TIMESTAMP (Spark parses bare '+02' offsets into the same instant,
    measured); DuckDB's TIMESTAMPTZ renders a '+00' suffix so the
    instants compare through strftime (§2.4.25)."""
    _check(engine, duck, (
        "SELECT strftime(TIMESTAMPTZ '2024-06-05 07:08:09+02', "
        "'%Y-%m-%d %H:%M') AS a, "
        "strftime(TIMESTAMP WITH TIME ZONE '2024-06-05 07:08:09+00', "
        "'%H') AS b, "
        "strftime('2024-06-05 07:08:09+02'::TIMESTAMPTZ, '%H:%M') AS c, "
        "strftime(CAST('2024-06-05 07:08:09-05' AS TIMESTAMPTZ), "
        "'%H') AS d"))


def test_probe_batch6_dml_statements(spark, tmp_path):
    """r7 DML probe batch: join-DML sugar (UPDATE…FROM / DELETE…USING
    re-dispatch through MERGE), self-referential subqueries disable the
    file-level fast path (it REBINDS the table view to the pruned
    subset — the probe caught UPDATE t SET v=(SELECT max(k) FROM t)
    silently no-oping), DEFAULT as a VALUES placeholder, and ADD
    COLUMN … DEFAULT (a rewriting backfill commit, documented)."""
    import duckdb as _duck

    from duckdb_read_spark.engine import Engine

    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    con = _duck.connect()
    scripts = [
        ["CREATE TABLE p1 (k INT, v INT)",
         "INSERT INTO p1 VALUES (1, 10), (2, 20)",
         "CREATE TABLE p2 (k INT, nv INT)",
         "INSERT INTO p2 VALUES (1, 99)",
         "UPDATE p1 SET v = nv FROM p2 WHERE p1.k = p2.k",
         "SELECT * FROM p1 ORDER BY k"],
        ["CREATE TABLE p3 (k INT)", "INSERT INTO p3 VALUES (1), (2), (3)",
         "CREATE TABLE p4 (k INT)", "INSERT INTO p4 VALUES (2)",
         "DELETE FROM p3 USING p4 WHERE p3.k = p4.k",
         "SELECT * FROM p3 ORDER BY k"],
        ["CREATE TABLE p5 (k INT, v INT)",
         "INSERT INTO p5 VALUES (1, 1), (2, 2)",
         "UPDATE p5 SET v = (SELECT max(k) FROM p5) WHERE k = 1",
         "SELECT * FROM p5 ORDER BY k"],
        ["CREATE TABLE p6 (k INT)", "INSERT INTO p6 VALUES (1), (2), (3)",
         "DELETE FROM p6 WHERE k < (SELECT max(k) FROM p6)",
         "SELECT * FROM p6 ORDER BY k"],
        ["CREATE TABLE p7 (x INT DEFAULT 7, y VARCHAR)",
         "INSERT INTO p7 (y) VALUES ('q')",
         "INSERT INTO p7 VALUES (DEFAULT, 's')",
         "INSERT INTO p7 (x, y) VALUES (DEFAULT, 'DEFAULT')",
         "SELECT * FROM p7 ORDER BY y"],
        ["CREATE TABLE p8 (k INT)", "INSERT INTO p8 VALUES (1), (2)",
         "ALTER TABLE p8 ADD COLUMN tag VARCHAR DEFAULT 'n'",
         "UPDATE p8 SET tag = 'y' WHERE k = 1",
         "INSERT INTO p8 (k) VALUES (3)",
         "SELECT * FROM p8 ORDER BY k"],
        # keyword-form substring in SET must not be read as UPDATE…FROM
        ["CREATE TABLE p9 (s VARCHAR)", "INSERT INTO p9 VALUES ('abcdef')",
         "UPDATE p9 SET s = substring(s FROM 2 FOR 3) WHERE length(s) > 2",
         "SELECT * FROM p9"],
        # review r7-3: multi-match source updates each target row ONCE
        # (the MERGE route would have duplicated it)
        ["CREATE TABLE pa (k INT, v INT)",
         "INSERT INTO pa VALUES (1, 10), (2, 20)",
         "CREATE TABLE pb (k INT, nv INT)",
         "INSERT INTO pb VALUES (1, 99), (1, 77)",
         "UPDATE pa SET v = nv FROM pb WHERE pa.k = pb.k",
         "SELECT k, count(*) AS n FROM pa GROUP BY k ORDER BY k"],
        # subquery SOURCE with its own WHERE; WHERE-less cross-join form
        ["CREATE TABLE pc (k INT, v INT)",
         "INSERT INTO pc VALUES (1, 10), (2, 20), (3, 30)",
         "CREATE TABLE pd (k INT, nv INT)",
         "INSERT INTO pd VALUES (1, 99), (3, 77)",
         "UPDATE pc SET v = q.nv FROM (SELECT k, nv FROM pd "
         "WHERE nv > 80) q WHERE pc.k = q.k",
         "SELECT * FROM pc ORDER BY k"],
        ["CREATE TABLE pe (k INT, v INT)",
         "INSERT INTO pe VALUES (1, 1), (2, 2)",
         "CREATE TABLE pf (nv INT)", "INSERT INTO pf VALUES (7)",
         "UPDATE pe SET v = nv FROM pf",
         "SELECT * FROM pe ORDER BY k"],
        # plain UPDATE with inner WHEREs in subqueries and in string
        # literals (the old regex split truncated the SET list)
        ["CREATE TABLE pg (k INT, v INT)",
         "INSERT INTO pg VALUES (1, 10), (2, 20)",
         "CREATE TABLE ph (k INT, v INT)", "INSERT INTO ph VALUES (1, 100)",
         "UPDATE pg SET v = (SELECT max(v) FROM ph WHERE ph.k = pg.k) "
         "WHERE k = 1",
         "SELECT * FROM pg ORDER BY k"],
        ["CREATE TABLE pi2 (v VARCHAR)", "INSERT INTO pi2 VALUES ('abc')",
         "UPDATE pi2 SET v = 'go FROM a WHERE b' WHERE v = 'abc'",
         "SELECT * FROM pi2"],
        # DEFAULT placeholder through the ON CONFLICT route; backfill
        # default routes through the DIALECT (log() is log10 in DuckDB)
        ["CREATE TABLE pj (k INT PRIMARY KEY, x INT DEFAULT 7)",
         "INSERT INTO pj VALUES (1, 1)",
         "INSERT INTO pj VALUES (1, DEFAULT) ON CONFLICT DO NOTHING",
         "INSERT INTO pj VALUES (2, DEFAULT) ON CONFLICT DO NOTHING",
         "SELECT * FROM pj ORDER BY k"],
        ["CREATE TABLE pk2 (k INT)", "INSERT INTO pk2 VALUES (1)",
         "ALTER TABLE pk2 ADD COLUMN lg DOUBLE DEFAULT log(100)",
         "SELECT k, lg FROM pk2"],
    ]
    for stmts in scripts:
        for st in stmts[:-1]:
            con.execute(st)
            eng.sql(st, dialect="duckdb")
        got = spark_rows(eng.sql(stmts[-1], dialect="duckdb"))
        want = duckdb_rows(con, stmts[-1])
        assert got == want, stmts[-2] + "\n" + diff_summary(got, want)


def test_probe_batch7_window_filter_and_ordered_string_agg(engine, duck):
    """FILTER on WINDOW aggregates (Spark refuses natively — the
    CASE-NULL wrap is exact for null-skipping aggs; the collect family
    stays loud) and string_agg ordered by a key DIFFERENT from the
    expression (struct-wrapped like array_agg, NULL exprs skipped)."""
    _check(engine, duck, (
        "SELECT x, sum(x) FILTER (WHERE x > 1) OVER (ORDER BY x) AS s, "
        "count(*) FILTER (x > 1) OVER (ORDER BY x) AS c, "
        "avg(x) FILTER (WHERE x <> 2) OVER "
        "(ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "CURRENT ROW) AS a "
        "FROM (VALUES (1), (2), (3)) t(x) ORDER BY x"))
    _check(engine, duck, (
        "SELECT string_agg(n_name, ',' ORDER BY n_nationkey) "
        "FILTER (WHERE n_nationkey < 3) AS a, "
        "string_agg(n_name, '|' ORDER BY n_nationkey DESC) AS b, "
        "string_agg(CASE WHEN n_nationkey % 2 = 0 THEN n_name END, "
        "'-' ORDER BY n_nationkey) AS skips_nulls "
        "FROM nation WHERE n_nationkey < 6"))


# --- documented divergences (SURVEY §2.4): pin CURRENT behavior ----------


def test_pin_in_subquery_null_divergence(engine, duck):
    """'1 IN (SELECT NULL)' is NULL in DuckDB. Was a documented
    divergence (Spark's projected IN-subquery said false) through r11;
    FIXED r12 by the value-position CASE-over-EXISTS emission
    (test_r12_probes.py::test_value_position_in_subquery_3vl)."""
    _check(engine, duck, "SELECT 1 IN (SELECT NULL) AS v")


def test_pin_sharp_s_casing_divergence(engine, duck):
    """upper('straße'): JVM gives 'STRASSE', DuckDB/utf8proc 'STRAẞE'.
    Was a documented divergence through r8; fixed r9 by the inline
    translate sandwich (see test_r9b_case_mapping_duck_semantics)."""
    _check(engine, duck, "SELECT upper('straße') AS v")


# --- r8: indexed lambdas are 1-based; DECIMAL ordered statistics -----------


def test_indexed_lambda_params_one_based(engine, duck):
    """Two-parameter lambdas pass a 1-BASED element index in DuckDB and
    0-based in Spark (judge probe r7: list_transform([10,20,30],
    (x,i) -> x+i) was [10,21,32]). Covers the alias fan and nesting."""
    _check(engine, duck, (
        "SELECT list_transform([10,20,30], (x,i) -> x + i) AS a, "
        "list_filter([10,15,20,25], (x,i) -> i % 2 = 0) AS b, "
        "list_transform([10,20,30], (x, i) -> i) AS c, "
        "array_apply([1,2], (x,i) -> x * i) AS d, "
        "filter([5,6,7], (x, idx) -> idx = 1) AS e2, "
        "array_filter([9,8,7], (e, n) -> n < 3) AS f, "
        "list_transform([[1,2],[3]], (l,i) -> "
        "  list_transform(l, (y,j) -> y*10 + i + j)) AS g, "
        "list_transform(['a','b'], (x,i) -> concat(x, i)) AS h"))


def test_list_reduce_three_param_lambda(engine, duck):
    """list_reduce's optional third lambda parameter is the 1-based
    ITERATION number [measured: list_reduce([1,2,3,4], (a,b,i) ->
    a + b*i) = 21 → i = 1,2,3]. Bare reduce/array_reduce are aliases."""
    _check(engine, duck, (
        "SELECT list_reduce([1,2,3,4], (a,b,i) -> a + b * i) AS a, "
        "reduce([5,6,7], (a,b,i) -> a + b + i) AS b, "
        "array_reduce([2,3], (a,b) -> a + b) AS c, "
        "list_reduce([9], (a,b) -> a + b) AS d"))


@pytest.fixture(scope="module")
def decimal_table(engine, duck, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("dec") / "decp.parquet")
    duck.execute(
        "CREATE OR REPLACE TABLE decp AS SELECT "
        "CAST(unnest([1.25,1.75,3.00,4.00,-1.01,-1.02,2.00]) "
        "AS DECIMAL(10,2)) AS x, unnest([1,1,1,1,2,2,2]) AS g")
    duck.execute(f"COPY decp TO '{p}' (FORMAT PARQUET)")
    engine.register_parquet("decp", p)
    return "decp"


def test_decimal_quantile_cont_truncates_to_scale(engine, duck,
                                                  decimal_table):
    """quantile_cont over a DECIMAL column returns a DECIMAL truncated
    TOWARD ZERO to the operand scale (judge probe r7: 1.625 → 1.62,
    -1.015 → -1.01, 1.035 → 1.03 — not half-even); the list form
    quantizes each element."""
    _check(engine, duck, (
        "SELECT g, quantile_cont(x, 0.25) AS q25, "
        "quantile_cont(x, 0.5) AS q50, "
        "quantile_cont(x, [0.25, 0.75]) AS ql "
        "FROM decp GROUP BY g ORDER BY g"))


def test_decimal_median_lower_middle_no_interpolation(engine, duck,
                                                      decimal_table):
    """median over DECIMAL does NOT interpolate — it returns the lower
    middle element (judge probe r7: median of (1.0, 2.0) = 1.0; of
    (-1.01, -1.02) = -1.02), unlike its DOUBLE behavior; empty groups
    are NULL in both engines."""
    _check(engine, duck, (
        "SELECT g, median(x) AS m FROM decp GROUP BY g ORDER BY g"))
    _check(engine, duck, (
        "SELECT median(x) AS m FROM decp WHERE x > 100"))
    _check(engine, duck, (
        "SELECT g, median(g) AS m FROM decp GROUP BY g ORDER BY g"))


def test_decimal_quantile_window_form(engine, duck, decimal_table):
    """The OVER form must attach the window to the inner aggregate."""
    _check(engine, duck, (
        "SELECT x, quantile_cont(x, 0.25) OVER (PARTITION BY g) AS q, "
        "median(x) OVER (PARTITION BY g) AS m "
        "FROM decp ORDER BY g, x"))


# --- r8 loud-gap batch: quantified comparisons, tilde ops, step slices,
# --- interval epoch, trailing commas, NULL-separator/needle ----------------


def test_quantified_any_all_subqueries(engine, duck):
    """= ANY ≡ IN, <> ALL ≡ NOT IN; ordered forms follow standard 3VL
    (TRUE beats NULL beats FALSE for ANY, mirrored for ALL; empty set →
    ANY FALSE / ALL TRUE) [measured matrix in DuckDB 1.0.0]."""
    _check(engine, duck, (
        "WITH v(k, w) AS (VALUES (1, 10), (2, 20), (3, NULL), (4, 40)) "
        "SELECT k, "
        "k = ANY (SELECT k - 1 FROM v) AS a, "
        "k <> ALL (SELECT k - 1 FROM v WHERE k > 3) AS b, "
        "k > ALL (SELECT k FROM v WHERE k < 3) AS c, "
        "w > ANY (SELECT w FROM v) AS d, "
        "w >= ALL (SELECT w FROM v WHERE w IS NOT NULL) AS e2, "
        "k = SOME (SELECT 2) AS f, "
        "k + 1 > ALL (SELECT k FROM v WHERE k <= 3) AS g, "
        "k = ALL (SELECT 3 WHERE false) AS h "
        "FROM v ORDER BY k"))


def test_quantified_any_all_arrays(engine, duck):
    """Array operands: Spark's exists()/forall() 3VL measured identical;
    a NULL array is FALSE for ANY and TRUE for ALL."""
    _check(engine, duck, (
        "SELECT 3 = ANY ([1,3]) AS a, 3 > ALL ([1,NULL]) AS b, "
        "3 > ANY (CAST(NULL AS INT[])) AS c, "
        "3 <= ALL (CAST(NULL AS INT[])) AS d, "
        "-1 > ALL (SELECT -2) AS e2"))


def test_tilde_match_operators(engine, duck):
    """DuckDB ~ is regex FULL match ('abc' ~ 'b' is FALSE — SIMILAR TO
    semantics, NOT Postgres partial match); ~~ family = LIKE family;
    unary ~ stays bitwise NOT."""
    _check(engine, duck, (
        "WITH v(s) AS (VALUES ('apple'), ('Banana'), ('a.c'), (NULL)) "
        "SELECT s, s ~ 'a.*e' AS a, s !~ '.*an.*' AS b, "
        "s ~~ 'a%' AS c, s !~~ '%an%' AS d, s ~~* 'BAN%' AS e2, "
        "s !~~* '%E' AS f FROM v ORDER BY s NULLS FIRST"))
    _check(engine, duck,
           "SELECT 'a.c' ~ 'a\\.c' AS a, 'a%b' ~~ 'a\\%b' AS b, "
           "~5 AS c")


def test_using_sample_aliased_relation(engine, duck):
    """TABLESAMPLE must be emitted BEFORE the alias in Spark (100%/0%
    keep the compare deterministic)."""
    _check(engine, duck, (
        "SELECT x.r_regionkey FROM (SELECT r_regionkey FROM region) x "
        "USING SAMPLE 100% ORDER BY x.r_regionkey"))
    _check(engine, duck, (
        "SELECT t2.r_regionkey FROM region t2 USING SAMPLE 0 PERCENT "
        "ORDER BY t2.r_regionkey"))


def test_list_step_slices(engine, duck):
    """[a:b:s] slices: 1-based inclusive, clamped, negative bounds from
    the end, negative step reverses, contradiction → empty [measured]."""
    _check(engine, duck, (
        "SELECT ([1,2,3,4,5,6])[1:5:2] AS a, "
        "([1,2,3,4,5,6])[5:1:-1] AS b, "
        "([1,2,3,4,5,6])[:4:2] AS c, "
        "([1,2,3,4,5,6])[-5:6:2] AS d, "
        "([1,2,3,4,5,6])[100:1:-2] AS e2, "
        "([1,2,3,4,5,6])[4:2:1] AS f, "
        "([1,2,3,4,5,6])[5:0:-1] AS g, "
        "(CAST(NULL AS INT[]))[1:3:2] AS h, "
        "([1,2,3,4,5,6])[:1:-2] AS i2"))


def test_interval_epoch_literals(engine, duck):
    """epoch(INTERVAL …) / EXTRACT(epoch FROM INTERVAL …): whole years
    count 365.25 days, leftover months 30 days, truncating month
    quotient, fractional units cascade [measured formula]."""
    _check(engine, duck, (
        "SELECT extract(epoch FROM INTERVAL 90 MINUTE) AS a, "
        "epoch(INTERVAL '1 year 2 days 3 seconds') AS b, "
        "epoch(INTERVAL '-1 year -2 months') AS c, "
        "epoch(INTERVAL 13 MONTH) AS d, "
        "epoch(INTERVAL '1.5 months') AS e2, "
        "date_part('epoch', INTERVAL '25 hours') AS f, "
        "epoch(INTERVAL '500 milliseconds') AS g"))


def test_trailing_commas(engine, duck):
    """DuckDB's trailing-comma ergonomic: SELECT list, GROUP BY, list
    literals."""
    _check(engine, duck, (
        "SELECT r_regionkey, r_name, FROM region "
        "GROUP BY r_regionkey, r_name, HAVING r_regionkey >= 0 "
        "ORDER BY r_regionkey"))
    _check(engine, duck, "SELECT [1, 2, ] AS r")


def test_string_agg_null_separator(engine, duck):
    """string_agg(x, NULL [ORDER BY …]) is NULL in DuckDB — previously a
    parse error (the ordered rewrite wants a quoted separator)."""
    _check(engine, duck, (
        "SELECT string_agg(r_name, NULL ORDER BY r_name) AS a, "
        "string_agg(r_name, NULL) AS b FROM region"))


def test_list_contains_null_needle(engine, duck):
    """A NULL needle is NULL (Spark's array_contains rejects NULL-typed
    args outright)."""
    _check(engine, duck, (
        "SELECT list_contains([1,2], NULL) AS a, "
        "list_position([1,2], NULL) AS b, "
        "array_contains(['a'], NULL) AS c, list_has([1], NULL) AS d"))


# --- r8 self-probe batch: aggregate breadth + TIME-type operations ---------


def test_mad_aggregate(engine, duck):
    """mad() = interpolating median of |x − median(x)| — interpolating
    even over DECIMAL inputs, result truncated toward zero to the
    operand scale; numeric inputs → DOUBLE [measured]."""
    _check(engine, duck, (
        "SELECT mad(x) AS a FROM (VALUES (CAST(1 AS INT)),(2),(9),(10)"
        ") v(x)"))
    _check(engine, duck,
           "SELECT mad(x) AS a FROM (SELECT 1 AS x WHERE false) v")


def test_mad_decimal_column(engine, duck, decimal_table):
    """DECIMAL-kind column: exact decimal arithmetic in a doubled
    domain, trunc-to-scale result (0.015 → 0.01)."""
    _check(engine, duck,
           "SELECT g, mad(x) AS m FROM decp GROUP BY g ORDER BY g")


def test_bitstring_agg(engine, duck):
    """bitstring_agg(x, lo, hi): '0'/'1' string of hi-lo+1 bits, NULLs
    skipped, empty group NULL [measured]."""
    _check(engine, duck, (
        "SELECT bitstring_agg(x, 0, 5) AS a FROM (VALUES (1),(3)) v(x)"))
    _check(engine, duck, (
        "SELECT bitstring_agg(x, 2, 5) AS a "
        "FROM (VALUES (3),(NULL)) v(x)"))


def test_quantile_is_disc_alias(engine, duck):
    """Bare quantile() is DuckDB's quantile_disc alias (scalar + list
    forms)."""
    _check(engine, duck, (
        "SELECT quantile(x, 0.5) AS a, quantile(x, [0.25, 0.75]) AS b "
        "FROM (VALUES (1),(2),(3),(4)) v(x)"))


def test_order_by_inside_commutative_aggs(engine, duck):
    """DuckDB accepts ORDER BY inside every aggregate; for
    order-insensitive ones it is a no-op and Spark parse-errors —
    stripped."""
    _check(engine, duck, (
        "SELECT min(x ORDER BY x) AS a, sum(x ORDER BY x DESC) AS b, "
        "count(DISTINCT x ORDER BY x) AS c, median(x ORDER BY x) AS d "
        "FROM (VALUES (3),(1),(1)) v(x)"))


def test_time_literal_operations(engine, duck):
    """TIME-literal folds: extract fields (second truncates, epoch is
    DOUBLE seconds-of-day), wall-clock ± INTERVAL wraps mod 24 h with
    only the sub-day micros applying, make_time, timestamp→TIME casts
    [all measured; Spark raises UNSUPPORTED_TIME_TYPE on every one]."""
    _check(engine, duck, (
        "SELECT extract(hour FROM TIME '13:14:15') AS a, "
        "extract(second FROM TIME '13:14:15.75') AS b, "
        "extract(epoch FROM TIME '01:00:30') AS c, "
        "extract(millisecond FROM TIME '01:02:03.456789') AS d, "
        "hour(TIME '13:14:15') AS e2, "
        "TIME '23:30:00' + INTERVAL 2 HOUR AS f, "
        "TIME '01:00:00' - INTERVAL 2 HOUR AS g, "
        "TIME '13:14:15' + INTERVAL 1 MONTH AS h, "
        "make_time(13, 14, 15.5) AS i2, "
        "CAST(TIMESTAMP '2024-01-02 13:14:15.25' AS TIME) AS j, "
        "'13:14:15'::TIME AS k, "
        "hour(make_time(5, 6, 7) + INTERVAL 2 HOUR) AS l"))


# --- r8 review pins ---------------------------------------------------------


def test_review_r8_fix_pins(engine, duck):
    """Review r8 findings, each measured: lambda params may shadow the
    reduced list's name; chained slices rewrite inner-first; TIME ±
    INTERVAL honors the tighter-binding scale factor; trailing commas
    are legal in IN-lists and VALUES tuples (but NOT call argument
    lists — those stay loud like DuckDB's own Parser Error); unary ~
    before a string-typed cast stays prefix bitwise NOT."""
    _check(engine, duck, (
        "SELECT list_reduce(a, (a, b, i) -> a + b * i) AS r "
        "FROM (SELECT [1,2,3,4] AS a) t"))
    _check(engine, duck, "SELECT ([1,2,3,4,5])[2:5][1:2] AS r")
    _check(engine, duck, "SELECT ([1,2,3,4,5])[2:][1:2:1] AS r")
    _check(engine, duck,
           "SELECT TIME '10:00:00' + INTERVAL 1 HOUR * 2 AS r")
    _check(engine, duck,
           "SELECT TIME '10:00:00' - INTERVAL '30 minutes' * 3 AS r")
    _check(engine, duck, "SELECT 1 AS r WHERE 1 IN (1, 2,)")
    _check(engine, duck,
           "SELECT x FROM (VALUES (1,),(2,)) v(x) ORDER BY x")


def test_review_r8_tiebreak_aggs_stay_loud(engine):
    """arg_max/min_by/mode with in-call ORDER BY break TIES in DuckDB —
    stripping would silently change results, so they refuse loudly."""
    import pytest as _pytest

    with _pytest.raises(Exception):
        engine.sql(
            "SELECT arg_max(v, k ORDER BY v DESC) FROM "
            "(VALUES ('a',1),('b',1)) t(v,k)",
            dialect="duckdb").collect()


def test_r8_function_breadth_batch2(engine, duck):
    """Second r8 sweep: to_hex/from_hex = hex/unhex (incl. 0/-1/odd
    length), date_add(d, INTERVAL) returns TIMESTAMP even for DATE
    inputs, timezone_hour/minute are 0 in the pinned-UTC sessions,
    to_days/to_years family = make_*_interval, list_slice =
    array_slice, regexp_split_to_table explodes the regex split
    [all measured]."""
    _check(engine, duck, (
        "SELECT to_hex(255) AS a, to_hex(0) AS b2, to_hex(-1) AS c, "
        "from_hex('FF') AS d, from_hex('abc') AS e2"))
    _check(engine, duck, (
        "SELECT date_add(DATE '2024-01-31', INTERVAL 1 MONTH) AS a, "
        "date_add(TIMESTAMP '2024-01-31 05:00:00', INTERVAL 1 DAY) "
        "AS b2, date_add(DATE '2024-01-01', to_days(3)) AS c"))
    _check(engine, duck, (
        "SELECT timezone_hour(TIMESTAMP '2024-07-01') AS a, "
        "timezone_minute(TIMESTAMP '2024-07-01') AS b2"))
    _check(engine, duck, (
        "SELECT to_days(3) + DATE '2024-01-01' AS a, "
        "TIMESTAMP '2024-01-01 05:00:00' + to_minutes(30) AS b2, "
        "TIMESTAMP '2024-01-01 00:00:00' + to_milliseconds(1500) AS c"))
    _check(engine, duck, (
        "SELECT list_slice([1,2,3,4], 2, 3) AS a, "
        "list_slice([1,2,3,4], 2, -1) AS b2"))
    _check(engine, duck, (
        "SELECT regexp_split_to_table('a1b22c', '[0-9]+') AS r"))


def test_review_r8_second_pass_pins(engine, duck):
    """Second r8 review pass, each measured: string literals survive the
    TIME fold pass untouched; timezone_hour propagates NULL; wrapped
    subquery ANY operands classify as subqueries; subquery SELECT lists
    accept trailing commas while ORDER BY lists stay loud; bit/power
    operators absorb into the quantified LHS; interval division
    truncates micros; sub-microsecond fractions truncate; decimal
    dispatch sees CAST expressions."""
    _check(engine, duck, "SELECT 'make_time(1, 2, 3)' AS s")
    _check(engine, duck,
           "SELECT timezone_hour(CAST(NULL AS TIMESTAMP)) AS r")
    _check(engine, duck, "SELECT 3 > ANY ((SELECT 2)) AS r")
    _check(engine, duck, "SELECT * FROM (SELECT 1 AS a,) t2")
    _check(engine, duck, (
        "SELECT a ^ 2 > ALL (SELECT 3) AS p, "
        "a & 3 = ANY (SELECT 2) AS q2, "
        "a << 1 > ALL (SELECT 3) AS s FROM (SELECT 6 AS a) t"))
    _check(engine, duck, (
        "SELECT TIME '10:00:00' + INTERVAL 3 MICROSECOND / 2 AS a, "
        "make_time(13, 14, 15.9999995) AS b2, "
        "extract(epoch FROM TIME '13:14:15.9999995') AS c"))
    _check(engine, duck, (
        "WITH t AS (SELECT r_regionkey * 1.17 AS x FROM region) "
        "SELECT CAST(mad(CAST(x AS DECIMAL(6,2))) AS VARCHAR) AS a, "
        "CAST(quantile_cont(CAST(x AS DECIMAL(6,2)), 0.25) AS VARCHAR) "
        "AS b2 FROM t"))


def test_review_r8_mode_order_by_stays_loud(engine):
    """mode(x ORDER BY …) breaks ties in DuckDB — must refuse, not
    strip (second review pass)."""
    import pytest as _pytest

    with _pytest.raises(Exception):
        engine.sql("SELECT mode(x ORDER BY x DESC) FROM "
                   "(VALUES (1),(1),(2),(2)) t(x)",
                   dialect="duckdb").collect()


def test_r8_json_aggregates_and_session_identifiers(engine, duck):
    """Third r8 sweep: json_group_array keeps NULL elements and returns
    NULL on empty groups (to_json over the NULL-keeping array_agg);
    json_group_object keeps null values; current_schema/database/
    catalog fold to DuckDB's fresh-session answers; json_merge_patch
    follows RFC 7386 (null removes, objects recurse); jaccard is
    character-set Jaccard; md5_number_lower/upper are the
    little-endian digest halves [all measured]."""
    _check(engine, duck, (
        "SELECT current_schema() AS a, current_database() AS b2, "
        "current_catalog() AS c"))
    _check(engine, duck, (
        "SELECT json_group_array(x) AS r "
        "FROM (VALUES (1),(NULL),(2)) v(x)"))
    _check(engine, duck, (
        "SELECT json_group_array(x) AS r "
        "FROM (SELECT 1 AS x WHERE false) v"))
    _check(engine, duck, (
        "SELECT json_group_object(k, v) AS r "
        "FROM (VALUES ('a',1),('b',NULL)) v(k,v)"))
    _check(engine, duck, (
        "SELECT json_merge_patch('{\"a\":{\"x\":1},\"b\":2}', "
        "'{\"a\":{\"y\":3},\"b\":null}') AS r, "
        "jaccard('abc', 'abd') AS j, "
        "CAST(md5_number_lower('abc') AS VARCHAR) AS lo, "
        "CAST(md5_number_upper('abc') AS VARCHAR) AS hi"))


def test_review_r8_third_pass_pins(engine, duck):
    """Third review pass: interval-literal micros round away float
    artifacts ('8.2 seconds' folds exact); jaccard is BYTE-set Jaccard
    (2-byte é); json_merge_patch emits raw UTF-8, DuckDB's key order
    (unpatched target keys first, then patch order) and is variadic;
    compound/boolean expressions don't hijack the decimal dispatch;
    provable non-timestamp timezone_hour operands and json_group_array
    modifiers stay loud."""
    _check(engine, duck, (
        "SELECT TIME '10:00:00' + INTERVAL '8.2 seconds' AS a, "
        "TIME '10:00:00' + INTERVAL '8.2 seconds' * 2 AS b2, "
        "TIME '10:00:00' + INTERVAL '1.000001 seconds' AS c"))
    _check(engine, duck, "SELECT jaccard('éa', 'a') AS r")
    _check(engine, duck, (
        "SELECT json_merge_patch('{\"a\":\"é\"}', '{\"b\":1}') AS a, "
        "json_merge_patch('{\"a\":1,\"z\":0}', '{\"m\":2,\"a\":5}') "
        "AS b2, "
        "json_merge_patch('{\"a\":1}', '{\"b\":2}', '{\"c\":3}') AS c"))
    from duckdb_read_spark.dialect import _decimal_kind

    assert _decimal_kind(
        "CAST(a AS DECIMAL(8,2)) + CAST(b AS DECIMAL(4,0))",
        None) is None
    assert _decimal_kind("a::DECIMAL(8,2) = b::DECIMAL(8,2)",
                         None) is None
    assert _decimal_kind("x::DECIMAL(8,2)", None) == (8, 2)


def test_gcd_lcm_long_aliases(engine, duck):
    """greatest_common_divisor/least_common_multiple are DuckDB's
    long-form aliases of gcd/lcm (final r8 sweep; ln/exp/cbrt 1-ulp
    libm differences and the date_trunc-on-DATE / age() rendering
    divergences in the same sweep are documented engine-numeric /
    §2.4 classes)."""
    _check(engine, duck, (
        "SELECT greatest_common_divisor(12, 18) AS a, "
        "least_common_multiple(4, 6) AS b2"))


# --- round 9: quoted identifiers, //, decimal-cast trunc, json trio,
#     dollar strings, loud-gap batch ---------------------------------------


def test_double_quoted_identifiers(engine, duck):
    """The r8 verdict's headline silent divergence: double-quoted
    names are IDENTIFIERS in DuckDB, string literals in Spark —
    'SELECT "n"' returned the constant. All four positions (select
    list, qualified, GROUP BY, ORDER BY), spaced/escaped aliases, the
    case-insensitive resolution pin, and a quoted FUNCTION name."""
    _check(engine, duck, (
        'SELECT "x" AS a FROM (SELECT 1 AS x, 2 AS y) t ORDER BY "x"'))
    _check(engine, duck, (
        'SELECT "X" AS a, t."y" AS b2 FROM (SELECT 1 AS x, 2 AS y) '
        '"t" GROUP BY "x", "y" ORDER BY "a"'))
    _check(engine, duck, (
        'SELECT x AS "my alias" FROM (SELECT 1 AS x) ORDER BY '
        '"my alias"'))
    _check(engine, duck, (
        'SELECT x AS "a""b" FROM (SELECT 1 AS x) t ORDER BY "a""b"'))
    _check(engine, duck, 'SELECT "upper"(\'ab\') AS u')
    _check(engine, duck,
           'SELECT x AS "from" FROM (SELECT 1 AS x) ORDER BY "from"')
    # a registered table's column and a reserved-word name, both
    # normalized by Engine.sql alone (to_spark_sql leaves "…" as is)
    _check(engine, duck, 'SELECT "n_name" FROM nation ORDER BY "n_name"')
    _check(engine, duck, (
        'SELECT "select" FROM (SELECT n_name AS "select" FROM nation) '
        'ORDER BY 1'))


def test_floordiv_operator(engine, duck):
    """`//` [measured]: int//int is TRUNCATING integer division
    (-7//2 = -3) with NULL on zero; any DOUBLE/DECIMAL operand makes
    it PLAIN division (7.0//2 = 3.5); left-assoc chains; binds at
    *-precedence."""
    _check(engine, duck, (
        "SELECT 7 // 2 AS a, -7 // 2 AS b2, 7 // -2 AS c, "
        "7 // 0 AS d, NULL // 2 AS e2, 100 // 3 // 3 AS f"))
    _check(engine, duck, (
        "SELECT 7.0 // 2 AS a, 7 // 2.0 AS b2, 1e3 // 7 AS c, "
        "2 * 3 // 4 AS d, 7 // 2 * 3 AS e2, 10 - 7 // 2 AS f"))
    _check(engine, duck, (
        "SELECT l_orderkey // 10 AS a, l_quantity // 2.0 AS b2 "
        "FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 3"))


def test_decimal_cast_truncation(engine, duck):
    """CAST(decimal AS DECIMAL(p,s)) downscale TRUNCATES toward zero
    in DuckDB [measured: 1.26→1.2, -1.26→-1.2, 0.999→0]; DOUBLE and
    VARCHAR sources ROUND in both engines; upscale is exact."""
    _check(engine, duck, (
        "SELECT CAST(CAST(1.26 AS DECIMAL(6,1)) AS VARCHAR) AS a, "
        "CAST(CAST(-1.26 AS DECIMAL(6,1)) AS VARCHAR) AS b2, "
        "CAST(CAST(0.999 AS DECIMAL(6,0)) AS VARCHAR) AS c, "
        "CAST(1.29::DECIMAL(6,1) AS VARCHAR) AS d, "
        "CAST(CAST('1.26' AS DECIMAL(6,1)) AS VARCHAR) AS e2, "
        "CAST(CAST(1.26::DOUBLE AS DECIMAL(6,1)) AS VARCHAR) AS f, "
        "CAST(CAST(1.2 AS DECIMAL(6,3)) AS VARCHAR) AS g"))


def test_dollar_quoted_strings(engine, duck):
    """$$…$$ / $tag$…$tag$ are RAW string literals [measured: no
    escape processing, inner $$ survives under a tag]."""
    _check(engine, duck, (
        "SELECT $$it's raw \\n$$ AS a, $tag$has $$ inside$tag$ AS b2, "
        "$$$$ AS c, len($$x'y$$) AS d, "
        "regexp_extract('a1b22', $$\\d+$$, 0) AS e2"))


def test_json_introspection_trio(engine, duck):
    """json_extract keeps quotes and re-renders numbers through
    yyjson's double rules [measured: 2.50→2.5, 1e2→100.0, 1e30→1e30,
    -1e-5→-0.00001, 1e21→1e21]; json-null and missing → SQL NULL;
    bare-key/pointer/int paths; json_type's vocabulary incl. the
    UBIGINT/BIGINT sign split."""
    _check(engine, duck, (
        "SELECT json_extract('{\"a\":{\"b\":\"x\"}}', '$.a.b') AS a, "
        "json_extract('{\"a\":[1,2]}', '$.a') AS b2, "
        "json_extract('{\"a\":1}', 'a') AS c, "
        "json_extract('[1,2,3]', 0) AS d, "
        "json_extract('{\"a\":{\"b\":1}}', '/a/b') AS e2, "
        "json_extract('[1,2,3]', '$[#-1]') AS f, "
        "json_extract('{\"a\":1}', '$.b') AS g"))
    _check(engine, duck, (
        "SELECT json_extract('{\"a\": 2.50}', '$.a') AS a, "
        "json_extract('{\"a\": 1e2}', '$.a') AS b2, "
        "json_extract('{\"a\": 1e30}', '$.a') AS c, "
        "json_extract('{\"a\": -1e-5}', '$.a') AS d, "
        "json_extract('{\"a\": 1e21}', '$.a') AS e2"))
    _check(engine, duck, (
        "SELECT json_type('{\"a\":1}') AS a, json_type('[1,2]') AS b2, "
        "json_type('1') AS c, json_type('-3') AS d, "
        "json_type('1.5') AS e2, json_type('\"s\"') AS f, "
        "json_type('true') AS g, json_type('null') AS h, "
        "json_type('{\"a\":null}', '$.a') AS i2, "
        "json_type('{\"a\":1}', '$.b') AS j"))
    _check(engine, duck, (
        "SELECT json_extract_string('{\"a\":2.5}', 'a') AS a, "
        "json_extract_path('{\"a\":{\"b\":2}}', '$.a.b') AS b2, "
        "json_extract_path_text('{\"a\":\"x\"}', 'a') AS c"))
    # chain-final -> now keeps quotes; lambda arrows stay lambdas
    _check(engine, duck, (
        "SELECT '{\"a\":{\"b\":\"x\"}}' -> 'a' -> 'b' AS a, "
        "CAST(list_transform([1,2], x -> 'a') AS VARCHAR) AS b2"))


def test_pg_operator_spellings(engine, duck):
    """'@' prefix abs and '!' postfix factorial [measured]: both bind
    looser than arithmetic, tighter than comparison; factorial of
    negatives is 1, NULL→NULL, 21!+ needs >64-bit (DECIMAL(38,0)
    carrier here, HUGEINT in DuckDB)."""
    _check(engine, duck, (
        "SELECT CAST(5! AS VARCHAR) AS a, CAST(0! AS VARCHAR) AS b2, "
        "CAST(-3! AS VARCHAR) AS c, CAST(21! AS VARCHAR) AS d, "
        "CAST(2 + 3 * 2! AS VARCHAR) AS e2, CAST(NULL! AS VARCHAR) "
        "AS f, 2 < 3! AS g"))
    _check(engine, duck, (
        "SELECT @(-5) AS a, @ 5.5 AS b2, @ 2 - 3 AS c, "
        "1 + @ 2 - 5 AS d, @ 2 = 2 AS e2, @ @ -3 AS f"))


def test_loud_gap_batch_r9(engine, duck):
    """make_timestamp(micros), EXTRACT(isoyear/yearweek), list-form
    date_part, parse_* path scalars [all measured]."""
    _check(engine, duck, (
        "SELECT make_timestamp(1612325106123456) AS a, "
        "make_timestamp(0) AS b2, make_timestamp(-1) AS c"))
    _check(engine, duck, (
        "SELECT EXTRACT(isoyear FROM DATE '2021-01-01') AS a, "
        "EXTRACT(isoyear FROM DATE '2016-01-04') AS b2, "
        "EXTRACT(yearweek FROM DATE '2021-01-03') AS c, "
        "date_part('isoyear', TIMESTAMP '2021-06-15 10:00:00') AS d"))
    _check(engine, duck, (
        "SELECT date_part(['year','month','day'], DATE '2021-05-04') "
        "AS a, date_part(['epoch','hour'], "
        "TIMESTAMP '2021-05-04 10:11:12') AS b2"))
    _check(engine, duck, (
        "SELECT parse_filename('/a/b/c.txt') AS a, "
        "parse_filename('a.tar.gz', true) AS b2, "
        "parse_filename('.hidden', true) AS c, "
        "parse_dirname('/a/b/c.txt') AS d, parse_dirname('c.txt') "
        "AS e2, parse_dirpath('/c.txt') AS f, "
        "parse_dirpath('a//b/c') AS g, "
        "CAST(parse_path('/a/b/c.txt') AS VARCHAR) AS h, "
        "CAST(parse_path('C:\\u\\f.txt', 'backslash') AS VARCHAR) "
        "AS i2"))


def test_limit_percent(engine, duck):
    """LIMIT n% [measured: floor(count·n/100) rows, percent of the
    PRE-offset count, >100/<0 errors]."""
    _check(engine, duck, (
        "SELECT l_orderkey, l_linenumber FROM lineitem "
        "ORDER BY l_orderkey, l_linenumber LIMIT 1%"))
    _check(engine, duck, (
        "SELECT * FROM (SELECT l_orderkey FROM lineitem "
        "ORDER BY l_orderkey LIMIT 10) ORDER BY l_orderkey LIMIT 25%"))
    _check(engine, duck, (
        "SELECT r_regionkey FROM region ORDER BY r_regionkey "
        "LIMIT 40% OFFSET 1"))


def test_array_varchar_cast_null_elements(engine, duck):
    """CAST(<array> AS VARCHAR) renders NULL elements uppercase in
    DuckDB ('[1, NULL, 3]') vs Spark's lowercase — rewritten for
    provably-array operands."""
    _check(engine, duck, (
        "SELECT CAST([1, NULL, 3] AS VARCHAR) AS a, "
        "CAST(['a', NULL] AS VARCHAR) AS b2, "
        "CAST(list_sort([2, NULL, 1]) AS VARCHAR) AS c"))


def test_collate_clauses(engine, duck):
    """COLLATE [measured]: comparisons normalize BOTH sides whichever
    side carries the clause; dotted chains compose; IN lists and
    ORDER BY keys collate; DISTINCT/aggregates are a NO-OP (count
    DISTINCT of 'a'/'A' under NOCASE stays 2)."""
    _check(engine, duck, (
        "SELECT 'b' COLLATE NOCASE = 'B' AS a, "
        "'b' = 'B' COLLATE NOCASE AS b2, "
        "'É' COLLATE NOACCENT = 'E' AS c, "
        "'É' COLLATE NOACCENT.NOCASE = 'e' AS d, "
        "'b' COLLATE NOCASE < 'A' AS e2, "
        "'b' COLLATE NOCASE IN ('B', 'c') AS f"))
    _check(engine, duck, (
        "SELECT x FROM (VALUES ('b'),('A')) t(x) "
        "ORDER BY x COLLATE NOCASE"))
    _check(engine, duck, (
        "SELECT count(DISTINCT x COLLATE NOCASE) AS a, "
        "max(x COLLATE NOCASE) AS b2 "
        "FROM (VALUES ('a'),('A')) t(x)"))


def test_union_by_name_in_subquery(engine, duck):
    """UNION [ALL] BY NAME below the top level (r8 refusal lifted):
    the inner union materializes as a temp view and the outer text
    re-runs."""
    _check(engine, duck, (
        "SELECT * FROM (SELECT 1 AS a, 2 AS b UNION ALL BY NAME "
        "SELECT 3 AS b, 4 AS a) ORDER BY a"))
    _check(engine, duck, (
        "SELECT t.a + 1 AS x FROM (SELECT 1 AS a UNION BY NAME "
        "SELECT 1 AS a) t ORDER BY x"))


def test_documented_over_acceptance_r9(engine, duck):
    """§2.4 documented divergences (VERDICT r8 'What's missing' #10):
    text DuckDB REJECTS that the engine accepts — pinned so drift in
    either engine surfaces loudly. octet_length on a bare string
    literal is a DuckDB binder ambiguity (BLOB works in both);
    CAST('YES' AS BOOLEAN) is a DuckDB conversion error (Spark
    accepts y/yes/t forms); '5' + 1 is a DuckDB binder error (Spark
    ANSI coerces the numeric string)."""
    import pytest as _pytest

    for q in ("SELECT octet_length('lit')",
              "SELECT CAST('YES' AS BOOLEAN)",
              "SELECT '5' + 1"):
        with _pytest.raises(Exception):
            duck.execute(q).fetchall()
        engine.sql(q, dialect="duckdb").collect()  # over-accepts (doc'd)
    _check(engine, duck, "SELECT octet_length(encode('abc')) AS a")


def test_null_safe_division(engine, duck):
    """Division/modulo by zero is NULL for EVERY numeric type in
    DuckDB [measured: 7/0, 7.0/0, DOUBLE/DOUBLE, 7%0, 7.5%0 all
    NULL]; source-level / and % compile to try_divide/try_mod."""
    _check(engine, duck, (
        "SELECT 7/0 AS a, 7.0/0 AS b2, 1.0::DOUBLE/0.0::DOUBLE AS c, "
        "7%0 AS d, 7.5%0 AS e2, NULL/2 AS f"))
    _check(engine, duck, (
        "SELECT 7/2 AS a, 10 - 7 / 2 AS b2, 2 * 3 / 4 AS c, "
        "100 / 5 / 2 AS d, -7 / 2 AS e2, 7 % 3 AS f, -7 % 3 AS g"))
    _check(engine, duck, (
        "SELECT l_orderkey, sum(l_quantity) / count(*) AS r "
        "FROM lineitem GROUP BY l_orderkey "
        "ORDER BY l_orderkey LIMIT 3"))


def test_named_arithmetic_and_like_escape(engine, duck):
    """divide() is the `//` semantics (trunc int division, plain on
    doubles); mod(x,0) is NULL; like_escape family maps onto
    LIKE … ESCAPE [measured]."""
    _check(engine, duck, (
        "SELECT divide(7,2) AS a, divide(-7,2) AS b2, "
        "divide(7.0,2) AS c, multiply(3,4) AS d, add(1,2) AS e2, "
        "subtract(5,3) AS f, mod(7,0) AS g, mod(-7,3) AS h"))
    _check(engine, duck, (
        "SELECT like_escape('a_c', 'a$_c', '$') AS a, "
        "not_like_escape('abc', 'a$_c', '$') AS b2, "
        "ilike_escape('A_C', 'a$_c', '$') AS c, "
        "not_ilike_escape('AxC', 'a$_c', '$') AS d"))


def test_age_postgres_borrow_and_date_sub_calendar(engine, duck):
    """age() borrows a negative day difference from the SECOND
    argument's month (Postgres timestamp_age) — relativedelta's
    anchor gave 15 where DuckDB says 17 [measured r9]; date_sub
    gains calendar parts (complete clamped months/years, truncation
    toward zero on reversed intervals)."""
    _check(engine, duck, (
        "SELECT CAST(age(TIMESTAMP '2024-03-01 12:00:00', "
        "TIMESTAMP '2023-01-15 06:00:00') AS VARCHAR) AS a, "
        "CAST(age(TIMESTAMP '2023-01-15 06:00:00', "
        "TIMESTAMP '2024-03-01 12:00:00') AS VARCHAR) AS b2, "
        "CAST(age(TIMESTAMP '2024-03-30 00:00:00', "
        "TIMESTAMP '2024-01-31 00:00:00') AS VARCHAR) AS c, "
        "CAST(age(TIMESTAMP '2024-03-01 00:00:00', "
        "TIMESTAMP '2024-02-29 10:00:00') AS VARCHAR) AS d"))
    _check(engine, duck, (
        "SELECT date_sub('month', DATE '2024-01-31', "
        "DATE '2024-02-29') AS a, "
        "date_sub('month', DATE '2024-03-01', DATE '2024-01-31') "
        "AS b2, date_sub('year', DATE '2020-06-01', "
        "DATE '2024-05-31') AS c, date_sub('quarter', "
        "DATE '2024-01-15', DATE '2024-08-20') AS d"))


def test_encode_decode_one_arg(engine, duck):
    """1-arg encode/decode are UTF-8 VARCHAR↔BLOB [measured]."""
    _check(engine, duck, (
        "SELECT octet_length(encode('abc')) AS a, "
        "decode(encode('héllo')) AS b2, "
        "encode('abc') = 'abc'::BLOB AS c"))


def test_temporal_series_and_has_family(engine, duck):
    """range/generate_series over DATE/TIMESTAMP with INTERVAL steps
    [measured: TIMESTAMP[] results, range exclusive / series
    inclusive, crossed bounds empty]; array_has* aliases with
    null-needle/element semantics; map_concat subscripts; dim-1
    array_length."""
    _check(engine, duck, (
        "SELECT CAST(range(DATE '2024-01-01', DATE '2024-01-05', "
        "INTERVAL 1 DAY) AS VARCHAR) AS a, "
        "CAST(generate_series(DATE '2024-01-01', DATE '2024-01-05', "
        "INTERVAL 2 DAY) AS VARCHAR) AS b2, "
        "CAST(range(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-02', "
        "INTERVAL 12 HOUR) AS VARCHAR) AS c, "
        "CAST(range(DATE '2024-01-05', DATE '2024-01-01', "
        "- INTERVAL 2 DAY) AS VARCHAR) AS d, "
        "CAST(range(DATE '2024-01-05', DATE '2024-01-01', "
        "INTERVAL 1 DAY) AS VARCHAR) AS e2, "
        "CAST(generate_series(TIMESTAMP '2024-03-01', "
        "TIMESTAMP '2024-06-01', INTERVAL 1 MONTH) AS VARCHAR) AS f"))
    _check(engine, duck, (
        "SELECT array_has([1,2], 2) AS a, "
        "array_has([1,NULL], NULL) AS b2, "
        "array_has_any([1,NULL],[NULL]) AS c, "
        "array_has_any([1],[1,9]) AS d, "
        "array_has_all([1,2,NULL],[NULL,1]) AS e2, "
        "CAST(map_concat(map(['a'],[1]), map(['b'],[2]))['b'] "
        "AS VARCHAR) AS f, array_length([1,2], 1) AS g"))


def test_review_r9_fixes(engine, duck):
    """r9 review pass: year-month interval series COMPOUND (prev +
    step with clamping — Spark's sequence re-anchors and diverged on
    month-end starts); NULL interval steps → NULL; compound opposite
    operands under COLLATE; multi-param constant-string lambdas stay
    lambdas; json_extract_string list fan-out; parse_dirname/dirpath
    root/trailing-separator pins; nested-array NULL rendering."""
    _check(engine, duck, (
        "SELECT CAST(range(DATE '2024-01-31', DATE '2024-06-30', "
        "INTERVAL 1 MONTH) AS VARCHAR) AS a, "
        "CAST(generate_series(DATE '2024-01-31', DATE '2024-06-30', "
        "INTERVAL 2 MONTH) AS VARCHAR) AS b2, "
        "CAST(range(DATE '2025-03-31', DATE '2024-06-30', "
        "- INTERVAL 1 MONTH) AS VARCHAR) AS c, "
        "generate_series(DATE '2024-01-01', DATE '2024-01-05', "
        "to_days(CAST(NULL AS INT))) IS NULL AS d"))
    _check(engine, duck, (
        "SELECT 'AB' COLLATE NOCASE = 'a' || 'B' AS a, "
        "'A' || 'b' COLLATE NOCASE = 'ab' AS b2, "
        "'x' || 'Y' = 'XY' COLLATE NOCASE AS c"))
    _check(engine, duck, (
        "SELECT CAST(list_transform([1,2], (x, i) -> 'c') AS VARCHAR) "
        "AS a, "
        "CAST(json_extract_string('{\"a\":1,\"b\":\"x\"}', "
        "['$.a','$.b','$.c']) AS VARCHAR) AS b2, "
        "CAST([[1,NULL],[2]] AS VARCHAR) AS c"))
    _check(engine, duck, (
        "SELECT parse_dirname('trailing/') AS a, parse_dirname('/') "
        "AS b2, parse_dirpath('/') AS c, parse_dirpath('trailing/') "
        "AS d, parse_dirpath('a//') AS e2, parse_dirname('//') AS f, "
        "parse_dirpath('/a/') AS g"))


def test_r9b_case_mapping_duck_semantics(engine, duck):
    """DuckDB upper/lower are per-codepoint (utf8proc SIMPLE maps); the
    JVM applies FULL maps. Measured divergences: ß→ẞ (not SS), ligature
    ﬁ keeps itself (not FI), final sigma 'ΑΣ'→'ασ' (not 'ας'),
    'İ'→'i' (not i̇). Routed through the __duck_upper__/__duck_lower__
    translate sandwiches (pure JVM)."""
    _check(engine, duck, (
        "SELECT upper('straße') AS a, lower('STRAẞE') AS b2, "
        "upper('ﬁle') AS c, lower('ΑΣ') AS d, lower('İstanbul') AS e2, "
        "ucase('ßx') AS f, lcase('AΣB') AS g, upper(NULL) AS h, "
        "lower('') AS i2, upper('hello World 123') AS j"))
    _check(engine, duck,
           "SELECT upper(n_name) AS a FROM nation ORDER BY a LIMIT 3")


def test_r9b_md5_number_exact(engine, duck):
    """md5_number_lower/upper are UBIGINT-exact — the oracle canon must
    not round them through float (r9: 8250560606382298838 came back as
    8.2505…e18 and silently mismatched)."""
    _check(engine, duck, (
        "SELECT md5_number_lower('abc') AS a, "
        "md5_number_upper('abc') AS b2, md5_number_lower(NULL) AS c"))


def test_r9b_interval_hms_and_division(engine, duck):
    """INTERVAL 'H:M:S[.f]' time-of-day strings ('100:00:00' = 100
    hours, leading '-' negates the whole, fraction truncates at 6
    digits) and interval division: DuckDB divides (months, days,
    micros) SEPARATELY, each truncating toward zero — '1 day'/2 = 0,
    '3 days'/2 = 1 day, '90 seconds'/4 = 22.5 s [all measured r9]."""
    _check(engine, duck, (
        "SELECT INTERVAL '1:02:03' AS a, INTERVAL '100:00:00' AS b2, "
        "INTERVAL '-1:02:03' AS c, INTERVAL '1:02:03.1234567' AS d"))
    _check(engine, duck, (
        "SELECT INTERVAL '1 day'/2 AS a, INTERVAL '3 days'/2 AS b2, "
        "INTERVAL '90 seconds'/4 AS z, "
        "INTERVAL '3 days'/-2 AS d, INTERVAL '1 day'/2/2 AS e2, "
        "INTERVAL '1 month 3 days'/2 AS f, "
        "INTERVAL '1 microsecond'/2 AS g, INTERVAL 6 HOUR / 4 AS h"))
    _check(engine, duck, (
        "SELECT TIMESTAMP '2024-01-01' + INTERVAL '1:02:03' AS a, "
        "TIME '10:00:00' + INTERVAL '1:02:03' AS b2"))


def test_r9b_isfinite_temporal(engine, duck):
    """isfinite/isinf on DATE/TIMESTAMP args: TRUE/FALSE with NULL-in →
    NULL-out (DuckDB's ±infinity dates are unrepresentable here —
    parquet can't store them; 'infinity'::DATE stays loud)."""
    _check(engine, duck, (
        "SELECT isfinite(DATE '2024-01-01') AS a, "
        "isinf(TIMESTAMP '2024-01-01') AS b2, "
        "isfinite(NULL::DATE) AS c, isfinite(1.5) AS d, "
        "isinf('inf'::DOUBLE) AS e2"))
    _check(engine, duck, (
        "SELECT isfinite(o_orderdate) AS f FROM orders "
        "ORDER BY o_orderkey LIMIT 2"))


def test_r9b_struct_extract_flatten_nullconcat(engine, duck):
    """struct_extract string and positional (unnamed row()) forms;
    flatten SKIPS NULL sub-lists and accepts the empty list; a literal
    list || NULL (either side) is NULL."""
    _check(engine, duck, (
        "SELECT struct_extract({'a':1,'b':2}, 'b') AS x, "
        "struct_extract(row(7,8), 1) AS y, "
        "struct_extract(row(7,8), 2) AS z"))
    _check(engine, duck, (
        "SELECT flatten([]) AS a, flatten([[1,2],NULL,[3]]) AS b2, "
        "flatten([[NULL],[1]]) AS c, flatten([[]]::INT[][]) AS d, "
        "flatten(NULL::INT[][]) AS e2, "
        "flatten(flatten([[[1],[2]],[[3]]])) AS f"))
    _check(engine, duck, (
        "SELECT [1] || NULL AS a, NULL || [2] AS b2, 'a' || NULL AS c, "
        "[1,2] || [3] AS d"))
    _check(engine, duck, "SELECT NULL::INT[][] AS a, [[1]]::INT[][] AS b2")


def test_r9b_scalar_subquery_first_row(engine, duck):
    """DuckDB 1.0 scalar subqueries take the FIRST row of a multi-row
    result; with a top-level ORDER BY that row is deterministic and the
    engine folds a LIMIT 1 on. IN-lists, derived tables and
    already-limited subqueries are untouched; UNORDERED multi-row
    scalars stay loud (scan-order-dependent in DuckDB)."""
    _check(engine, duck, (
        "SELECT (SELECT n_name FROM nation ORDER BY n_name) AS a"))
    _check(engine, duck, (
        "SELECT n_regionkey, (SELECT r_name FROM region "
        "ORDER BY r_regionkey) AS rn FROM nation "
        "ORDER BY n_nationkey LIMIT 3"))
    _check(engine, duck, (
        "SELECT r_name FROM region WHERE r_regionkey = "
        "(SELECT n_regionkey FROM nation ORDER BY n_nationkey) "
        "ORDER BY r_name"))
    _check(engine, duck, (
        "SELECT (SELECT n_name FROM nation ORDER BY n_name "
        "LIMIT 1 OFFSET 2) AS a"))


def test_r9b_over_acceptance_pins(engine, duck):
    """Documented over-acceptances (engine accepts, DuckDB 1.0.0
    binder-errors) — pinned so drift in either engine is loud:
    multi-arg count(DISTINCT a, b), least() across string/number,
    INTERVAL ÷ or × a DECIMAL, and a TIMESTAMP literal without
    seconds."""
    import duckdb as _duckdb
    import pytest as _pytest

    for q in ("SELECT count(DISTINCT n_regionkey % 2, n_nationkey % 3) "
              "AS c FROM nation",
              "SELECT least('a', 'b', NULL) AS c",
              "SELECT INTERVAL '1 day' / 2.5 AS c",
              "SELECT INTERVAL '1 day' * 2.5 AS c",
              # DuckDB requires seconds in a TIMESTAMP literal
              "SELECT TIMESTAMP '2024-01-01 23:00' AS c"):
        with _pytest.raises(_duckdb.Error):
            duck.execute(q).fetchall()
        engine.sql(q, dialect="duckdb").collect()  # over-accepts (doc'd)
    # capacity pin (reverse direction): a 39-digit HUGEINT literal is a
    # DuckDB value but exceeds Spark's DECIMAL(38) — loud, not silent
    hug = "SELECT 170141183460469231731687303715884105727 AS c"
    assert duck.execute(hug).fetchall()
    with _pytest.raises(Exception):
        engine.sql(hug, dialect="duckdb").collect()


def test_r9c_multi_unnest_zip(engine, duck):
    """Several unnest() calls in ONE select list ZIP positionally with
    NULL padding in DuckDB [measured: unnest([1,2,3]), unnest([10,20])
    → (1,10),(2,20),(3,NULL)] — two explodes would cross-product
    silently. WHERE stays pre-unnest; ORDER BY/LIMIT post-unnest;
    wrapped expressions apply after unnesting."""
    for q in (
        "SELECT unnest([1,2,3]) AS u, unnest([10,20]) AS v",
        "SELECT unnest([1,2]) AS u, unnest(['a','b','c']) AS v",
        "SELECT unnest([1,2]) AS u, unnest([10,20]) AS v, n_name "
        "FROM nation WHERE n_nationkey = 0",
        "SELECT unnest([1,2]) + 100 AS u, unnest([10,20]) AS v "
        "ORDER BY v DESC",
        "SELECT unnest([1,2,3]) AS u, unnest([10,20]) AS v LIMIT 2",
        "SELECT unnest([]::INT[]) AS u, unnest([1]) AS v",
        "SELECT n_nationkey, unnest([n_nationkey, n_regionkey]) AS u, "
        "unnest([1,2]) AS v FROM nation WHERE n_nationkey < 2 "
        "ORDER BY n_nationkey, u, v",
    ):
        got = sorted(map(repr, spark_rows(engine.sql(q, dialect="duckdb"))))
        want = sorted(map(repr, duckdb_rows(duck, q)))
        assert got == want, q


def test_r9c_mode_first_seen_ties(engine, duck):
    """mode() breaks count ties by FIRST APPEARANCE in scan order
    [measured: (1,3,1,3) → 1, (3,1,3,1) → 3]; Spark's native mode is
    arbitrary on ties."""
    _check(engine, duck, "SELECT mode(n_regionkey) AS m FROM nation")
    _check(engine, duck,
           "SELECT mode(x) AS m FROM (VALUES (1),(3),(1),(3)) t(x)")
    _check(engine, duck,
           "SELECT mode(x) AS m FROM (VALUES ('b'),('a'),('b'),('a')) "
           "t(x)")
    _check(engine, duck,
           "SELECT n_regionkey, mode(n_nationkey % 3) AS m FROM nation "
           "GROUP BY n_regionkey ORDER BY n_regionkey")
    _check(engine, duck, "SELECT mode(x) AS m FROM (SELECT NULL::INT "
                         "AS x)")


def test_r9c_window_refinement_and_format_positional(engine, duck):
    """OVER (w ORDER BY …) refines a named WINDOW; format() positional
    {N} placeholders reorder and reuse; fractional {:.Nf} rounds
    HALF-EVEN on the exact binary value (2.25 → '2.2' but 2.345 →
    '2.35' — it stores above the tie)."""
    _check(engine, duck, (
        "SELECT n_name, rank() OVER (w ORDER BY n_name) AS r "
        "FROM nation WINDOW w AS (PARTITION BY n_regionkey) "
        "ORDER BY n_name LIMIT 5"))
    _check(engine, duck, (
        "SELECT format('{1} {0}', 'a', 'b') AS a, "
        "format('{0}{0}', 'x') AS b2, format('{0:.1f}', 2.25) AS c, "
        "format('{:.2f}', 2.345) AS d, format('{:.1f}', -2.25) AS e2"))


def test_r9c_strftime_week_fields_and_literals(engine, duck):
    """strftime %U/%W/%w/%u/%V/%G compute as expressions (Spark bans
    week-based date_format patterns); %g is MILLISECONDS; literal text
    containing letters pattern-quotes (bare letters were read as Java
    directives — 'ms=%g' printed the minute/second fields)."""
    _check(engine, duck, (
        "SELECT strftime(DATE '2024-02-05', '%j %U %W %w %u %V %G') "
        "AS a, strftime(DATE '2024-01-01', 'w=%U|%W') AS b2, "
        "strftime(DATE '2023-01-01', '%U|%W|%w|%u|%V|%G') AS c, "
        "strftime(DATE '2021-01-01', '%G') AS d, "
        "strftime(DATE '2026-01-01', '%G') AS e2"))
    _check(engine, duck, (
        "SELECT strftime(TIMESTAMP '2024-02-05 13:01:02.345678', "
        "'ms=%g') AS a, strftime(DATE '2024-02-05', 'Year: %Y') AS b2"))


def test_r9c_json_breadth(engine, duck):
    """json_structure (type unification: NULL yields, UBIGINT<BIGINT<
    DOUBLE, objects merge keys, incompatibles → JSON), json_contains
    (exact node match at any depth incl. root), json_transform/
    from_json (COERCING casts, failures → NULL fields), json_quote/
    to_json on ANY value (scalars included), regexp_escape,
    reservoir_quantile."""
    _check(engine, duck, (
        """SELECT json_structure('{"a":1,"b":[1.5]}') AS a, """
        """json_structure('[1,"x"]') AS b2, json_structure('[]') AS c, """
        """json_structure('[{"a":1},{"b":-2}]') AS d, """
        """json_structure('null') AS e2"""))
    _check(engine, duck, (
        """SELECT json_contains('{"a":1}', '1') AS a, """
        """json_contains('[1,2]', '3') AS b2, """
        """json_contains('{"a":{"b":1}}', '{"b":1}') AS c, """
        """json_contains('"x"','"x"') AS d, """
        """json_contains('{"a":1}', '{"a":2}') AS e2"""))
    _check(engine, duck, (
        """SELECT json_transform('{"a":"5","b":"x"}', """
        """'{"a":"INTEGER"}') AS a, """
        """json_transform('[1,2]', '["VARCHAR"]') AS b2, """
        """json_transform('{"a":"x"}','{"a":"INTEGER"}') AS c, """
        """json_transform('{"a":{"b":"7"}}','{"a":{"b":"BIGINT"}}') """
        """AS d, from_json('[1,2]','["INTEGER"]') AS e2"""))
    _check(engine, duck, (
        "SELECT json_quote('abc') AS a, json_quote(5) AS b2, "
        "json_quote([1,2]) AS c, json_quote(NULL) AS d, "
        "to_json('abc') AS e2, to_json({'x':1}) AS f"))
    _check(engine, duck, (
        "SELECT regexp_escape('a.b*c+[]') AS a, regexp_escape('a b') "
        "AS b2, reservoir_quantile(n_nationkey, 0.5, 100) AS c "
        "FROM nation"))


def test_r9d_at_time_zone_and_list_folds(engine, duck):
    """AT TIME ZONE operator (directional like timezone()); generic
    list_aggregate function-name dispatch (NULL elements skip,
    string_agg default ','); list_median (DOUBLE, NULLs skip, empty →
    NULL); list_any_value (first non-NULL); round_even ≡ bround on
    every measured probe."""
    _check(engine, duck, (
        "SELECT TIMESTAMP '2024-06-01 12:00:00' AT TIME ZONE "
        "'America/New_York' AS a, TIMESTAMPTZ '2024-06-01 12:00:00+00' "
        "AT TIME ZONE 'America/New_York' AS b2"))
    _check(engine, duck, (
        "SELECT list_aggregate([1,5,3], 'max') AS a, "
        "list_aggregate([1,NULL,3], 'sum') AS b2, "
        "list_aggregate(['a',NULL,'b'], 'string_agg', '-') AS c, "
        "list_aggregate(['a','b'], 'string_agg') AS d, "
        "list_aggregate([1,2], 'avg') AS e2"))
    _check(engine, duck, (
        "SELECT list_median([1,2,3]) AS a, list_median([1,2,3,4]) AS "
        "b2, list_median([NULL,1,2]) AS c, list_median([]::INT[]) AS d,"
        " list_any_value([NULL, 3, 5]) AS e2, "
        "list_any_value([]::INT[]) AS f"))
    _check(engine, duck, (
        "SELECT round_even(2.5, 0) AS a, round_even(3.5, 0) AS b2, "
        "round_even(2.345, 2) AS c, round_even(2.675::DOUBLE, 2) AS d, "
        "round_even(-2.5, 0) AS e2"))


def test_r9d_struct_varchar_render(engine, duck):
    """Struct-literal → VARCHAR casts render DuckDB-style WITH keys
    ({'a': 1}; bare unescaped values, NULL uppercase, unnamed row()
    parenthesized) — Spark's CAST drops the keys. Column struct casts
    keep Spark's render (type-undetectable; documented). list_distinct
    ORDER is engine-internal hash order on both sides — compare
    through list_sort."""
    _check(engine, duck, (
        "SELECT struct_pack(a := 1)::VARCHAR AS a, "
        "{'x': [1,2]}::VARCHAR AS b2, row(1,2)::VARCHAR AS c"))
    _check(engine, duck, (
        "SELECT CAST({'s':'abc','d':DATE '2024-01-01','n':NULL,"
        "'f':1.5} AS VARCHAR) AS a, {'a': {'b': 1}}::VARCHAR AS b2, "
        "CAST({'v': true} AS VARCHAR) AS c"))
    _check(engine, duck, (
        "SELECT CAST(list_sort(list_distinct([2,2,NULL,1])) "
        "AS VARCHAR) AS a"))


def test_r9d_over_acceptance_additions(engine, duck):
    """overlay() and nvl2() don't exist in DuckDB 1.0 (engine
    over-accepts both — pinned); bare table-name-as-struct selection
    (SELECT t FROM t) stays loud."""
    import duckdb as _duckdb
    import pytest as _pytest

    for q in ("SELECT overlay('hello' PLACING 'XX' FROM 2) AS c",
              "SELECT nvl2(NULL, 'x', 'y') AS c"):
        with _pytest.raises(_duckdb.Error):
            duck.execute(q).fetchall()
        engine.sql(q, dialect="duckdb").collect()  # over-accepts (doc'd)


def test_r9e_alias_in_where_and_numeric_strings(engine, duck):
    """Select-list aliases resolve in WHERE/HAVING like DuckDB (a real
    column WINS on conflict — upper(n_name) AS n_name filters on the
    COLUMN; chained aliases expand); string→number casts accept hex
    '0x1A' (unsigned only — '-0x10' errors on both), binary '0b101'
    and digit-separator underscores [all measured r9]."""
    _check(engine, duck, (
        "SELECT n_nationkey + 1 AS nk FROM nation WHERE nk > 5 "
        "ORDER BY nk LIMIT 2"))
    _check(engine, duck, (
        "SELECT n_nationkey + 1 AS nk, nk * 2 AS nk2 FROM nation "
        "WHERE nk2 > 40 ORDER BY nk LIMIT 2"))
    _check(engine, duck, (
        "SELECT count(*) AS c FROM nation GROUP BY n_regionkey "
        "HAVING c > 4 ORDER BY c LIMIT 2"))
    _check(engine, duck, (
        "SELECT upper(n_name) AS n_name FROM nation "
        "WHERE n_name LIKE 'A%' ORDER BY 1 LIMIT 2"))
    _check(engine, duck, (
        "SELECT '0x1A'::INTEGER AS a, '0X0f'::INT AS b2, "
        "'0b101'::INT AS c, '1_000_000'::INT AS d, "
        "'1_00.5_0'::DOUBLE AS e2, CAST('0x10' AS BIGINT) AS f"))
    import duckdb as _duckdb
    import pytest as _pytest
    with _pytest.raises(_duckdb.Error):
        duck.execute("SELECT '-0x10'::INT").fetchall()
    with _pytest.raises(Exception):
        engine.sql("SELECT '-0x10'::INT", dialect="duckdb").collect()


def test_r9f_typeof_metadata_columns_lambda_time_bucket(engine, duck):
    """typeof() renders DuckDB type spellings (INTEGER/VARCHAR/
    INTEGER[]/STRUCT(a INTEGER)/'"NULL"'/INTERVAL, DECIMAL keeps
    (p,s)); version() is the compat surface 'v1.0.0'; setseed → NULL
    (seeding can't carry; random() never cross-compares);
    txid_current typed BIGINT (value engine-specific, like hash());
    COLUMNS(c -> c [NOT] LIKE 'pat') lambda star; time_bucket 3-arg
    origin-date and offset-interval forms."""
    _check(engine, duck, (
        "SELECT typeof(1) AS a, typeof(1.5) AS b2, typeof('x') AS c, "
        "typeof([1]) AS d, typeof(DATE '2024-01-01') AS e2, "
        "typeof(1::BIGINT) AS f, typeof(NULL) AS g, "
        "typeof({'a':1}) AS h, typeof(MAP{'k':1}) AS i2, "
        "typeof(INTERVAL 1 DAY) AS j"))
    _check(engine, duck, (
        "SELECT version() AS v, setseed(0.25) IS NULL AS s, "
        "txid_current() > 0 AS t"))
    _check(engine, duck, (
        "SELECT COLUMNS(c -> c LIKE 'n_n%') FROM nation "
        "ORDER BY n_nationkey LIMIT 2"))
    _check(engine, duck, (
        "SELECT min(COLUMNS(c -> c NOT LIKE '%comment%')) FROM nation"))
    _check(engine, duck, (
        "SELECT time_bucket(INTERVAL 7 DAY, DATE '2024-03-05', "
        "DATE '2024-01-01') AS a, time_bucket(INTERVAL 15 MINUTE, "
        "TIMESTAMP '2024-01-01 10:07:33', INTERVAL 5 MINUTE) AS b2, "
        "time_bucket(INTERVAL 7 DAY, DATE '2024-03-05', "
        "INTERVAL 2 DAY) AS c"))
    _check(engine, duck, (
        "SELECT time_bucket(INTERVAL 1 DAY, o_orderdate, "
        "DATE '2024-01-02') AS a, count(*) AS c FROM orders "
        "GROUP BY 1 ORDER BY 1 LIMIT 3"))


def test_r9g_strptime_list_slice_step_regexp_named(engine, duck):
    """strptime/try_strptime FORMAT-LIST forms (try in order; strict
    errors when none match, try_ → NULL); 4-arg list_slice step form
    (positive and negative steps); regexp_extract NAME-LIST → struct
    of capture groups ('' on no-match); alias() returns the OUTPUT
    column name (a trailing AS rebinds it)."""
    _check(engine, duck, (
        "SELECT strptime('2024-01-02', ['%Y-%m-%d', '%d/%m/%Y']) AS a, "
        "strptime('02/03/2024', ['%Y-%m-%d', '%d/%m/%Y']) AS b2, "
        "try_strptime('xx', ['%Y-%m-%d', '%d/%m/%Y']) AS c"))
    _check(engine, duck, (
        "SELECT list_slice([1,2,3,4,5], 1, 5, 2) AS a, "
        "list_slice([1,2,3,4,5], 5, 1, -2) AS b2"))
    _check(engine, duck, (
        "SELECT regexp_extract('2024-01-02', '(\\d+)-(\\d+)', "
        "['y', 'm']) AS a, "
        "regexp_extract('abc', '(x)(y)', ['a','b']) AS b2"))
    _check(engine, duck, (
        "SELECT alias(n_nationkey) AS a, alias(n_name) FROM nation "
        "LIMIT 1"))
    _check(engine, duck, (
        "SELECT trim(LEADING 'x' FROM 'xxabcxx') AS a, "
        "trim(TRAILING 'x' FROM 'xxabcxx') AS b2, "
        "trim(BOTH FROM '  a  ') AS c"))


def test_r9h_positional_join_sql_and_lateral_unnest(engine, duck):
    """The SQL POSITIONAL JOIN form routes onto the zero-shuffle
    positional operator (before r9 Spark parsed POSITIONAL as an alias
    and silently CROSS-joined); FROM-position lateral unnest with an
    AS alias(col) list compiles to LATERAL VIEW explode."""
    for q in (
        "SELECT r_name, n_name FROM region POSITIONAL JOIN nation "
        "ORDER BY r_name NULLS LAST",
        "SELECT count(*) AS c FROM nation POSITIONAL JOIN region",
        "SELECT n_name, u FROM nation, unnest([n_nationkey, "
        "n_regionkey]) AS t(u) WHERE n_nationkey < 2 ORDER BY n_name, u",
        "SELECT u FROM (SELECT 1 AS n) CROSS JOIN unnest([1,2]) AS "
        "t(u) ORDER BY u",
    ):
        _check(engine, duck, q)
    # * RENAME is an ENGINE EXTENSION — DuckDB 1.0 parse-errors (pinned
    # over-acceptance)
    import duckdb as _duckdb
    import pytest as _pytest
    with _pytest.raises(_duckdb.Error):
        duck.execute("SELECT * RENAME (n_name AS nm) FROM nation "
                     "LIMIT 1").fetchall()
    engine.sql("SELECT * RENAME (n_name AS nm) FROM nation LIMIT 1",
               dialect="duckdb").collect()


def test_r9i_intersect_era_graphemes_base64(engine, duck):
    """list_intersect drops NULLs (shared NULL included); era()=1 and
    the century/millennium/decade/era EXTRACT fields (boundary-exact:
    century(2000-12-31)=20); quoted EXTRACT field names; grapheme
    cluster functions (ZWJ emoji, flags, combining marks);
    from_base64/make_timestamptz mappings."""
    _check(engine, duck, (
        "SELECT list_intersect([1,2,NULL], [NULL,2,3]) AS a, "
        "list_intersect([NULL]::INT[], [NULL]::INT[]) AS b2, "
        "list_intersect([1,1,2],[1]) AS c"))
    _check(engine, duck, (
        "SELECT era(DATE '2024-01-01') AS a, era(NULL::DATE) AS b2, "
        "extract('century' FROM DATE '2001-01-01') AS c, "
        "extract(century FROM DATE '2000-12-31') AS d, "
        "extract(decade FROM DATE '2024-01-01') AS e2, "
        "extract(millennium FROM DATE '2001-01-01') AS f, "
        "extract(era FROM DATE '2024-01-01') AS g, "
        "date_part('century', DATE '2001-01-01') AS h"))
    _check(engine, duck, (
        "SELECT length_grapheme('🤦🏼‍♂️ab') AS a, "
        "length_grapheme('héllo') AS b2, length_grapheme('🇩🇪🇺🇸') AS c, "
        "substring_grapheme('🤦🏼‍♂️abc', 2, 2) AS d, "
        "substring_grapheme('🇩🇪🇺🇸x', 2, 2) AS e2"))
    _check(engine, duck, (
        "SELECT from_base64('YWJj')::VARCHAR AS a, "
        "to_base64(encode('abc')) AS b2, "
        "CAST(make_timestamptz(2024,1,2,3,4,5.5) AS VARCHAR) "
        "LIKE '2024-01-02 03:04:05.5%' AS c"))
    # crc32/url_encode exist in Spark but NOT DuckDB 1.0 (pinned
    # over-acceptances)
    import duckdb as _duckdb
    import pytest as _pytest
    for q in ("SELECT crc32('abc') AS c", "SELECT url_encode('a b') AS c"):
        with _pytest.raises(_duckdb.Error):
            duck.execute(q).fetchall()
        engine.sql(q, dialect="duckdb").collect()


def test_r9i_typeof_promotion_divergence_pins(engine, duck):
    """Documented divergence: typeof() of DERIVED expressions reflects
    Spark's type-promotion rules, not DuckDB's — decimal multiply
    widens (DECIMAL(6,3) vs (5,3)), decimal division stays DECIMAL
    where DuckDB goes DOUBLE, int // is BIGINT vs INTEGER, sum(INT) is
    BIGINT vs HUGEINT. The VALUES agree (pinned below); only the
    introspected type names differ. Base columns and literals match
    exactly (test_r9f)."""
    _check(engine, duck, (
        "SELECT 1.5 + 2.25 AS a, 1.10 * 2.10 AS b2, "
        "CAST(1.5 / 2.25 AS DOUBLE) AS c, 7 // 2 AS d, "
        "sum(x) AS e2 FROM (VALUES (1),(2)) t(x)"))
    got = spark_rows(engine.sql(
        "SELECT typeof(1.5 * 2.25) AS m, typeof(1 // 2) AS f, "
        "typeof(sum(x)) AS s FROM (VALUES (1)) t(x)",
        dialect="duckdb"))
    want = duckdb_rows(duck, (
        "SELECT typeof(1.5 * 2.25) AS m, typeof(1 // 2) AS f, "
        "typeof(sum(x)) AS s FROM (VALUES (1)) t(x)"))
    assert got == [("DECIMAL(6,3)", "BIGINT", "BIGINT")]
    assert want == [("DECIMAL(5,3)", "INTEGER", "HUGEINT")]


def test_r9j_union_recursion_distinct_windows_unordered_rank(engine, duck):
    """UNION (deduplicating) recursive CTEs run semi-naive engine-side
    (Spark only supports UNION ALL recursion) — including
    cycle-terminating recursions; DISTINCT aggregates as window
    functions rebuild over windowed collect_list → array_distinct;
    rank-family windows without ORDER BY get scan order via
    monotonically_increasing_id (DuckDB's row order)."""
    for q in (
        "WITH RECURSIVE r AS (SELECT 1 AS n UNION SELECT n + 1 FROM r "
        "WHERE n < 5) SELECT * FROM r ORDER BY n",
        "WITH RECURSIVE r AS (SELECT 1 AS n UNION SELECT CASE WHEN "
        "n >= 3 THEN 1 ELSE n + 1 END FROM r) SELECT count(*) AS c "
        "FROM r",
        "WITH RECURSIVE p(x) AS (SELECT 2 UNION SELECT x * 2 FROM p "
        "WHERE x < 50) SELECT sum(x) AS s FROM p",
        "SELECT count(DISTINCT n_regionkey) OVER () AS c FROM nation "
        "LIMIT 1",
        "SELECT sum(DISTINCT n_regionkey) OVER (PARTITION BY "
        "n_nationkey % 2) AS s FROM nation ORDER BY s LIMIT 3",
        "SELECT avg(DISTINCT n_regionkey) OVER () AS a FROM nation "
        "LIMIT 1",
        "SELECT row_number() OVER () AS rn FROM nation ORDER BY rn "
        "LIMIT 3",
        "SELECT ntile(3) OVER (PARTITION BY n_regionkey) AS t "
        "FROM nation ORDER BY t LIMIT 4",
    ):
        _check(engine, duck, q)


def test_r9k_struct_chain_infoschema(engine, duck):
    """Dotted field chains + subscripts on struct literals
    (({'a':…}).b.c[2] — the paren wrap and the base scan absorbing
    paren groups through dots); the full 13-column SQL-standard
    information_schema.tables shape; struct/list aggregate keys pinned
    as over-acceptances (DuckDB binder-errors)."""
    _check(engine, duck, (
        "SELECT {'a': 1, 'b': {'c': [1,2]}}.b.c[2] AS x, "
        "{'a': [{'k': 5}]}.a[1].k AS y, "
        "struct_pack(v := [9,8]).v[2] AS z"))
    _check(engine, duck, (
        "SELECT * FROM information_schema.tables "
        "WHERE table_name = 'nation'"))
    import duckdb as _duckdb
    import pytest as _pytest
    for q in ("SELECT min_by(n_name, {'k': n_nationkey}) AS c "
              "FROM nation",
              "SELECT arg_max(n_name, [n_regionkey, n_nationkey]) AS c "
              "FROM nation"):
        with _pytest.raises(_duckdb.Error):
            duck.execute(q).fetchall()
        engine.sql(q, dialect="duckdb").collect()  # over-accepts (doc'd)


def test_r9l_not_glob_over_acceptance(engine, duck):
    """DuckDB 1.0 parses GLOB but NOT `NOT GLOB` (parser error) — the
    engine accepts the negated spelling (pinned over-acceptance)."""
    import duckdb as _duckdb
    import pytest as _pytest

    _check(engine, duck, "SELECT 'abc' GLOB 'a*' AS a")
    with _pytest.raises(_duckdb.Error):
        duck.execute("SELECT 'abc' NOT GLOB 'b*' AS a").fetchall()
    engine.sql("SELECT 'abc' NOT GLOB 'b*' AS a",
               dialect="duckdb").collect()
