"""Pure-function unit tests: dialect rewrites and statement splitting.

No SparkSession needed — these document each §2.4 rewrite in isolation;
tests/oracle/test_dialect_roundtrip.py proves them against both engines.
"""

from __future__ import annotations

import pytest

from duckdb_read_spark import sqltext
from duckdb_read_spark.dialect import convert_strftime_format, to_spark_sql
from duckdb_read_spark.engine import split_statements


def test_function_renames():
    assert to_spark_sql("SELECT len(string_split(x, ' ')) FROM t") == \
        "SELECT size(split(x, '\\\\ ')) FROM t"  # literal sep, regex-escaped


def test_unnest_to_explode():
    assert "explode(split(" in to_spark_sql("SELECT UNNEST(string_split(x,' ')) FROM t")


def test_index_base_shift():
    # r7: subscripts emit get() — 0-based, NULL out-of-range (no ANSI
    # throw), negatives from the back
    assert to_spark_sql("SELECT arr[1] FROM t") == "SELECT get(arr, 0) FROM t"


def test_index_base_ignores_array_literal():
    # [1, 2] not preceded by an identifier is a list LITERAL: converted to
    # array() (not index-shifted)
    assert to_spark_sql("SELECT [1, 2] AS a") == "SELECT array(1, 2) AS a"


def test_json_arrow():
    assert to_spark_sql("SELECT props->>'$.k' FROM e") == \
        "SELECT get_json_object(props, '$.k') FROM e"


def test_json_arrow_dotted_lhs():
    assert "get_json_object(e.props, '$.k')" in to_spark_sql(
        "SELECT e.props->>'$.k' FROM e")


def test_regexp_replace_g_flag_dropped():
    out = to_spark_sql("SELECT regexp_replace(x, '[ae]', '_', 'g') FROM t")
    assert out == "SELECT regexp_replace(x, '[ae]', '_') FROM t"


def test_strftime_format_conversion():
    assert convert_strftime_format("%Y-%m-%d %H:%M:%S") == "yyyy-MM-dd HH:mm:ss"
    assert "date_format(ts, 'yyyy-MM')" in to_spark_sql("SELECT strftime(ts, '%Y-%m')")


def test_date_diff_arg_flip():
    out = to_spark_sql("SELECT date_diff('day', a, b)")
    assert "date_diff(b, a)" in out and "BIGINT" in out


def test_varchar_to_string():
    assert to_spark_sql("SELECT CAST(x AS VARCHAR)") == "SELECT CAST(x AS STRING)"


def test_array_type_cast():
    assert "ARRAY<DOUBLE>" in to_spark_sql("SELECT CAST(v AS DOUBLE[])")


def test_window_clause_inlined():
    out = to_spark_sql(
        "SELECT LAG(x) OVER w FROM t WINDOW w AS (PARTITION BY k ORDER BY ts)"
    )
    # r10: bare ASC window keys pick up DuckDB's NULLS LAST default
    assert ("OVER (PARTITION BY k ORDER BY ts NULLS LAST)" in out
            and "WINDOW" not in out)


def test_string_literal_untouched():
    # rewrites must never reach inside string literals
    out = to_spark_sql("SELECT 'len(string_split) ->> [1]' AS s")
    assert "'len(string_split) ->> [1]'" in out


def test_list_aggregate_sum():
    out = to_spark_sql("SELECT list_aggregate(v, 'sum')")
    # NULL-skipping + empty-list guard (review fix): the aggregate runs
    # over the non-NULL elements, behind a size-0 -> NULL CASE
    assert "aggregate(filter(v, x -> x IS NOT NULL), CAST(0 AS DOUBLE)" \
        in out
    assert out.startswith("SELECT (CASE WHEN size(filter(v,")


def test_split_statements_basic():
    assert split_statements("SELECT 1; SELECT 2;") == ["SELECT 1", "SELECT 2"]


def test_split_statements_quoted_semicolon():
    stmts = split_statements("SELECT 'a;b' AS x; SELECT 2")
    assert stmts == ["SELECT 'a;b' AS x", "SELECT 2"]


def test_split_statements_comment():
    stmts = split_statements("SELECT 1 -- trailing; not a split\n; SELECT 2")
    assert len(stmts) == 2 and stmts[1] == "SELECT 2"


def test_split_statements_escaped_quote():
    stmts = split_statements("SELECT 'it''s; fine'; SELECT 2")
    assert stmts[0] == "SELECT 'it''s; fine'"


def test_multi_window_clause():
    out = to_spark_sql(
        "SELECT sum(x) OVER w1, avg(x) OVER w2 FROM t "
        "WINDOW w1 AS (PARTITION BY k), w2 AS (ORDER BY ts)"
    )
    assert ("OVER (PARTITION BY k)" in out
            and "OVER (ORDER BY ts NULLS LAST)" in out)
    assert "WINDOW" not in out and "w2 AS" not in out


def test_strftime_escaped_percent():
    # literal %Y, not yyyy — the Y must be PATTERN-QUOTED too, or Java
    # reads it as year-of-era (r9: bare literal letters were silently
    # interpreted as directives before)
    assert convert_strftime_format("%%Y") == "%'Y'"
    assert convert_strftime_format("%Y%%") == "yyyy%"
    assert convert_strftime_format("Year: %Y") == "'Year: 'yyyy"
    assert convert_strftime_format("%d/%m") == "dd/MM"


def test_len_string_vs_array():
    import warnings

    # bare column of unknown type: heuristic picks length() and warns
    with pytest.warns(UserWarning, match="ARRAY_COLUMN_HINTS"):
        assert to_spark_sql("SELECT len(p_name) FROM part") == \
            "SELECT length(p_name) FROM part"
    # list-shaped args and hinted columns resolve silently
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert to_spark_sql("SELECT len(string_split(x,' '))") == \
            "SELECT size(split(x, '\\\\ '))"
        assert to_spark_sql("SELECT len(embedding) FROM embeddings") == \
            "SELECT size(embedding) FROM embeddings"


def test_date_diff_boundary_rewrites():
    out = to_spark_sql("SELECT date_diff('month', a, b)")
    assert "year(b) * 12 + month(b)" in out
    out = to_spark_sql("SELECT date_diff('hour', a, b)")
    assert "date_trunc('hour', b)" in out


def test_split_statements_block_comment():
    stmts = split_statements("SELECT 1 /* not; a split */; SELECT 2")
    assert len(stmts) == 2 and "not; a split" in stmts[0]


def test_qualify_rewrite_alias_and_inline():
    out = to_spark_sql(
        "SELECT id, g, row_number() OVER (PARTITION BY g ORDER BY id) AS rn "
        "FROM t QUALIFY rn <= 2 ORDER BY id"
    )
    assert "QUALIFY" not in out.upper().replace("__QUALIFY", "")
    assert ("EXCEPT (__qualify)" in out
            and out.rstrip().endswith("ORDER BY id NULLS LAST"))
    out = to_spark_sql(
        "SELECT id FROM t QUALIFY row_number() OVER (ORDER BY id) <= 3"
    )
    assert "AS __qualify" in out and "WHERE __qualify" in out


def test_qualify_rewrite_in_subquery():
    out = to_spark_sql(
        "SELECT * FROM (SELECT id, g FROM t "
        "QUALIFY rank() OVER (PARTITION BY g ORDER BY id) = 1) ORDER BY id"
    )
    assert "QUALIFY " not in out
    # the wrap stays inside the subquery parens
    assert out.rstrip().endswith("ORDER BY id NULLS LAST")


def test_qualify_distinct_raises():
    with pytest.raises(ValueError, match="DISTINCT"):
        to_spark_sql("SELECT DISTINCT g FROM t QUALIFY row_number() OVER (ORDER BY g) = 1")


def test_qualify_stops_at_set_operation():
    """A set operation after QUALIFY terminates the predicate (ADVICE r2) —
    the UNION branch must stay OUTSIDE the __qualify wrap."""
    out = to_spark_sql(
        "SELECT id FROM t QUALIFY row_number() OVER (ORDER BY id) = 1 "
        "UNION ALL SELECT id FROM u"
    )
    assert "UNION ALL SELECT id FROM u" in out
    # predicate must not contain the set operation
    assert "= 1 \n" not in out
    pred = out.split("AS __qualify")[0]
    assert "UNION" not in pred.upper()
    out = to_spark_sql(
        "SELECT id FROM t QUALIFY row_number() OVER (ORDER BY id) = 1 "
        "INTERSECT SELECT id FROM u"
    )
    assert out.split("AS __qualify")[0].upper().count("INTERSECT") == 0
    assert "INTERSECT SELECT id FROM u" in out


def test_power_operator_rewrite():
    """^ / ** → power() with DuckDB's measured binding (left-assoc,
    tighter than * and binary -, unary LHS sign absorbed)."""
    assert to_spark_sql("SELECT 2 ^ 3 ^ 2") == \
        "SELECT power(power(2, 3), 2)"
    assert to_spark_sql("SELECT -2 ^ 2") == "SELECT power(-2, 2)"
    assert to_spark_sql("SELECT 3 - 2 ^ 2") == "SELECT 3 - power(2, 2)"
    assert to_spark_sql("SELECT 2 ^ -2") == "SELECT power(2, -2)"
    assert to_spark_sql("SELECT x ** 2 + y ** 2") == \
        "SELECT power(x, 2) + power(y, 2)"
    out = to_spark_sql("SELECT a.b ^ f(x, 1)")
    assert out == "SELECT power(a.b, f(x, 1))"
    # strings containing ^ / ** stay verbatim
    assert to_spark_sql("SELECT '^' , '**'") == "SELECT '^' , '**'"
    # a paren group directly after a keyword is the LHS, not a call
    assert to_spark_sql("SELECT (a + 1) ^ 2 FROM t") == \
        "SELECT power((a + 1), 2) FROM t"
    assert to_spark_sql("SELECT x FROM t WHERE (a + b) ^ 2 > 4") == \
        "SELECT x FROM t WHERE power((a + b), 2) > 4"
    # ::-cast and CASE operands (review fix); r12: postfix int/decimal
    # casts convert to CAST form first so the rounding pass sees them
    assert to_spark_sql("SELECT x::INTEGER ^ 2 FROM t") == \
        ("SELECT power(CAST(round(CAST(x AS DECIMAL(38,18))) AS INT), "
         "2) FROM t")
    assert to_spark_sql("SELECT 2 ^ x::DECIMAL(10,2)") == \
        "SELECT power(2, CAST(x AS DECIMAL(10,2)))"
    assert to_spark_sql("SELECT CASE WHEN a THEN 1 ELSE 2 END ^ 2") == \
        "SELECT power(CASE WHEN a THEN 1 ELSE 2 END, 2)"
    # a non-primary operand raises instead of emitting mangled SQL
    import pytest
    with pytest.raises(ValueError):
        to_spark_sql("SELECT 2 ^ SELECT")
    # second-review pins: dot-qualified `end` is a column, a bracket
    # group with nothing primary before it is a LIST LITERAL operand
    assert to_spark_sql("SELECT t.end ^ 2 FROM t") == \
        "SELECT power(t.end, 2) FROM t"
    assert to_spark_sql("SELECT [1.0, 2.0] ^ 2") == \
        "SELECT power(array(1.0, 2.0), 2)"
    assert to_spark_sql("SELECT arr[1] ^ 2 FROM t") == \
        "SELECT power(get(arr, 0), 2) FROM t"


def test_list_aggregate_brace_literal_and_array_types():
    """Second-review pins: str.format must never see user SQL text
    (brace struct literals inside list_aggregate crashed); BLOB[]/
    VARCHAR[] element types normalize inside the composed ARRAY<> token."""
    out = to_spark_sql("SELECT list_aggregate([{'a': 1.0}.a, 2.0], 'sum')")
    assert "named_struct('a', 1.0)" in out
    assert to_spark_sql("SELECT x::BLOB[] FROM t") == \
        "SELECT x::ARRAY<BINARY> FROM t"
    assert to_spark_sql("SELECT CAST(x AS BYTEA[]) FROM t") == \
        "SELECT CAST(x AS ARRAY<BINARY>) FROM t"
    assert to_spark_sql("SELECT x::VARCHAR[] FROM t") == \
        "SELECT x::ARRAY<STRING> FROM t"


def test_blob_rewrite_is_type_position_only():
    """BLOB/BYTEA map to BINARY only in cast positions — a column or
    alias named blob survives (review fix). r12: a LITERAL blob cast
    folds to Spark's hex binary literal (decoding \\xHH escapes);
    non-literal operands keep the BINARY cast."""
    assert to_spark_sql("SELECT 'a'::BLOB") == "SELECT X'61'"
    assert to_spark_sql("SELECT CAST('a' AS BLOB)") == "SELECT X'61'"
    assert to_spark_sql("SELECT x::BLOB FROM t") == \
        "SELECT x::BINARY FROM t"
    assert "AS BINARY)" in to_spark_sql("SELECT CAST(x AS BLOB) FROM t")
    assert to_spark_sql("SELECT blob FROM t") == "SELECT blob FROM t"
    assert to_spark_sql("SELECT x AS blob FROM t") == \
        "SELECT x AS blob FROM t"
    # a table alias WITH a column list survives too (second review)
    assert to_spark_sql("SELECT * FROM (VALUES (1)) AS blob(x)") == \
        "SELECT * FROM (VALUES (1)) AS blob(x)"


def test_list_function_renames():
    # list_intersect drops NULL elements like DuckDB (r9) — the
    # NULL-filter wrap rides inside
    assert to_spark_sql("SELECT list_sort(list_intersect(a, b)) FROM t") == \
        ("SELECT array_sort(filter(array_intersect(a, b), "
         "__li__ -> __li__ IS NOT NULL)) FROM t")
    assert to_spark_sql("SELECT list_reverse_sort(a) FROM t") == \
        "SELECT sort_array(a, false) FROM t"
    out = to_spark_sql("SELECT list_concat(a, b) FROM t")
    # NULL-skipping flatten with the all-NULL -> NULL guard (third
    # review); __fl__ var keeps the r9 flatten NULL-sub-list branch
    # from re-wrapping this already-NULL-free emission
    assert "flatten(filter(array(a, b), __fl__ -> __fl__ IS NOT NULL))" in out
    assert out.startswith("SELECT (CASE WHEN size(filter(array(a, b)")
    # len() over a list_* call is array-typed → size, not length
    assert "size(array_distinct" in to_spark_sql("SELECT len(list_distinct(t)) FROM d")


def test_slice_rewrite():
    assert to_spark_sql("SELECT t[1:12] FROM d") == "SELECT slice(t, 1, 12) FROM d"
    assert to_spark_sql("SELECT a.t[2:5] FROM d") == "SELECT slice(a.t, 2, 4) FROM d"
    assert to_spark_sql("SELECT string_split(x, ' ')[1:3] FROM d") == \
        "SELECT slice(split(x, '\\\\ '), 1, 3) FROM d"
    # single-index subscript untouched by the slice pass (get() form)
    assert to_spark_sql("SELECT t[3] FROM d") == "SELECT get(t, 2) FROM d"


def test_slice_negative_and_open_bounds():
    # measured pins: [2:-1] on a 4-list → [2,3,4]; [-10:-2] clamps to 1
    out = to_spark_sql("SELECT t[2:-1] FROM d")
    assert out == ("SELECT slice(t, 2, greatest((size(t) + -1 + 1) - (2) "
                   "+ 1, 0)) FROM d")
    out = to_spark_sql("SELECT t[-2:] FROM d")
    assert "greatest(size(t) + -2 + 1, 1)" in out
    out = to_spark_sql("SELECT t[:3] FROM d")
    assert out == "SELECT slice(t, 1, greatest(3 - (1) + 1, 0)) FROM d"
    # SELECT must not be swallowed as a call name before a paren slice
    out = to_spark_sql("SELECT (t)[2:-1] FROM d")
    assert out.startswith("SELECT slice((t), 2,")


def test_agg_extras_rewrites():
    # product → exact fold (zeros/negatives safe)
    out = to_spark_sql("SELECT product(x) FROM t")
    assert "aggregate(collect_list(CAST(x AS DOUBLE))" in out
    # quantile_disc: ceil(n*q) indexing, clamped >= 1 (measured across
    # n=3..11 x q grid; fuzz seed 269 killed the floor((n-1)q)+1 guess)
    out = to_spark_sql("SELECT quantile_disc(x, 0.5) FROM t")
    assert "try_element_at(array_sort(collect_list(x))" in out
    assert "ceil(size(collect_list(x)) * (0.5))" in out
    # entropy / histogram compile onto collect_list folds
    assert "log2" in to_spark_sql("SELECT entropy(x) FROM t")
    assert "map_from_entries" in to_spark_sql("SELECT histogram(x) FROM t")
    # regexp_extract_all gains Spark's required group index
    assert to_spark_sql("SELECT regexp_extract_all(s, '[0-9]+') FROM t") \
        == "SELECT regexp_extract_all(s, '[0-9]+', 0) FROM t"
    # list aliases / arg swap
    assert to_spark_sql("SELECT list_prepend(0, l) FROM t") == \
        "SELECT array_prepend(l, 0) FROM t"
    assert to_spark_sql("SELECT list_zip(a, b), list_reverse(a) FROM t") \
        == "SELECT arrays_zip(a, b), reverse(a) FROM t"


def test_time_bucket_rewrite():
    out = to_spark_sql(
        "SELECT time_bucket(INTERVAL 15 MINUTE, ts) FROM t")
    assert "unix_micros(CAST(ts AS TIMESTAMP))" in out
    assert "946857600000000" in out          # 2000-01-03 origin (Monday)
    # DATE literal keeps DATE output for whole-day widths
    out = to_spark_sql(
        "SELECT time_bucket(INTERVAL 7 DAY, DATE '2024-01-10')")
    assert "date_add(DATE '2000-01-03'" in out
    # schema-known date column routes to the date form too
    out = to_spark_sql("SELECT time_bucket(INTERVAL 1 DAY, d) FROM t",
                       column_kinds={"d": "date"})
    assert "date_add(DATE '2000-01-03'" in out
    import pytest as _pytest
    with _pytest.raises(ValueError, match="calendar-variable"):
        to_spark_sql("SELECT time_bucket(INTERVAL 1 MONTH, ts) FROM t")


def test_agg_distinct_filter_rewrites():
    # r7: array_agg struct-wraps to keep NULL elements (DuckDB keeps
    # them, collect_list/collect_set drop them) with NULLS-LAST order
    # r10: the empty-aggregate → NULL guard is UNCONDITIONAL (measured:
    # array_agg/string_agg over WHERE false → NULL, not []/'')
    out = to_spark_sql("SELECT array_agg(DISTINCT x ORDER BY x) FROM t")
    agg0 = ("collect_set(struct((x) IS NULL AS __n, x AS __k, "
            "x AS __v))")
    assert out == (f"SELECT (CASE WHEN size({agg0}) = 0 THEN NULL ELSE "
                   f"transform(sort_array({agg0}), __s -> __s.__v) "
                   f"END) FROM t")
    out = to_spark_sql(
        "SELECT string_agg(DISTINCT x, ',' ORDER BY x DESC) FROM t")
    assert out == ("SELECT (CASE WHEN size(collect_set(x)) = 0 THEN "
                   "NULL ELSE array_join(sort_array(collect_set(x), "
                   "false), ',') END) FROM t")
    # FILTER moves inside the rewritten aggregate; an all-filtered group
    # is NULL in DuckDB, not [] (fuzz seed 266)
    out = to_spark_sql(
        "SELECT array_agg(x ORDER BY x) FILTER (WHERE x > 1) FROM t")
    agg = ("collect_list(struct((x) IS NULL AS __n, x AS __k, x AS __v))"
           " FILTER (WHERE x > 1)")
    assert out == (
        f"SELECT (CASE WHEN size({agg}) = 0"
        f" THEN NULL ELSE transform(sort_array({agg}), __s -> __s.__v)"
        f" END) FROM t")
    # plain array_agg keeps NULLs in input order; window form attaches
    # OVER to the inner collect, not the transform wrapper
    out = to_spark_sql("SELECT array_agg(x) FROM t")
    agg1 = "collect_list(struct(x AS __v))"
    assert out == (f"SELECT (CASE WHEN size({agg1}) = 0 THEN NULL ELSE "
                   f"transform({agg1}, __s -> __s.__v) END) FROM t")
    out = to_spark_sql("SELECT array_agg(x) OVER (PARTITION BY g) FROM t")
    agg2 = "collect_list(struct(x AS __v)) OVER (PARTITION BY g)"
    assert out == (f"SELECT (CASE WHEN size({agg2}) = 0 THEN NULL ELSE "
                   f"transform({agg2}, __s -> __s.__v) END) FROM t")


def test_json_function_rewrites():
    """Measured JSON batch: json_extract_string == get_json_object
    exactly (raw scalars, numbers stringify, missing → NULL, array
    subscripts); 2-arg json_array_length extracts first; json_valid
    treats the json literal 'null' and bare scalars as valid;
    json_object/json_array build through to_json."""
    assert to_spark_sql("SELECT json_extract_string(j, '$.a') FROM t") \
        == "SELECT get_json_object(j, '$.a') FROM t"
    assert to_spark_sql("SELECT json_array_length(j, '$.b') FROM t") \
        == ("SELECT json_array_length(get_json_object(j, '$.b')) "
            "FROM t")
    assert to_spark_sql("SELECT json_keys(j) FROM t") == \
        "SELECT json_object_keys(j) FROM t"
    out = to_spark_sql("SELECT json_object('k', 7) FROM t")
    assert out == "SELECT to_json(named_struct('k', 7)) FROM t"
    out = to_spark_sql("SELECT json_array(1, 2) FROM t")
    # r10: per-ELEMENT json conversion (mixed-type args coerce
    # independently in DuckDB; one typed array() was a loud error)
    assert out.startswith("SELECT concat_ws('', CAST('[' AS STRING)")
    assert "to_json(array(1))" in out and "to_json(array(2))" in out
    out = to_spark_sql("SELECT json_valid(j) FROM t")
    assert "trim(j) = 'null'" in out and "get_json_object(j, '$')" in out


def test_window_exclude_and_any_value_rewrites():
    """SQL:2011 frame exclusion compiled to subtract-the-current-row
    (measured NULL pins: empty residual non-null set → NULL); DuckDB
    any_value(x ORDER BY x) = first non-null in order."""
    out = to_spark_sql(
        "SELECT sum(y) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING AND 1 "
        "FOLLOWING EXCLUDE CURRENT ROW) FROM t")
    assert "EXCLUDE" not in out
    assert "- coalesce(y, 0)" in out and "CASE WHEN" in out
    out = to_spark_sql(
        "SELECT count(*) OVER (ORDER BY x EXCLUDE CURRENT ROW) FROM t")
    assert out == "SELECT (count(*) OVER (ORDER BY x NULLS LAST) - 1) FROM t"
    # the default exclusion is just stripped
    out = to_spark_sql(
        "SELECT sum(y) OVER (ORDER BY x EXCLUDE NO OTHERS) FROM t")
    assert out == "SELECT sum(y) OVER (ORDER BY x NULLS LAST) FROM t"
    import pytest as _pytest
    with _pytest.raises(NotImplementedError, match="EXCLUDE"):
        to_spark_sql("SELECT min(y) OVER (ORDER BY x "
                     "EXCLUDE CURRENT ROW) FROM t")
    # r12: ordered any_value rides the min_by/max_by emission with a
    # leading value-null flag (skips NULL values; no group collect)
    out = to_spark_sql("SELECT any_value(x ORDER BY x DESC) FROM t")
    assert out.startswith("SELECT max_by(x, struct((CASE WHEN "
                          "(x) IS NULL THEN 0 ELSE 1 END), ")
    out = to_spark_sql("SELECT any_value(v ORDER BY k) FROM t")
    assert out.startswith("SELECT min_by(v, struct((CASE WHEN "
                          "(v) IS NULL THEN 1 ELSE 0 END), ")
    # bare/DISTINCT forms → Spark's 2-arg ignore-nulls any_value
    assert to_spark_sql("SELECT any_value(v) FROM t") == \
        "SELECT any_value((v), true) FROM t"
    assert to_spark_sql("SELECT any_value(DISTINCT v) FROM t") == \
        "SELECT any_value((v), true) FROM t"


def test_function_tranche_rewrites():
    """Measured-semantics batch: 1-arg log() is LOG10 in DuckDB (silent
    wrong answer without the rewrite), sign() returns INT, date_sub is
    elapsed-parts while date_diff counts boundaries, week boundaries are
    Mondays, array_slice is the function form of [a:b]."""
    assert to_spark_sql("SELECT log(x) FROM t") == \
        "SELECT log10(x) FROM t"
    assert to_spark_sql("SELECT log(2, x) FROM t") == \
        "SELECT log(2, x) FROM t"
    assert to_spark_sql("SELECT sign(x) FROM t") == \
        "SELECT CAST(signum(x) AS INT) FROM t"
    assert to_spark_sql("SELECT century(d) FROM t") == \
        "SELECT CAST(ceil(year(d) / 100.0) AS BIGINT) FROM t"
    out = to_spark_sql("SELECT to_base(x, 16) FROM t")
    assert "conv(x, 10, 16)" in out
    assert "raise_error" in out         # DuckDB refuses negatives
    assert "date_format(d, 'EEEE')" in to_spark_sql(
        "SELECT dayname(d) FROM t")
    out = to_spark_sql("SELECT date_diff('week', a, b) FROM t")
    assert "DATE '2000-01-03'" in out        # Monday anchor
    out = to_spark_sql("SELECT date_sub('hour', a, b) FROM t")
    # CAST truncation toward zero, NOT floor (reversed intervals pin)
    assert "floor" not in out and "3600" in out
    # calendar parts implemented in r9: complete clamped months via
    # months_between, truncation toward zero
    out = to_spark_sql("SELECT date_sub('month', a, b) FROM t")
    assert "months_between" in out and "DIV" not in out
    out = to_spark_sql("SELECT date_sub('year', a, b) FROM t")
    assert "months_between" in out and "DIV 12" in out
    # Spark's own 2-arg date_sub is untouched
    assert to_spark_sql("SELECT date_sub(d, 3) FROM t") == \
        "SELECT date_sub(d, 3) FROM t"
    assert to_spark_sql("SELECT strpos(s, 'x') FROM t") == \
        "SELECT instr(s, 'x') FROM t"
    # ord('') = -1 in DuckDB; ANSI-safe list_select NULLs on idx <= 0
    assert "ascii(s)" in to_spark_sql("SELECT ord(s) FROM t")
    assert "THEN -1" in to_spark_sql("SELECT ord(s) FROM t")
    assert "try_element_at" in \
        to_spark_sql("SELECT list_select(l, idx) FROM t")
    assert "zip_with" in to_spark_sql("SELECT list_where(l, m) FROM t")
    assert "sequence(1, size(l))" in to_spark_sql(
        "SELECT list_grade_up(l) FROM t")
    out = to_spark_sql("SELECT isfinite(x), isinf(x) FROM t")
    assert "isnan" in out and out.count("CASE WHEN x IS NULL") == 2


def test_agg_extras_empty_group_null_pins():
    """Review r6: empty/all-NULL groups are NULL in DuckDB for product/
    histogram/quantile_disc and for FILTERed aggs — never the fold seed,
    {} or []; 0 slice bounds clamp (start) or empty (end)."""
    out = to_spark_sql("SELECT product(x) FROM t")
    assert "CASE WHEN size(collect_list(CAST(x AS DOUBLE))) = 0" in out
    out = to_spark_sql("SELECT histogram(x) FROM t")
    assert out.startswith("SELECT (CASE WHEN size(collect_list(x)) = 0")
    out = to_spark_sql("SELECT quantile_disc(x, 0.5) FROM t")
    assert "greatest(" in out          # ANSI rejects index 0 outright
    out = to_spark_sql("SELECT array_agg(DISTINCT x) FILTER (WHERE c) FROM t")
    assert out == ("SELECT (CASE WHEN size(collect_set(struct(x AS __v)) "
                   "FILTER (WHERE c)) = 0 THEN NULL ELSE "
                   "transform(collect_set(struct(x AS __v)) FILTER "
                   "(WHERE c), __s -> __s.__v) END) FROM t")
    out = to_spark_sql("SELECT t[0:2] FROM d")
    assert out == "SELECT slice(t, 1, 2) FROM d"
    out = to_spark_sql("SELECT t[1:0] FROM d")
    assert out == "SELECT slice(t, 1, 0) FROM d"


def test_list_unique_reduce_format_rewrites():
    out = to_spark_sql("SELECT list_unique(l) FROM t")
    assert out == ("SELECT CAST(size(array_distinct(filter(l, "
                   "__lu -> __lu IS NOT NULL))) AS BIGINT) FROM t")
    out = to_spark_sql("SELECT list_reduce(l, (x, y) -> x + y) FROM t")
    assert out == ("SELECT aggregate(slice(l, 2, greatest(size(l) - 1, "
                   "0)), element_at(l, 1), (x, y) -> x + y) FROM t")
    out = to_spark_sql("SELECT format('{} {:d}', s, i) FROM t")
    assert "format_string('%s %d', s, CAST(i AS BIGINT))" in out
    assert "WHEN (s) IS NULL OR (i) IS NULL THEN NULL" in out
    # literal % and escaped braces survive; bad specs refuse
    out = to_spark_sql("SELECT format('{{x}} {}%', i) FROM t")
    assert "format_string('{x} %s%%'" in out
    # positional {N} placeholders reorder/reuse args (r9); named {x}
    # and mixed auto+positional still refuse
    out = to_spark_sql("SELECT format('{1}{0}{0}', a, b) FROM t")
    assert "format_string('%s%s%s', b, a, a)" in out
    import pytest as _pytest
    with _pytest.raises(ValueError, match="positional/named"):
        to_spark_sql("SELECT format('{name}', i) FROM t")
    with _pytest.raises(ValueError, match="cannot mix"):
        to_spark_sql("SELECT format('{0}{}', i) FROM t")


def test_list_literal_rewrite():
    assert to_spark_sql("SELECT quantile_cont(x, [0.25, 0.5]) FROM t") == \
        "SELECT percentile(x, array(0.25, 0.5)) FROM t"
    # subscripts and slices are NOT literals
    assert to_spark_sql("SELECT a[2], b[1:3] FROM t") == \
        "SELECT get(a, 1), slice(b, 1, 3) FROM t"
    # nested literal
    assert to_spark_sql("SELECT [[1, 2], [3]] AS m") == \
        "SELECT array(array(1, 2), array(3)) AS m"


def test_single_element_literal_after_keyword():
    """Keywords tokenize as idents but open a literal context — `SELECT [5]`
    is a one-element list literal, not a subscript on `SELECT` (round-3
    ADVICE: the index pass decremented it to array(4))."""
    assert to_spark_sql("SELECT [5] AS x") == "SELECT array(5) AS x"
    assert to_spark_sql("SELECT CASE WHEN b THEN [1] ELSE [2] END AS x") == \
        "SELECT CASE WHEN b THEN array(1) ELSE array(2) END AS x"
    assert to_spark_sql("SELECT x IN ([3]) FROM t") == \
        "SELECT x IN (array(3)) FROM t"
    # real subscripts go 1-based → 0-based get()
    assert to_spark_sql("SELECT a[5] FROM t") == "SELECT get(a, 4) FROM t"
    assert to_spark_sql("SELECT f(x)[5] FROM t") == \
        "SELECT get(f(x), 4) FROM t"


def test_subscript_on_literal_and_case(spark=None):
    """A subscript directly on a bracket literal shifts to 0-based, and
    END closes a CASE — `END[1]` subscripts the CASE value (round-4 fuzz
    findings: both previously produced wrong data / invalid SQL)."""
    assert to_spark_sql("SELECT [1, 2, 3][2] AS x") == \
        "SELECT get(array(1, 2, 3), 1) AS x"
    assert to_spark_sql("SELECT [[1, 2], [3, 4]][1] AS x") == \
        "SELECT get(array(array(1, 2), array(3, 4)), 0) AS x"
    assert to_spark_sql(
        "SELECT CASE WHEN a > 1 THEN [5] ELSE [0] END[1] AS x") == \
        "SELECT get(CASE WHEN a > 1 THEN array(5) ELSE array(0) END, 0) AS x"


def test_strptime_and_approx_quantile():
    assert to_spark_sql("SELECT strptime(s, '%Y-%m-%d %H:%M:%S') FROM t") == \
        "SELECT to_timestamp(s, 'yyyy-MM-dd HH:mm:ss') FROM t"
    assert to_spark_sql("SELECT approx_quantile(x, 0.5) FROM t") == \
        "SELECT approx_percentile(x, 0.5) FROM t"


def test_map_construct_rewrites():
    assert to_spark_sql("SELECT map(['a', 'b'], [1, 2]) AS m") == \
        "SELECT map_from_arrays(array('a', 'b'), array(1, 2)) AS m"
    # r7: try_element_at — NULL (not an ANSI throw) on a missing key in
    # the [1]-unwrap form, and no re-fire of the element_at map rewrite
    assert to_spark_sql("SELECT map_extract(m, 'k')[1] AS v FROM t") == \
        "SELECT try_element_at(m, 'k') AS v FROM t"
    # without the [1] unwrap DuckDB returns a one-element LIST ([] when
    # the key is missing) — the translation must keep that shape
    # presence decided by map_contains_key (a NULL-valued key must give
    # [NULL], which a filter-out-nulls formulation would collapse to [])
    assert to_spark_sql("SELECT map_extract(m, 'k') AS v FROM t") == \
        ("SELECT CASE WHEN map_contains_key(m, 'k') "
         "THEN array(try_element_at(m, 'k')) "
         "ELSE slice(array(try_element_at(m, 'k')), 1, 0) END AS v FROM t")
    # element_at on a provably-MAP argument takes the same LIST shape
    assert to_spark_sql("SELECT element_at(m, 'k') AS v FROM t",
                        column_kinds={"m": "map"}) == \
        ("SELECT CASE WHEN map_contains_key(m, 'k') "
         "THEN array(try_element_at(m, 'k')) "
         "ELSE slice(array(try_element_at(m, 'k')), 1, 0) END AS v FROM t")
    # …but keeps Spark scalar semantics on arrays/unknowns
    assert to_spark_sql("SELECT element_at(a, 2) AS v FROM t",
                        column_kinds={"a": "array"}) == \
        "SELECT element_at(a, 2) AS v FROM t"


def test_distinct_on_rewrite():
    out = to_spark_sql(
        "SELECT DISTINCT ON (k) k, v, ts FROM t ORDER BY k, ts DESC"
    )
    assert "DISTINCT ON" not in out.upper()
    assert ("row_number() OVER (PARTITION BY k ORDER BY k NULLS LAST, "
            "ts DESC)" in out)
    assert "__don_rn = 1" in out and out.rstrip().endswith(
        "ORDER BY k NULLS LAST, ts DESC")
    # no ORDER BY → arbitrary-but-valid (window ordered by the keys)
    out = to_spark_sql("SELECT DISTINCT ON (k) k, v FROM t")
    assert "PARTITION BY k ORDER BY k" in out
    # plain DISTINCT untouched
    assert to_spark_sql("SELECT DISTINCT k FROM t") == "SELECT DISTINCT k FROM t"
    # WITH prefix: the main SELECT still rewrites
    out = to_spark_sql(
        "WITH c AS (SELECT 1 AS k, 2 AS v) "
        "SELECT DISTINCT ON (k) k, v FROM c ORDER BY k, v"
    )
    assert "DISTINCT ON" not in out.upper() and "__don_rn = 1" in out


def test_simple_function_renames():
    # r10: NULL values skip (DuckDB arg_max/min ignore NULL-v rows)
    assert to_spark_sql("SELECT arg_max(a, b), arg_min(a, b) FROM t") == \
        ("SELECT max_by(a, CASE WHEN (a) IS NULL THEN NULL ELSE b END)"
         ", min_by(a, CASE WHEN (a) IS NULL THEN NULL ELSE b END) "
         "FROM t")
    assert to_spark_sql("SELECT regexp_matches(s, 'x+') FROM t") == \
        "SELECT regexp_like(s, 'x+') FROM t"
    assert to_spark_sql("SELECT starts_with(s, 'a'), ends_with(s, 'b') FROM t") == \
        "SELECT startswith(s, 'a'), endswith(s, 'b') FROM t"
    assert to_spark_sql("SELECT epoch(ts) FROM t") == \
        ("SELECT (CAST(unix_micros(CAST(ts AS TIMESTAMP)) AS DOUBLE) "
         "/ 1000000.0D) FROM t")


def test_star_exclude_rewrite():
    assert to_spark_sql("SELECT * EXCLUDE (a, b) FROM t") == \
        "SELECT * EXCEPT (a, b) FROM t"
    assert to_spark_sql("SELECT * EXCLUDE r_comment FROM region") == \
        "SELECT * EXCEPT (r_comment) FROM region"


def test_array_to_string_empty_list_is_null():
    """DuckDB array_to_string(empty, sep) is NULL; the rewrite reproduces
    that instead of Spark array_join's ''."""
    out = to_spark_sql("SELECT array_to_string(list_intersect(a, b), ',') FROM t")
    assert ("CASE WHEN size(filter(array_intersect(a, b), "
            "__li__ -> __li__ IS NOT NULL)) = 0 "
            "THEN CAST(NULL AS STRING)") in out


def test_asof_join_rewrites_to_lateral():
    out = to_spark_sql(
        "SELECT t.ts, q.bid FROM trades t ASOF JOIN quotes q "
        "ON t.sym = q.sym AND t.ts >= q.ts"
    )
    assert "ASOF" not in out.upper()
    assert "CROSS JOIN LATERAL" in out
    assert "ORDER BY q.ts DESC LIMIT 1" in out
    # LEFT form keeps unmatched rows via LEFT OUTER JOIN LATERAL ... ON true
    out = to_spark_sql(
        "SELECT * FROM a ASOF LEFT JOIN b ON a.k = b.k AND a.ts >= b.ts"
    )
    assert "LEFT OUTER JOIN LATERAL" in out and out.rstrip().endswith("ON true")


def test_asof_join_directions_and_tolerance():
    # forward: l.ts <= r.ts → earliest right at-or-after → ASC
    out = to_spark_sql(
        "SELECT * FROM a ASOF JOIN b ON a.k = b.k AND a.ts <= b.ts"
    )
    assert "ORDER BY b.ts ASC NULLS LAST LIMIT 1" in out
    # right side on the left of the inequality, strict
    out = to_spark_sql(
        "SELECT * FROM a ASOF JOIN b ON a.k = b.k AND b.ts < a.ts"
    )
    assert "ORDER BY b.ts DESC LIMIT 1" in out
    # a tolerance bound is NOT mistaken for the as-of inequality (it is not
    # a bare column-vs-column term) and rides along in the WHERE
    out = to_spark_sql(
        "SELECT * FROM a ASOF JOIN b ON a.k = b.k AND a.ts >= b.ts "
        "AND epoch(a.ts) - epoch(b.ts) <= 60"
    )
    assert "ORDER BY b.ts DESC LIMIT 1" in out and "60" in out


def test_asof_join_errors():
    with pytest.raises(ValueError, match="inequality"):
        to_spark_sql("SELECT * FROM a ASOF JOIN b ON a.k = b.k")
    with pytest.raises(ValueError, match="alias"):
        to_spark_sql("SELECT * FROM a ASOF JOIN (SELECT 1) ON a.k = 1")
    # an identifier merely named asof is NOT a join keyword
    assert to_spark_sql("SELECT asof FROM t") == "SELECT asof FROM t"
    assert "asof" in to_spark_sql("SELECT t.asof, x FROM t WHERE asof > 1")


def test_using_sample_rewrites():
    assert to_spark_sql("SELECT * FROM t USING SAMPLE 10%") == \
        "SELECT * FROM t TABLESAMPLE (10 PERCENT)"
    assert to_spark_sql("SELECT * FROM t USING SAMPLE 10 PERCENT (bernoulli)") == \
        "SELECT * FROM t TABLESAMPLE (10 PERCENT)"
    assert to_spark_sql("SELECT * FROM t USING SAMPLE 50") == \
        "SELECT * FROM t TABLESAMPLE (50 ROWS)"
    # join USING is untouched
    assert to_spark_sql("SELECT * FROM a JOIN b USING (k)") == \
        "SELECT * FROM a JOIN b USING (k)"


def test_pivot_statement_rewrites():
    out = to_spark_sql("PIVOT orders ON o_orderstatus IN ('O','F') USING sum(o_totalprice)")
    assert out == ("SELECT * FROM orders "
                   "PIVOT (sum(o_totalprice) FOR o_orderstatus IN ('O','F'))")
    out = to_spark_sql(
        "PIVOT orders ON o_orderstatus IN ('O','F') USING sum(o_totalprice) "
        "GROUP BY o_orderpriority"
    )
    assert out.startswith("SELECT * FROM (SELECT o_orderpriority, o_orderstatus, o_totalprice FROM orders)")


def test_pivot_without_in_raises():
    with pytest.raises(ValueError, match="groupBy"):
        to_spark_sql("PIVOT orders ON o_orderstatus USING sum(o_totalprice)")


def test_pivot_keyword_elsewhere_untouched():
    assert to_spark_sql("SELECT pivot FROM t") == "SELECT pivot FROM t"


def test_unpivot_statement_rewrites():
    out = to_spark_sql("UNPIVOT w ON a, b INTO NAME k VALUE v")
    assert out == "SELECT * FROM w UNPIVOT (v FOR k IN (a, b))"


def test_list_comprehension_rewrites():
    from duckdb_read_spark.dialect import to_spark_sql

    assert to_spark_sql("SELECT [x * 2 FOR x IN [1, 2, 3] IF x > 1] AS l") == \
        "SELECT transform(filter(array(1, 2, 3), x -> x > 1), x -> x * 2) AS l"
    out = to_spark_sql(
        "SELECT [upper(s) FOR s IN string_split(t, ' ')] AS l FROM d")
    # upper() routes through the r9 duck-case translate sandwich
    assert out.startswith("SELECT transform(split(t, '\\\\ '), "
                          "s -> translate(upper(translate(s, ")
    assert out.endswith(") AS l FROM d")
    # nested comprehension
    out = to_spark_sql("SELECT [[y + 1 FOR y IN x] FOR x IN [[1], [2]]] AS l")
    assert out.count("transform(") == 2 and "FOR" not in out
    # a plain bracket literal (no FOR) is untouched by this pass
    assert to_spark_sql("SELECT [1, 2][1] AS e") == \
        "SELECT get(array(1, 2), 0) AS e"


def test_struct_literal_rewrites():
    from duckdb_read_spark.dialect import to_spark_sql

    assert to_spark_sql("SELECT {'a': 1, 'b': 'x'} AS s") == \
        "SELECT named_struct('a', 1, 'b', 'x') AS s"
    assert to_spark_sql("SELECT MAP {'k': 2, 'j': 3} AS m") == \
        "SELECT map('k', 2, 'j', 3) AS m"
    # bare identifier keys quote; nesting composes innermost-first
    assert to_spark_sql("SELECT {a: 1, b: {'c': 2}} AS s") == \
        "SELECT named_struct('a', 1, 'b', named_struct('c', 2)) AS s"
    # list values with commas survive; field access passes through
    # parenthesized when a field chain follows (dotted chains after a
    # bare call parse-error in Spark — r9)
    assert to_spark_sql("SELECT {'l': [1, 2]}.l AS v") == \
        "SELECT (named_struct('l', array(1, 2))).l AS v"


def test_struct_pack_and_extract_rewrites():
    from duckdb_read_spark.dialect import to_spark_sql

    assert to_spark_sql("SELECT struct_pack(a := 1, b := x + 1) AS s") == \
        "SELECT named_struct('a', 1, 'b', x + 1) AS s"
    # nested struct_pack composes through the fixpoint passes
    assert to_spark_sql(
        "SELECT struct_pack(a := struct_pack(c := 2)) AS s") == \
        "SELECT named_struct('a', named_struct('c', 2)) AS s"
    # struct_extract with a literal field -> parenthesized field access
    assert to_spark_sql("SELECT struct_extract(s, 'f') AS v") == \
        "SELECT (s).`f` AS v"
    # positional (non-keyword) struct_pack args have no DuckDB meaning;
    # text passes through and fails loudly downstream
    out = to_spark_sql("SELECT struct_pack(1, 2) AS s")
    assert "struct_pack(1, 2)" in out
    # non-literal field name: no Spark equivalent, passes through loudly
    out2 = to_spark_sql("SELECT struct_extract(s, f) AS v")
    assert "struct_extract(s, f)" in out2


def test_date_part_divergent_fields_rewrite():
    from duckdb_read_spark.dialect import to_spark_sql

    out = to_spark_sql("SELECT date_part('dow', d) AS a FROM t")
    assert "(extract(DAYOFWEEK FROM d) - 1)" in out
    out = to_spark_sql("SELECT date_part('isodow', d) AS a FROM t")
    assert "(((extract(DAYOFWEEK FROM d) + 5) % 7) + 1)" in out
    out = to_spark_sql("SELECT EXTRACT(EPOCH FROM d) AS a FROM t")
    assert "unix_micros(CAST(d AS TIMESTAMP)" in out  # fractional seconds
    # agreeing fields pass through untouched
    out = to_spark_sql("SELECT date_part('doy', d) AS a FROM t")
    assert "date_part('doy', d)" in out
    out = to_spark_sql("SELECT EXTRACT(year FROM d) AS y FROM t")
    assert "EXTRACT(year FROM d)" in out


def test_regexp_flags_and_list_has_rewrites(engine, duck):
    """3-arg regexp_matches folds flags into inline modifiers;
    list_has_any/all map onto arrays_overlap / array_except — values
    verified against DuckDB."""
    q = ("SELECT regexp_matches('AbC', 'bc', 'i') AS m1, "
         "regexp_matches('AbC', 'bc') AS m2, "
         "list_has_any([1, 2], [2, 9]) AS h1, "
         "list_has_any([1, 2], [8, 9]) AS h2, "
         "list_has_all([1, 2, 3], [3, 1]) AS a1, "
         "list_has_all([1, 2], [3, 1]) AS a2, "
         "list_has_all([1, 2], CAST([] AS INTEGER[])) AS a3")
    got = tuple(engine.sql(q, dialect="duckdb").first())
    want = duck.execute(q).fetchone()
    assert got == want


_SQLTEXT_CASES = [
    # a '' escape stays inside its literal
    ("quote_escape", "split_top_commas", ("'a'',b', c",), ["'a'',b'", "c"]),
    ("quote_escape_spans", "literal_spans", ("x = 'it''s' AND y",),
     [(4, 11)]),
    # '--' inside a literal is data, not a comment
    ("dash_literal", "split_top_commas", ("'--', x",), ["'--'", "x"]),
    ("dash_literal_paren", "match_paren", ("f('--', (1))", 1), 11),
    # a -- comment hides its brackets and commas and is dropped from pieces
    ("comment_paren", "match_paren", ("f(a -- ), (\n)", 1), 12),
    ("comment_comma", "split_top_commas", ("a -- x, (y)\n, b",), ["a", "b"]),
    ("comment_word", "find_top_level", ("a -- FROM\nFROM t", "FROM"), 10),
    ("comment_spans", "literal_spans", ("a -- it's\nb",), [(2, 9)]),
    # ( [ { count as one depth
    ("nested_split", "split_top_commas", ("[1, 2], {'k': (3, [4, 5])}, 6",),
     ["[1, 2]", "{'k': (3, [4, 5])}", "6"]),
    ("nested_paren", "match_paren", ("f([{1, (2)}], 3) + 1", 1), 15),
    ("nested_word", "find_top_level", ("(SELECT [FROM]) FROM t", "FROM"),
     16),
    # whole words only: rate_limit holds no LIMIT
    ("word_boundary", "find_top_level",
     ("SELECT rate_limit FROM t LIMIT 5", "LIMIT"), 25),
    ("word_absent", "find_top_level", ("SELECT rate_limit FROM t", "LIMIT"),
     -1),
    ("unbalanced", "match_paren", ("f(a, (b)", 1), ValueError),
    # a ' inside any other atomic class opens no literal
    ("quote_in_qid", "split_top_commas", ('"a\'b", (c), d',),
     ['"a\'b"', "(c)", "d"]),
    ("quote_in_bqid", "split_top_commas", ("`a'b`, (c), d",),
     ["`a'b`", "(c)", "d"]),
    ("quote_in_dollar", "split_top_commas", ("$$it's$$, (c), d",),
     ["$$it's$$", "(c)", "d"]),
    ("quote_in_tagged_dollar", "split_top_commas", ("$t$a'b$t$, (c), d",),
     ["$t$a'b$t$", "(c)", "d"]),
    ("quote_in_escape_string", "split_top_commas", ("E'it\\'s', (c), d",),
     ["E'it\\'s'", "(c)", "d"]),
    # the token matcher: forward from an opener, backward from a closer,
    # across mixed ( [ {
    ("tok_match_forward", "match_bracket",
     (sqltext.tokenize("f([{1}, (2)], 3)"), 1), 15),
    ("tok_match_backward", "match_bracket",
     (sqltext.tokenize("f([{1}, (2)], 3)"), 11), 2),
    # BETWEEN's AND is not a conjunct boundary; an AND in a literal is data
    ("and_between", "split_top_and",
     ("k BETWEEN 1 AND 5 AND s = 'x AND y'",),
     ["k BETWEEN 1 AND 5", "s = 'x AND y'"]),
    ("and_under_or", "split_top_and", ("a = 1 OR b = 2 AND c = 3",),
     ["a = 1 OR b = 2", "c = 3"]),
]


@pytest.mark.parametrize("fn,args,want",
                         [c[1:] for c in _SQLTEXT_CASES],
                         ids=[c[0] for c in _SQLTEXT_CASES])
def test_sqltext_lexical_rule(fn, args, want):
    call = getattr(sqltext, fn)
    if want is ValueError:
        with pytest.raises(ValueError, match="^unbalanced parentheses$"):
            call(*args)
    else:
        assert call(*args) == want


def test_dialect_passes_call_tokenize_through_module_global(monkeypatch):
    """The benchmark's ``dialect.tokenize.calls`` figure counts calls by
    patching that module attribute, so the rewrite passes must look the
    tokenizer up there rather than in ``sqltext``."""
    from duckdb_read_spark import dialect
    from duckdb_read_spark.queries import QUERIES

    calls = []
    real = dialect.tokenize

    def counting(sql):
        calls.append(sql)
        return real(sql)

    monkeypatch.setattr(dialect, "tokenize", counting)
    spec = QUERIES["q05_pricing_summary"]
    to_spark_sql(spec.duckdb or spec.spark)
    assert calls
