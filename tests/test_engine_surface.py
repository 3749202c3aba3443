"""Engine-surface tests: CLI (E1), sinks/roundtrips (S3-S5), UDFs (X1-X4),
extension registry + safe mode (D1/D3), EXPLAIN (D2)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from duckdb_read_spark.oracle import normalize_rows
from duckdb_read_spark.sources import write_csv, write_json, write_parquet


def _rows(df):
    return normalize_rows(tuple(r) for r in df.collect())


# --- sinks: write → read roundtrip (S4) -----------------------------------

def test_parquet_roundtrip(engine, tmp_path):
    src = engine.sql("SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders")
    p = str(tmp_path / "orders_out")
    write_parquet(src, p, partition_by=["o_orderstatus"])
    back = engine.spark.read.parquet(p).select("o_orderkey", "o_totalprice", "o_orderstatus")
    assert _rows(back) == _rows(src)


def test_csv_roundtrip(engine, tmp_path):
    src = engine.sql("SELECT n_nationkey, n_name FROM nation")
    p = str(tmp_path / "nation_csv")
    write_csv(src, p)
    back = engine.spark.read.option("header", "true").csv(p, schema="n_nationkey INT, n_name STRING")
    assert _rows(back) == _rows(src)


def test_json_roundtrip(engine, tmp_path):
    src = engine.sql("SELECT r_regionkey, r_name FROM region")
    p = str(tmp_path / "region_json")
    write_json(src, p)
    back = engine.spark.read.json(p, schema="r_regionkey BIGINT, r_name STRING")
    assert _rows(back) == _rows(src)


# --- glob / multi-file scan (S5) ------------------------------------------

def test_glob_scan(engine, tmp_path):
    src = engine.sql("SELECT n_nationkey FROM nation")
    write_parquet(src.filter(F.col("n_nationkey") < 10), str(tmp_path / "part_a"))
    write_parquet(src.filter(F.col("n_nationkey") >= 10), str(tmp_path / "part_b"))
    merged = engine.register_parquet("nation_glob", str(tmp_path / "part_*"))
    assert merged.count() == src.count()


# --- CSV/JSON sources (S3) ------------------------------------------------

def test_csv_source_registration(engine, tmp_path):
    src = engine.sql("SELECT s_suppkey, s_name FROM supplier")
    p = str(tmp_path / "supplier_csv")
    write_csv(src, p)
    engine.register_csv("supplier_csv", p, schema="s_suppkey BIGINT, s_name STRING")
    assert _rows(engine.sql("SELECT * FROM supplier_csv")) == _rows(src)


# --- UDF surface vs native twins (X1/X3/X4, SURVEY §2.3) ------------------

@pytest.fixture(scope="module")
def udf_engine(engine):
    engine.load("duckdb_read_spark.extensions.vector_ext")
    return engine


def test_vec_l2norm_matches_native(udf_engine):
    got = udf_engine.sql(
        "SELECT vec_id, vec_l2norm(embedding) AS n FROM embeddings ORDER BY vec_id LIMIT 50"
    )
    want = udf_engine.sql(
        """SELECT vec_id, sqrt(aggregate(embedding, CAST(0 AS DOUBLE),
           (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS n
           FROM embeddings ORDER BY vec_id LIMIT 50"""
    )
    assert _rows(got) == _rows(want)


def test_vec_cosine_matches_native(udf_engine):
    got = udf_engine.sql(
        """SELECT a.vec_id, vec_cosine(a.embedding, b.embedding) AS c
           FROM embeddings a JOIN embeddings b ON b.vec_id = 0
           WHERE a.vec_id < 20 ORDER BY a.vec_id"""
    )
    want = udf_engine.sql(
        """SELECT a.vec_id,
             aggregate(zip_with(a.embedding, b.embedding,
                       (x,y) -> CAST(x AS DOUBLE)*CAST(y AS DOUBLE)),
                       CAST(0 AS DOUBLE), (acc,v) -> acc+v)
             / (sqrt(aggregate(a.embedding, CAST(0 AS DOUBLE), (acc,x) -> acc+CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
              * sqrt(aggregate(b.embedding, CAST(0 AS DOUBLE), (acc,x) -> acc+CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS c
           FROM embeddings a JOIN embeddings b ON b.vec_id = 0
           WHERE a.vec_id < 20 ORDER BY a.vec_id"""
    )
    assert _rows(got) == _rows(want)


def test_trimmed_mean_grouped_agg(udf_engine):
    got = udf_engine.sql(
        """SELECT c_nationkey, round(trimmed_mean(c_acctbal), 4) AS tm
           FROM customer GROUP BY c_nationkey ORDER BY c_nationkey"""
    )
    rows = got.collect()
    assert len(rows) > 0 and all(r["tm"] is not None for r in rows)


def test_udtf_split_words(udf_engine):
    rows = udf_engine.sql("SELECT * FROM split_words('a b c') ORDER BY pos").collect()
    assert [(r["pos"], r["tok"]) for r in rows] == [(0, "a"), (1, "b"), (2, "c")]


# --- extension registry + safe mode (D1/D3) -------------------------------

def test_extension_requires_register_symbol(spark):
    from duckdb_read_spark import Engine

    permissive = Engine(spark=spark, allow_arbitrary_extensions=True)
    with pytest.raises(ValueError, match="register"):
        permissive.load("duckdb_read_spark.oracle")  # a module with no register()


def test_safe_mode_blocks_extensions(spark):
    from duckdb_read_spark import Engine

    safe = Engine(spark=spark, extensions_allowed=False)
    with pytest.raises(PermissionError):
        safe.install("duckdb_read_spark.extensions.vector_ext")


def test_unknown_extension_blocked_by_default(spark):
    """SQL text must not be able to import arbitrary Python modules: INSTALL
    of a non-allowlisted dotted path needs an explicit opt-in (ADVICE r1)."""
    from duckdb_read_spark import Engine

    e = Engine(spark=spark)
    with pytest.raises(PermissionError, match="EXTENSION_ALIASES"):
        e.sql("INSTALL os.path")
    with pytest.raises(PermissionError, match="EXTENSION_ALIASES"):
        e.install("subprocess")
    # aliased name still works via SQL, and the opt-in flag restores the
    # arbitrary-module path for programmatic use
    assert e.sql("INSTALL vector").count() == 0
    opt_in = Engine(spark=spark, allow_arbitrary_extensions=True)
    opt_in.install("duckdb_read_spark.extensions.vector_ext")


def test_install_repository_and_version_pin(spark):
    """INSTALL <ext> [FROM repo] [VERSION 'v'] records the LoadInfo triple
    (/root/reference/duckdb:30-33); a mismatched pin raises at LOAD, a
    matching one loads, an unknown repository raises at INSTALL."""
    from duckdb_read_spark import Engine

    e = Engine(spark=spark)
    e.sql("INSTALL vector FROM core VERSION '1.0.0'")
    info = e._extensions["duckdb_read_spark.extensions.vector_ext"]
    assert (info["repository"], info["version"]) == ("core", "1.0.0")
    e.sql("LOAD vector")  # pin matches __extension_version__
    e.sql("INSTALL vector VERSION '9.9.9'")  # re-pin (FORCE INSTALL analog)
    with pytest.raises(ValueError, match="does not match"):
        e.sql("LOAD vector")
    with pytest.raises(ValueError, match="repository"):
        e.sql("INSTALL vector FROM nightly")
    # unpinned install keeps loading regardless of module version
    e.sql("INSTALL vector")
    e.sql("LOAD vector")


# --- EXPLAIN (D2) + CLI (E1) ----------------------------------------------

def test_explain_shows_pushdown(engine):
    txt = engine.explain("SELECT l_orderkey FROM lineitem WHERE l_orderkey < 10")
    assert "PushedFilters" in txt and "LessThan(l_orderkey,10)" in txt


def test_cli_statement_dispatch(engine, capsys):
    from duckdb_read_spark.cli import run_statement

    run_statement(engine, "SELECT 1 AS one", "spark", 10)
    run_statement(engine, ".tables", "spark", 10)
    out = capsys.readouterr().out
    assert "one" in out and "lineitem" in out


def test_cli_dynamic_pivot_statement(engine, capsys):
    """IN-less statement-form PIVOT through the CLI path: values are
    discovered dynamically (sorted), no raise (VERDICT r2 item 6)."""
    from duckdb_read_spark.cli import run_statement

    run_statement(
        engine,
        "PIVOT (SELECT r_regionkey % 2 AS par, r_name FROM region) "
        "ON par USING count(*)",
        "duckdb", 10,
    )
    out = capsys.readouterr().out
    assert "0" in out and "1" in out


def test_dynamic_pivot_matches_static(engine):
    dyn = engine.sql(
        "PIVOT events ON event_type USING count(*) GROUP BY user_id",
        dialect="duckdb")
    static = engine.sql(
        "PIVOT events ON event_type IN "
        "('click', 'error', 'purchase', 'signup', 'view') "
        "USING count(*) GROUP BY user_id",
        dialect="duckdb")
    assert dyn.columns == static.columns
    assert _rows(dyn.orderBy("user_id")) == _rows(static.orderBy("user_id"))


def test_dynamic_pivot_typed_literals(engine):
    """Discovered non-string pivot values render as TYPED literals
    (round-3 ADVICE: str(date) injected unquoted `IN (2024-01-01)`)."""
    dyn = engine.sql(
        "PIVOT (SELECT * FROM VALUES (DATE '2024-01-01', 1), "
        "(DATE '2024-02-01', 2), (DATE '2024-01-01', 3) AS t(d, v)) "
        "ON d USING sum(v)",
        dialect="duckdb")
    row = dyn.first()
    assert row["2024-01-01"] == 4 and row["2024-02-01"] == 2
    booldyn = engine.sql(
        "PIVOT (SELECT r_regionkey % 2 = 0 AS even FROM region) "
        "ON even USING count(*)",
        dialect="duckdb")
    r = booldyn.first()
    assert r["true"] == 3 and r["false"] == 2


def test_dynamic_pivot_cardinality_guard(engine):
    old = engine.PIVOT_MAX_VALUES
    engine.PIVOT_MAX_VALUES = 3
    try:
        with pytest.raises(ValueError, match="distinct values"):
            engine.sql("PIVOT events ON event_type USING count(*)",
                       dialect="duckdb")
    finally:
        engine.PIVOT_MAX_VALUES = old


def test_cli_duckdb_dialect(engine, capsys):
    from duckdb_read_spark.cli import run_statement

    run_statement(
        engine, "SELECT len(string_split('a b c', ' ')) AS n", "duckdb", 10
    )
    assert "3" in capsys.readouterr().out


def test_set_statement_surface(spark):
    """SET pragma surface: safe-mode toggle is one-way from SQL; spark.*
    confs pass through; unknown keys raise (allowlist, D3)."""
    from duckdb_read_spark.engine import Engine

    eng = Engine(spark=spark)
    eng.sql("SET spark.sql.shuffle.partitions = 7")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    eng.sql("SET threads TO 8")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    eng.sql("SET timezone = 'UTC'")
    with pytest.raises(ValueError, match="unknown option"):
        eng.sql("SET frobnicate = 1")
    eng.sql("SET enable_external_access = false")
    with pytest.raises(PermissionError):
        eng.install("vector")
    with pytest.raises(PermissionError, match="one-way"):
        eng.sql("SET enable_external_access = true")


def test_set_variable_surface(engine):
    """SET VARIABLE / getvariable() / RESET VARIABLE (DuckDB >= 1.1
    session variables; no oracle twin in this environment). Values are
    evaluated eagerly at SET time and substituted as typed literals at
    use time; unset variables read as NULL."""
    engine.sql("SET VARIABLE vmax = 10")
    got = [r.k for r in engine.sql(
        "SELECT n_nationkey AS k FROM nation "
        "WHERE n_nationkey < getvariable('vmax') ORDER BY k").collect()]
    assert got == list(range(10))
    # expression values, incl. reference to a previous variable
    engine.sql("SET VARIABLE vhalf = getvariable('vmax') / 2")
    assert engine.sql("SELECT getvariable('vhalf') AS v").first().v == 5.0
    # string values keep quoting through substitution
    engine.sql("SET VARIABLE vname = 'NATION' || '_3'")
    assert engine.sql(
        "SELECT count(*) AS n FROM nation WHERE n_name = getvariable('vname')"
    ).first().n == 1
    # date value comes back typed, usable in arithmetic
    engine.sql("SET VARIABLE vday = DATE '2024-03-01'")
    assert str(engine.sql(
        "SELECT getvariable('vday') + INTERVAL 1 DAY AS d").first().d
    ).startswith("2024-03-02")
    # eager evaluation: later SETs don't retro-change earlier reads
    engine.sql("SET VARIABLE vmax = 3")
    assert engine.sql("SELECT getvariable('vhalf') AS v").first().v == 5.0
    # a PREPARE body resolves getvariable at EXECUTE time, not PREPARE time
    engine.sql("PREPARE vq AS SELECT getvariable('vmax') AS v")
    assert engine.sql("EXECUTE vq").first().v == 3
    engine.sql("SET VARIABLE vmax = 7")
    assert engine.sql("EXECUTE vq").first().v == 7
    engine.sql("DEALLOCATE vq")
    # a MACRO body late-binds too: expansion happens at call sites,
    # which re-enter sql() (review fix)
    engine.sql("SET VARIABLE vm = 10")
    engine.sql("CREATE MACRO vplus(z) AS z + getvariable('vm')")
    assert engine.sql("SELECT vplus(1) AS v",
                      dialect="duckdb").first().v == 11
    engine.sql("SET VARIABLE vm = 20")
    assert engine.sql("SELECT vplus(1) AS v",
                      dialect="duckdb").first().v == 21
    engine.sql("DROP MACRO vplus")
    # RESET -> unset -> NULL; getvariable inside a string literal untouched
    engine.sql("RESET VARIABLE vmax")
    assert engine.sql("SELECT getvariable('vmax') AS v").first().v is None
    assert engine.sql("SELECT 'getvariable(''vmax'')' AS s").first().s \
        == "getvariable('vmax')"


def test_install_load_sql_statements(spark):
    """E3 worked example as SQL: INSTALL/LOAD route to the registry
    (/root/reference/duckdb:18-55)."""
    from duckdb_read_spark import Engine

    e = Engine(spark=spark)
    assert e.sql("INSTALL vector").count() == 0
    assert "duckdb_read_spark.extensions.vector_ext" in e._extensions
    e.sql("LOAD vector;")
    assert e.sql("SELECT vec_l2norm(array(3.0D, 4.0D)) AS n").first()["n"] == 5.0


def test_switch_scale_factor_mid_session(spark):
    """register_tables must re-point views when the sf dir changes in one
    session (the driver switches sf0.001 → sf0.01 this way)."""
    from duckdb_read_spark.catalog import register_tables

    register_tables(spark, "/root/testdata/sf0.001", force=True)
    n_small = spark.table("lineitem").count()
    register_tables(spark, "/root/testdata/sf0.01")
    n_big = spark.table("lineitem").count()
    register_tables(spark, "/root/testdata/sf0.001")
    n_small2 = spark.table("lineitem").count()
    assert n_small == n_small2 == 6000 and n_big == 60000


def test_ansi_mode_errors_like_reference(engine):
    """D3/§2.4.10: ANSI on — div-by-zero and bad casts raise, matching the
    reference engine's error-not-null behavior."""
    import pytest as _pytest
    from pyspark.errors import ArithmeticException, NumberFormatException

    with _pytest.raises(ArithmeticException):
        engine.sql("SELECT 1 DIV 0").collect()
    with _pytest.raises(NumberFormatException):
        engine.sql("SELECT CAST('abc' AS INT)").collect()


def test_write_sorted_parquet_roundtrip_and_clustering(engine, tmp_path):
    from duckdb_read_spark.sources import write_sorted_parquet

    src = engine.sql("SELECT o_orderkey, o_totalprice FROM orders")
    p = str(tmp_path / "orders_sorted")
    write_sorted_parquet(src, p, ["o_orderkey"], partitions=4)
    back = engine.spark.read.parquet(p)
    assert _rows(back) == _rows(src)
    # clustering: each file's key range must not overlap others (range
    # partitioning guarantee — the property that makes min/max stats prune)
    import pyarrow.parquet as pq
    import glob

    ranges = []
    for f in glob.glob(p + "/*.parquet"):
        t = pq.read_table(f, columns=["o_orderkey"])["o_orderkey"].to_pylist()
        if t:
            ranges.append((min(t), max(t)))
    ranges.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi <= b_lo


def test_time_partitioned_materialization_restores_pushdown(engine, spark, tmp_path):
    """SCALE.md §3.4: the ns-shim view cannot push ts predicates to the
    scan; the time-partitioned rewrite must restore both partition pruning
    and row-group pushdown."""
    from duckdb_read_spark.plans.inspect import physical_plan
    from duckdb_read_spark.sources.sinks import write_time_partitioned

    ev = engine.table("events")
    path = str(tmp_path / "events_by_day")
    write_time_partitioned(ev, path, ts_col="ts", granularity="day")

    back = spark.read.parquet(path)
    # roundtrip: same events
    assert back.count() == ev.count()

    # partition pruning: filtering the partition column shows partition
    # filters in the scan, and ts predicates now push down
    plan = physical_plan(
        back.filter((back["p_date"] == "2024-01-02")
                    & (back["ts"] > "2024-01-02 06:00:00"))
    )
    assert "PartitionFilters" in plan and "p_date" in plan.split("PartitionFilters", 1)[1][:200]
    pushed = plan.split("PushedFilters:", 1)[1][:200] if "PushedFilters:" in plan else ""
    assert "ts" in pushed, plan[:1500]

    # the ns-shim view, by contrast, cannot push the RANGE predicate (only
    # a bare IsNotNull on the raw bigint survives). Fixtures written with
    # plain µs footers read ts natively (no shim) and push directly — the
    # shim-blocks-pushdown claim only applies when the shim is active.
    raw_ts_type = dict(spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet").dtypes).get("ts")
    shim_plan = physical_plan(ev.filter(ev["ts"] > "2024-01-02 06:00:00"))
    shim_pushed = shim_plan.split("PushedFilters:", 1)[1][:200] if "PushedFilters:" in shim_plan else ""
    if raw_ts_type == "bigint":
        assert "GreaterThan(ts" not in shim_pushed
    else:
        assert "GreaterThan(ts" in shim_pushed  # native read pushes down


def test_read_table_functions(engine, spark, tmp_path):
    """DuckDB's read_parquet/read_csv/read_json table functions: query
    files directly, no registration; ns-ts shim applied on parquet;
    blocked in safe mode (file access IS external access)."""
    n = engine.sql(
        "SELECT COUNT(*) AS n FROM "
        "read_parquet('/root/testdata/sf0.001/region.parquet')"
    ).first()["n"]
    assert n == 5
    # duckdb dialect + join with a registered view in the same query
    out = engine.sql(
        "SELECT r_name, len(r_name) AS l FROM "
        "read_parquet('/root/testdata/sf0.001/region.parquet') "
        "ORDER BY r_name LIMIT 2",
        dialect="duckdb",
    ).collect()
    assert [r["r_name"] for r in out] == ["AFRICA", "AMERICA"]
    # events parquet: the ns-timestamp shim must apply (ts usable as ts)
    r = engine.sql(
        "SELECT MIN(ts) AS t FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')").first()
    assert r["t"] is not None and not isinstance(r["t"], int)
    # csv: header + inference like DuckDB's sniffer
    p = tmp_path / "t.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    rows = engine.sql(
        f"SELECT a, b FROM read_csv('{p}') ORDER BY a").collect()
    assert [(r["a"], r["b"]) for r in rows] == [(1, "x"), (2, "y")]
    assert engine.sql(
        f"SELECT COUNT(*) AS n FROM read_csv_auto('{p}')").first()["n"] == 2
    # a read_parquet inside a string literal stays verbatim
    lit = engine.sql("SELECT 'read_parquet(''x'')' AS s").first()["s"]
    assert lit == "read_parquet('x')"
    # glob() lists files, one sorted `file` column
    files = [r["file"] for r in engine.sql(
        "SELECT file FROM glob('/root/testdata/sf0.001/*.parquet') "
        "ORDER BY file").collect()]
    assert any(f.endswith("region.parquet") for f in files)
    assert len(files) == 10 and files == sorted(files)
    # safe mode blocks
    from duckdb_read_spark import Engine

    safe = Engine(spark=spark, extensions_allowed=False)
    with pytest.raises(PermissionError, match="safe mode"):
        safe.sql("SELECT * FROM read_parquet('/root/testdata/sf0.001/region.parquet')")
    with pytest.raises(PermissionError, match="safe mode"):
        safe.sql("SELECT * FROM glob('/root/testdata/sf0.001/*')")


def test_glob_and_read_func_in_one_query(engine):
    """ADVICE r4: literal/comment spans must be recomputed after the
    glob() rewrite shifts offsets — a read_parquet FOLLOWING a glob()
    call in the same query must still resolve."""
    row = engine.sql(
        "SELECT COUNT(*) AS nf, MAX(r.r_regionkey) AS mk "
        "FROM glob('/root/testdata/sf0.001/*.parquet') g "
        "CROSS JOIN read_parquet('/root/testdata/sf0.001/region.parquet') r"
    ).first()
    assert row["nf"] == 50 and row["mk"] == 4  # 10 files × 5 regions
    # and a read_* genuinely inside a literal AFTER a glob stays verbatim
    r2 = engine.sql(
        "SELECT file, 'read_parquet(''x'')' AS s "
        "FROM glob('/root/testdata/sf0.001/region.parquet')").first()
    assert r2["s"] == "read_parquet('x')"


def test_read_csv_options_cross_engine(engine, tmp_path):
    """VERDICT r4 #4: read_csv named options (delim, header, quote,
    columns) — the same SQL text runs verbatim in DuckDB and returns the
    same rows."""
    import duckdb

    p = tmp_path / "opts.csv"
    p.write_text('a|b|c\n1|x|2.5\n2|"y|z"|3.5\n')
    sql = (f"SELECT a, b, c FROM read_csv('{p}', delim='|', header=true, "
           "quote='\"') ORDER BY a")
    srows = [(r["a"], r["b"], r["c"]) for r in engine.sql(sql).collect()]
    drows = [tuple(r) for r in duckdb.connect().execute(sql).fetchall()]
    assert srows == drows == [(1, "x", 2.5), (2, "y|z", 3.5)]
    # headerless + columns= (declared names AND types, no inference)
    p2 = tmp_path / "nohdr.csv"
    p2.write_text("1;x\n2;y\n")
    sql2 = (f"SELECT k, v FROM read_csv('{p2}', delim=';', header=false, "
            "columns={'k': 'INTEGER', 'v': 'VARCHAR'}) ORDER BY k")
    srows2 = [(r["k"], r["v"]) for r in engine.sql(sql2).collect()]
    drows2 = [tuple(r) for r in duckdb.connect().execute(sql2).fetchall()]
    assert srows2 == drows2 == [(1, "x"), (2, "y")]
    assert dict(engine.sql(sql2).dtypes)["k"] == "int"
    # unrecognized option raises instead of silently dropping
    with pytest.raises(ValueError, match="unrecognized option"):
        engine.sql(f"SELECT * FROM read_csv('{p}', bogus=1)")


def test_len_dispatch_is_schema_aware(engine, spark):
    """VERDICT r4 #1: len() on a registered column resolves by the
    column's ACTUAL type, not the ARRAY_COLUMN_HINTS name list — an
    array column NOT named 'embedding' gets size(), a string column
    gets length(), and neither path warns."""
    import warnings

    spark.createDataFrame(
        [([1, 2, 3], "abc"), ([4], "de")], "vals array<int>, txt string"
    ).createOrReplaceTempView("lendisp")
    engine._bump_registration_epoch()
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any heuristic warning fails
        rows = engine.sql(
            "SELECT len(vals) AS lv, len(txt) AS lt FROM lendisp ORDER BY lt",
            dialect="duckdb").collect()
    assert [(r["lv"], r["lt"]) for r in rows] == [(1, 2), (3, 3)]
    # qualified references resolve too
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        r = engine.sql(
            "SELECT len(t.vals) AS lv FROM lendisp t ORDER BY lv LIMIT 1",
            dialect="duckdb").first()
    assert r["lv"] == 1
    # string columns of fixture tables stay warning-free as well
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        r = engine.sql(
            "SELECT len(r_name) AS l FROM region ORDER BY l LIMIT 1",
            dialect="duckdb").first()
    assert r["l"] == 4  # ASIA
    spark.catalog.dropTempView("lendisp")
    engine._bump_registration_epoch()


def test_safe_mode_blocks_copy(engine, spark, tmp_path):
    """ADVICE r4: COPY TO / COPY FROM are file access and must honor
    safe mode like the read_* table functions."""
    from duckdb_read_spark import Engine

    safe = Engine(spark=spark, extensions_allowed=False,
                  warehouse_dir=str(tmp_path / "wh"))
    safe.sql("CREATE TABLE tc AS SELECT 1 AS a")
    with pytest.raises(PermissionError, match="safe mode"):
        safe.sql(f"COPY tc TO '{tmp_path / 'out.parquet'}'")
    with pytest.raises(PermissionError, match="safe mode"):
        safe.sql(f"COPY tc FROM '{tmp_path / 'in.csv'}'")


def test_describe_and_show_tables(engine):
    """DuckDB introspection surface: DESCRIBE gives (column_name,
    column_type, null) rows in schema order; SHOW TABLES one sorted
    name column."""
    rows = engine.sql("DESCRIBE region").collect()
    assert [r["column_name"] for r in rows] == engine.table("region").columns
    types = {r["column_name"]: r["column_type"] for r in rows}
    # r10: duck type spellings + the 6-column duck DESCRIBE shape
    assert types["r_regionkey"] in ("INTEGER", "BIGINT")
    assert types["r_name"] == "VARCHAR"
    assert all(r["null"] in ("YES", "NO") for r in rows)
    assert rows[0].__fields__ == ["column_name", "column_type", "null",
                                  "key", "default", "extra"]
    assert engine.sql("DESC region").count() == len(rows)
    names = [r["name"] for r in engine.sql("SHOW TABLES").collect()]
    assert "lineitem" in names and names == sorted(names)


def test_summarize_statement_and_api(engine):
    """DuckDB's SUMMARIZE t analog: SQL statement and API give a row per
    column with profile stats."""
    via_sql = engine.sql("SUMMARIZE documents").collect()
    via_api = engine.summarize("documents").collect()
    assert [r["column"] for r in via_sql] == sorted(engine.table("documents").columns)
    assert via_sql == via_api
    row = {r["column"]: r for r in via_sql}["doc_id"]
    assert row["n_nulls"] == 0 and row["n_rows"] > 0


def test_copy_statement_parquet_and_csv(engine, tmp_path):
    """DuckDB COPY analog: subquery → parquet dir, table → csv dir."""
    p1 = str(tmp_path / "copy_out")
    engine.sql(f"COPY (SELECT n_nationkey, n_name FROM nation) TO '{p1}' (FORMAT PARQUET)")
    back = engine.spark.read.parquet(p1)
    assert back.count() == 25 and set(back.columns) == {"n_nationkey", "n_name"}
    p2 = str(tmp_path / "copy_out.csv")
    engine.sql(f"COPY region TO '{p2}'")
    got = engine.spark.read.option("header", "true").csv(p2)
    assert got.count() == 5


def test_copy_statement_options(engine, tmp_path):
    """COPY options are honored (HEADER false, DELIMITER, PARTITION_BY with
    nested parens) and unknown keys raise instead of silently dropping
    (ADVICE r2)."""
    p = str(tmp_path / "nohdr_csv")
    engine.sql(
        f"COPY (SELECT n_nationkey, n_name FROM nation) TO '{p}' "
        "(FORMAT csv, HEADER false, DELIMITER '|')"
    )
    got = engine.spark.read.option("header", "false").option("sep", "|").csv(p)
    assert got.count() == 25 and len(got.columns) == 2
    p2 = str(tmp_path / "part_parquet")
    engine.sql(
        f"COPY (SELECT r_regionkey, r_name FROM region) TO '{p2}' "
        "(FORMAT parquet, PARTITION_BY (r_regionkey))"
    )
    import glob

    assert len(glob.glob(p2 + "/r_regionkey=*")) == 5
    with pytest.raises(ValueError, match="unrecognized option"):
        engine.sql(f"COPY region TO '{tmp_path}/x' (FORMAT csv, FROBNICATE 1)")
    with pytest.raises(ValueError, match="only apply to FORMAT csv"):
        engine.sql(f"COPY region TO '{tmp_path}/y' (FORMAT parquet, HEADER false)")


def test_copy_csv_header_writes_no_header_only_part(engine, spark, tmp_path):
    """COPY … TO csv with HEADER leaves no header-only part file for an
    empty partition, so DuckDB's sniffer over ``dir/*.csv`` reads integer
    columns rather than VARCHAR; an empty result keeps exactly one."""
    import glob

    import duckdb

    rows = spark.sparkContext.parallelize([(1, 10), (2, 20)], 4)
    spark.createDataFrame(rows, "a INT, b INT").createOrReplaceTempView("hdr2")
    out = str(tmp_path / "two.csv")
    engine.sql(f"COPY hdr2 TO '{out}' (FORMAT csv, HEADER)")
    rel = duckdb.sql(f"SELECT * FROM read_csv('{out}/*.csv', header=true) ORDER BY a")
    assert [str(t) for t in rel.types] == ["BIGINT", "BIGINT"]
    assert rel.fetchall() == [(1, 10), (2, 20)]
    empty = str(tmp_path / "none.csv")
    engine.sql(f"COPY (SELECT * FROM hdr2 WHERE a > 5) TO '{empty}' (FORMAT csv, HEADER)")
    parts = glob.glob(empty + "/part-*")
    assert len(parts) == 1
    with open(parts[0]) as f:
        assert f.read().split() == ["a,b"]


def test_explain_statement_and_analyze(engine):
    plan = engine.sql(
        "EXPLAIN SELECT l_orderkey FROM lineitem WHERE l_orderkey < 10"
    ).first()["explain_value"]
    assert "PushedFilters" in plan
    ran = engine.sql(
        "EXPLAIN ANALYZE SELECT COUNT(*) AS n FROM region"
    ).first()["explain_value"]
    assert "HashAggregate" in ran or "Aggregate" in ran


def test_zorder_key_interleaves_bits(spark):
    from duckdb_read_spark.sources.sinks import zorder_key

    df = spark.range(1).select(
        F.lit(3).alias("x"),  # 0b11
        F.lit(0).alias("y"),  # 0b00
    )
    # 2-bit, 2-col: x occupies even bit positions, y odd → key = 0b0101 = 5
    key = df.select(
        zorder_key([(F.col("x"), 0, 3), (F.col("y"), 0, 3)], bits=2).alias("k")
    ).first()["k"]
    assert key == 0b0101
    # swapping values moves the bits to the odd positions
    key2 = df.select(
        zorder_key([(F.col("y"), 0, 3), (F.col("x"), 0, 3)], bits=2).alias("k")
    ).first()["k"]
    assert key2 == 0b1010


def test_zorder_key_rejects_bit_overflow(spark):
    """bits * n_cols > 63 would wrap JVM shifts mod 64 and scramble the
    interleave (ADVICE r2) — must raise, and the writer auto-reduces."""
    from duckdb_read_spark.sources.sinks import zorder_key

    with pytest.raises(ValueError, match="exceeds 63"):
        zorder_key([(F.col(c), 0, 1) for c in ("a", "b", "c", "d", "e", "f")],
                   bits=12)
    # 5 cols x 12 bits = 60 <= 63 is fine
    zorder_key([(F.col(c), 0, 1) for c in ("a", "b", "c", "d", "e")], bits=12)


def test_write_zordered_clusters_both_dims(engine, spark, tmp_path):
    """Z-ordered files: a box predicate on BOTH dims touches a strict
    subset of files (multi-dim clustering a 1-d sort can't provide)."""
    import glob

    from duckdb_read_spark.sources.sinks import write_zordered_parquet

    src = engine.sql(
        "SELECT l_orderkey, l_partkey, l_suppkey, l_quantity FROM lineitem"
    )
    path = str(tmp_path / "li_z")
    write_zordered_parquet(src, path, ["l_partkey", "l_suppkey"], partitions=8)
    files = sorted(glob.glob(path + "/part-*.parquet"))
    assert len(files) > 2
    # per-file bounding boxes: a file holding a corner of (part, supp) space
    # must not also hold the opposite corner
    import pyarrow.parquet as pq

    boxes = []
    for f in files:
        t = pq.read_table(f, columns=["l_partkey", "l_suppkey"])
        pk, sk = t.column(0).to_pylist(), t.column(1).to_pylist()
        if pk:
            boxes.append((min(pk), max(pk), min(sk), max(sk)))
    pk_lo = min(b[0] for b in boxes); pk_hi = max(b[1] for b in boxes)
    sk_lo = min(b[2] for b in boxes); sk_hi = max(b[3] for b in boxes)
    # files whose box intersects the low-low quadrant
    def hits(b, pk_mid, sk_mid):
        return b[0] <= pk_mid and b[2] <= sk_mid
    pk_mid = pk_lo + (pk_hi - pk_lo) / 4
    sk_mid = sk_lo + (sk_hi - sk_lo) / 4
    touching = sum(hits(b, pk_mid, sk_mid) for b in boxes)
    assert touching < len(boxes), (touching, len(boxes))
    # and the data survives intact
    assert spark.read.parquet(path).count() == src.count()


# --- ATTACH / DETACH: multiple catalogs in one session --------------------

def test_attach_two_warehouses_and_join(engine, tmp_path):
    """ATTACH registers every table of a warehouse dir under db.-qualified
    names; queries join across two attached catalogs; DETACH removes them.
    Versioned tables keep their full surface (time travel) through the
    attached name."""
    from duckdb_read_spark import Engine

    eng = Engine(spark=engine.spark, warehouse_dir=str(tmp_path / "local"))
    # warehouse 1: one versioned table (via the snapshot log)
    wh1 = tmp_path / "wh1"
    dims = eng.spark.createDataFrame(
        [(1, "eu"), (2, "us"), (3, "apac")], "region_id int, region string")
    eng.write_versioned(dims, str(wh1 / "regions"))
    # warehouse 2: one loose parquet table
    wh2 = tmp_path / "wh2"
    facts = eng.spark.createDataFrame(
        [(10, 1, 5.0), (11, 2, 7.5), (12, 1, 2.5)],
        "sale_id int, region_id int, amount double")
    facts.write.parquet(str(wh2 / "sales.parquet"))

    eng.sql(f"ATTACH '{wh1}' AS store")
    eng.sql(f"ATTACH DATABASE '{wh2}' AS mart")
    assert [r.name for r in eng.sql("SHOW TABLES FROM store").collect()] == ["regions"]
    assert [r.name for r in eng.sql("SHOW TABLES IN mart").collect()] == ["sales"]

    out = eng.sql(
        "SELECT r.region, sum(s.amount) AS total "
        "FROM mart.sales s JOIN store.main.regions r USING (region_id) "
        "GROUP BY r.region ORDER BY r.region")
    assert [tuple(r) for r in out.collect()] == [("eu", 7.5), ("us", 7.5)]

    # attached versioned tables time-travel by qualified name
    eng.write_versioned(
        eng.spark.createDataFrame([(4, "latam")], "region_id int, region string"),
        str(wh1 / "regions"), mode="append")
    eng.attach(str(wh1), "store2")  # fresh attach sees the append
    assert eng.sql("SELECT count(*) AS n FROM store2.regions").collect()[0].n == 4
    assert eng.sql(
        "SELECT count(*) AS n FROM store2.regions VERSION AS OF 1"
    ).collect()[0].n == 3

    # DESCRIBE and Engine.table resolve qualified names
    assert eng.table("mart.sales").count() == 3
    cols = [r.column_name for r in eng.sql("DESCRIBE mart.sales").collect()]
    assert cols == ["sale_id", "region_id", "amount"]

    # a table name inside a string literal never rewrites
    lit = eng.sql("SELECT 'mart.sales' AS s").collect()[0].s
    assert lit == "mart.sales"

    eng.sql("DETACH store")
    with pytest.raises(Exception):
        eng.sql("SELECT * FROM store.regions").collect()
    with pytest.raises(ValueError):
        eng.detach("store")
    # double-attach of a live name is rejected
    with pytest.raises(ValueError):
        eng.attach(str(wh2), "mart")
    eng.sql("DETACH DATABASE mart")
    eng.detach("store2")


def test_attach_blocked_in_safe_mode(engine, tmp_path):
    from duckdb_read_spark import Engine

    eng = Engine(spark=engine.spark, extensions_allowed=False)
    with pytest.raises(PermissionError):
        eng.sql(f"ATTACH '{tmp_path}' AS x")


# --- one lexical rule: literals, -- comments, ( [ { depth -----------------

_LEXICAL_CASES = {
    # a quoted ',' option value is not an option separator
    "copy_quoted_comma": (
        None, "COPY lex_t TO '{out}' (FORMAT csv, DELIMITER ',', HEADER)"),
    # a '(' inside a comment opens no depth before the SELECT
    "from_first_comment": (None, "FROM lex_t -- pick (\nSELECT a"),
    # a ')' inside a comment closes no macro call
    "macro_arg_comment": ("CREATE OR REPLACE MACRO lex_add1(x) AS x + 1",
                          "SELECT lex_add1(a -- one )\n) AS r FROM lex_t"),
    # a list literal's comma does not split macro arguments...
    "macro_list_arg": ("CREATE OR REPLACE MACRO lex_first_el(l) AS l[1]",
                       "SELECT lex_first_el([7,8]) AS r"),
    # ...nor EXECUTE arguments
    "execute_list_arg": ("PREPARE lex_s AS SELECT $1 AS l, $2 AS x",
                         "EXECUTE lex_s([1,2], 3)"),
    # a quoted ',' inside a read_* list option is one element
    "read_csv_list_option": (
        None, "SELECT c FROM read_csv('{csv}', names=['a,b', 'c'])"),
    # a ' inside a quoted identifier, a dollar-quoted string or an E'…'
    # escape string opens no literal before UNION BY NAME or FROM-first
    "union_by_name_quoted_ident": (
        None, "SELECT 1 AS \"a'b\", 2 AS c UNION BY NAME "
              "SELECT 3 AS c, 4 AS \"a'b\""),
    "from_first_quoted_ident": (
        None, "FROM (SELECT 1 AS \"a'b\", 'x' AS c) t SELECT c, \"a'b\""),
    "union_by_name_dollar_string": (
        None, "SELECT $$it's$$ AS s, 1 AS n UNION BY NAME "
              "SELECT 2 AS n, 'x' AS s"),
    "union_by_name_escape_string": (
        None, "SELECT E'it\\'s' AS s, 1 AS n UNION BY NAME "
              "SELECT 2 AS n, 'x' AS s"),
    # a macro body's trailing comment does not swallow the call's ')'
    "macro_body_comment": (
        "CREATE OR REPLACE MACRO lex_m(x) AS x + 1 -- note",
        "SELECT lex_m(a) AS r FROM lex_t WHERE a > 1"),
    # a ';' inside a dollar-quoted or escape string splits no script
    "script_dollar_string": (None, "SELECT $$a;b$$ AS s; SELECT 2 AS n"),
    "script_escape_string": (None, "SELECT E'a\\';b' AS s"),
}


@pytest.mark.parametrize("case", sorted(_LEXICAL_CASES))
def test_front_end_lexical_rule_matches_duckdb(engine, duck, tmp_path, case):
    """Statements whose literals, comments or list brackets the front end
    once scanned by different rules give DuckDB's result."""
    setup, stmt = _LEXICAL_CASES[case]
    csv = tmp_path / "in.csv"
    csv.write_text("p,q\n1,2\n3,4\n")
    engine.spark.createDataFrame([(1,), (2,)], "a int") \
        .createOrReplaceTempView("lex_t")
    duck.execute("CREATE OR REPLACE TABLE lex_t AS "
                 "SELECT * FROM (VALUES (1), (2)) v(a)")
    if setup:
        engine.sql(setup, dialect="duckdb")
        duck.execute(setup)
    if case.startswith("script"):
        # statement by statement, split the way DuckDB splits the script
        got = [normalize_rows(tuple(r) for r in df.collect())
               for df in engine.execute(stmt, dialect="duckdb")]
        want = [normalize_rows(duck.execute(st.query).fetchall())
                for st in duck.extract_statements(stmt)]
        assert got == want
        return
    if case.startswith("copy"):
        engine.sql(stmt.format(out=tmp_path / "e.csv"), dialect="duckdb")
        duck.execute(stmt.format(out=tmp_path / "d.csv"))
        # typed by name: Spark also writes a header-only part file
        got, want = (duck.execute(
            f"SELECT CAST(a AS INTEGER) FROM read_csv('{p}', header=true)"
        ).fetchall() for p in (tmp_path / "e.csv" / "*.csv",
                               tmp_path / "d.csv"))
    else:
        stmt = stmt.format(csv=csv)
        got = engine.sql(stmt, dialect="duckdb").collect()
        want = duck.execute(stmt).fetchall()
    assert normalize_rows(tuple(r) for r in got) == normalize_rows(want)


# --- PREPARE / EXECUTE / DEALLOCATE ---------------------------------------

def test_prepare_execute_deallocate(engine, duck):
    """Prepared statements: the same PREPARE/EXECUTE text runs verbatim in
    DuckDB; $n and ? placeholders substitute outside string literals."""
    prep = ("PREPARE q_prep AS SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS p "
            "FROM orders WHERE o_orderkey < $1 AND o_orderstatus = $2 "
            "ORDER BY o_orderkey")
    exe = "EXECUTE q_prep(100, 'O')"
    engine.sql(prep)
    got = _rows(engine.sql(exe))
    duck.execute(prep)
    assert got == normalize_rows(tuple(r) for r in duck.execute(exe).fetchall())

    # ? placeholders, and a literal '$1' that must never substitute
    engine.sql("PREPARE q_qm AS SELECT n_name, '$1' AS tag FROM nation "
               "WHERE n_nationkey = ?")
    row = engine.sql("EXECUTE q_qm(3)").collect()[0]
    assert row.tag == "$1" and row.n_name is not None

    # prepared statements are re-executable with new args
    n1 = engine.sql("EXECUTE q_qm(1)").count()
    assert n1 == 1

    engine.sql("DEALLOCATE q_qm")
    with pytest.raises(ValueError):
        engine.sql("EXECUTE q_qm(1)")
    with pytest.raises(ValueError):
        engine.sql("DEALLOCATE q_qm")
    engine.sql("DEALLOCATE PREPARE q_prep")


def test_generate_series_range_table_functions(engine, duck):
    """generate_series (inclusive) and range (exclusive) table functions →
    Spark's native range TVF; same SQL text runs verbatim in DuckDB."""
    cases = [
        "SELECT * FROM generate_series(1, 5) ORDER BY 1",
        "SELECT * FROM range(0, 10, 3) AS t(i) ORDER BY i",
        "SELECT * FROM generate_series(5, 1, -2) AS t(x) ORDER BY x",
        "SELECT gs.generate_series * 2 AS d FROM generate_series(2, 8, 2) AS gs ORDER BY 1",
        "SELECT * FROM range(4) AS t(i) ORDER BY i",
        # temporal forms (VERDICT r5 item 6): DATE/TIMESTAMP + INTERVAL →
        # explode(sequence(…)); generate_series inclusive, range exclusive,
        # DATE bounds yield TIMESTAMP rows in both engines
        "SELECT * FROM generate_series(TIMESTAMP '2024-01-01', "
        "TIMESTAMP '2024-01-05', INTERVAL '1 day') ORDER BY 1",
        "SELECT * FROM generate_series(DATE '2024-01-01', "
        "DATE '2024-01-07', INTERVAL '2 days') AS t(d) ORDER BY d",
        "SELECT * FROM range(TIMESTAMP '2024-01-01', "
        "TIMESTAMP '2024-01-04', INTERVAL '1 day') AS t(ts) ORDER BY ts",
        "SELECT * FROM generate_series(TIMESTAMP '2024-01-01 00:00:00', "
        "TIMESTAMP '2024-01-01 02:30:00', INTERVAL 45 MINUTE) ORDER BY 1",
        # the gap-fill spine shape: date spine LEFT JOINed to daily counts
        "SELECT d.gs AS day, COUNT(e.event_id) AS n "
        "FROM generate_series(TIMESTAMP '2024-01-01', "
        "TIMESTAMP '2024-01-10', INTERVAL '1 day') AS d(gs) "
        "LEFT JOIN events e ON CAST(e.ts AS DATE) = CAST(d.gs AS DATE) "
        "GROUP BY d.gs ORDER BY d.gs",
    ]
    for q in cases:
        got = _rows(engine.sql(q, dialect="duckdb"))
        want = normalize_rows(tuple(r) for r in duck.execute(q).fetchall())
        assert got == want, q


def test_show_databases_and_describe_query(engine):
    from duckdb_read_spark import Engine

    eng = Engine(spark=engine.spark)
    assert eng.sql("SHOW DATABASES").count() == 0
    eng.sql("ATTACH '/root/testdata/sf0.001' AS fix")
    assert [r.name for r in eng.sql("SHOW DATABASES").collect()] == ["fix"]
    rows = [tuple(r) for r in eng.sql(
        "DESCRIBE SELECT n_nationkey AS k, n_name FROM fix.nation").collect()]
    assert rows[0][0] == "k" and rows[1][0] == "n_name"
    eng.detach("fix")


def test_columns_star_expression(engine, duck):
    """DuckDB COLUMNS('regex') star expressions — bare and wrapped forms
    run verbatim in both engines with identical output columns/rows."""
    cases = [
        "SELECT COLUMNS('key$') FROM nation ORDER BY n_nationkey",
        "SELECT min(COLUMNS('n_.*key')) FROM nation",
        "SELECT n_name, COLUMNS('key$') FROM nation ORDER BY n_nationkey",
        "SELECT max(COLUMNS(*)) FROM region",
    ]
    for q in cases:
        sdf = engine.sql(q, dialect="duckdb")
        rel = duck.execute(q)
        assert sdf.columns == [d[0] for d in rel.description], q
        assert _rows(sdf) == normalize_rows(tuple(r) for r in rel.fetchall()), q
    with pytest.raises(ValueError):
        engine.sql("SELECT COLUMNS('zzz') FROM nation", dialect="duckdb")


def test_star_replace_expression(engine, duck):
    cases = [
        "SELECT * REPLACE (upper(n_name) AS n_name) FROM nation ORDER BY n_nationkey",
        "SELECT * REPLACE (n_nationkey * 10 AS n_nationkey, upper(n_name) AS n_name) "
        "FROM nation ORDER BY n_nationkey",
    ]
    for q in cases:
        sdf = engine.sql(q, dialect="duckdb")
        rel = duck.execute(q)
        assert sdf.columns == [d[0] for d in rel.description], q
        assert _rows(sdf) == normalize_rows(tuple(r) for r in rel.fetchall()), q
    with pytest.raises(ValueError):
        engine.sql("SELECT * REPLACE (1 AS nope) FROM nation", dialect="duckdb")


def test_list_comprehension_cross_engine(engine, duck):
    cases = [
        "SELECT n_nationkey AS k, [x * 2 FOR x IN [1, 2, n_nationkey] IF x > 1] AS l "
        "FROM nation ORDER BY k",
        "SELECT n_nationkey AS k, "
        "[upper(s) FOR s IN string_split(n_name, 'A') IF s <> ''] AS l "
        "FROM nation ORDER BY k",
    ]
    for q in cases:
        got = _rows(engine.sql(q, dialect="duckdb"))
        want = normalize_rows(tuple(r) for r in duck.execute(q).fetchall())
        assert got == want, q


def test_function_alias_renames_cross_engine(engine, duck):
    q = ("SELECT n_nationkey AS k, "
         "printf('%s-%d', n_name, n_nationkey) AS a, "
         "array_length(str_split(n_name, 'A')) AS b, "
         "list_value(n_nationkey, n_regionkey)[1] AS c, "
         "string_to_array(n_name, 'R')[1] AS d, "
         "regexp_split_to_array(n_name, '[AEIOU]')[1] AS e, "
         "to_hex(n_nationkey) AS f, "
         "ucase(lcase(n_name)) AS g, strlen(n_name) AS h "
         "FROM nation ORDER BY k")
    got = _rows(engine.sql(q, dialect="duckdb"))
    want = normalize_rows(tuple(r) for r in duck.execute(q).fetchall())
    assert got == want


def test_use_database_search_path(engine, tmp_path):
    from duckdb_read_spark import Engine

    eng = Engine(spark=engine.spark, warehouse_dir=str(tmp_path / "wh"))
    wh = tmp_path / "ext"
    eng.write_versioned(
        eng.spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
        str(wh / "widgets"))
    eng.spark.createDataFrame([(9,)], "z int").write.parquet(
        str(wh / "gizmos.parquet"))
    eng.sql(f"ATTACH '{wh}' AS ext")
    with pytest.raises(Exception):
        engine.spark.table("widgets")  # not reachable bare before USE
    eng.sql("USE ext")
    assert eng.sql("SELECT count(*) AS n FROM widgets").collect()[0].n == 2
    assert eng.sql("SELECT z FROM gizmos").collect()[0].z == 9
    # a locally-registered name shadows the attached one (search path)
    eng.spark.createDataFrame([(0,)], "only int") \
        .createOrReplaceTempView("widgets2")
    # DML through the qualified name stays visible through the bare alias
    eng.sql("INSERT INTO ext.widgets VALUES (3, 'c')")
    assert eng.sql("SELECT count(*) AS n FROM widgets").collect()[0].n == 3
    eng.sql("USE main")
    with pytest.raises(Exception):
        eng.sql("SELECT * FROM widgets").collect()
    with pytest.raises(ValueError):
        eng.sql("USE nosuchdb")
    eng.detach("ext")


def test_summarize_query_form(engine):
    out = engine.sql(
        "SUMMARIZE SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 10")
    rows = {r.column: r for r in out.collect()}
    assert set(rows) == {"n_nationkey", "n_name"}
    assert rows["n_nationkey"].n_rows == 10


def test_struct_and_map_literals_cross_engine(engine, duck):
    cases = [
        "SELECT n_nationkey AS k, {'id': n_nationkey, 'nm': n_name}.nm AS nm "
        "FROM nation ORDER BY k",
        "SELECT n_nationkey AS k, "
        "map_extract(MAP {'r': n_regionkey, 'n': n_nationkey}, 'r')[1] AS r "
        "FROM nation ORDER BY k",
    ]
    for q in cases:
        got = _rows(engine.sql(q, dialect="duckdb"))
        want = normalize_rows(tuple(r) for r in duck.execute(q).fetchall())
        assert got == want, q


def test_strlen_bytes_and_null_map_values_cross_engine(engine, duck):
    """Review findings r5: strlen counts BYTES (maps to octet_length, not
    length), and map_extract on a NULL-valued key gives [NULL], distinct
    from [] for a missing key."""
    cases = [
        "SELECT strlen('café') AS b",
        "SELECT map_extract(map(['a','b'], [NULL, 2]), 'a') AS v",
        "SELECT map_extract(map(['a','b'], [NULL, 2]), 'z') AS v",
    ]
    for q in cases:
        got = _rows(engine.sql(q, dialect="duckdb"))
        want = normalize_rows(tuple(r) for r in duck.execute(q).fetchall())
        assert got == want, q


def test_vector_functions_cross_engine(engine, duck):
    """DuckDB 1.0.0 vector trio (list_cosine_similarity / list_inner_product
    incl. the list_dot_product alias / list_distance) — verbatim text in both
    engines, including the measured zero-norm -> -1.0 and NULL-list -> NULL
    pins. Length-mismatch/NULL-element inputs are excluded: DuckDB errors
    there while the Spark composition returns NULL (documented divergence)."""
    cases = [
        "SELECT n_nationkey AS k, "
        "list_cosine_similarity([1.0, 2.0, n_nationkey], [4.0, 5.0, 6.0]) AS cs, "
        "list_inner_product([n_nationkey, 2], [3, 4]) AS ip, "
        "list_dot_product([1.0, n_nationkey], [2.0, 2.0]) AS dp, "
        "list_distance([n_nationkey, 2.0], [4.0, 6.0]) AS d "
        "FROM nation ORDER BY k",
        # zero-norm pin (-1.0, not NaN/NULL) and NULL propagation —
        # including NULL beside a zero-norm side, where the IS NULL arm
        # must win over the zero-norm arm (review pin)
        "SELECT list_cosine_similarity([0.0, 0.0], [1.0, 2.0]) AS z1, "
        "list_cosine_similarity([1.0, 2.0], [0.0, 0.0]) AS z2, "
        "list_cosine_similarity([1.0, 2.0], NULL) AS n1, "
        "list_inner_product(NULL, [1.0, 2.0]) AS n2, "
        "list_distance(NULL, [1.0, 2.0]) AS n3, "
        "list_cosine_similarity(NULL, [0.0, 0.0]) AS nz",
        # negative similarity and integer lists -> DOUBLE
        "SELECT list_cosine_similarity([1.0, 0.0], [-1.0, 0.0]) AS neg, "
        "list_inner_product([1, 2], [3, 4]) AS ints",
    ]
    for q in cases:
        got = _rows(engine.sql(q, dialect="duckdb"))
        want = normalize_rows(tuple(r) for r in duck.execute(q).fetchall())
        assert got == want, q


def test_cosine_distance_spelling(engine):
    """list/array_cosine_distance (DuckDB >= 1.1, no oracle twin here) =
    1 - similarity; pinned against the similarity spelling."""
    a = _rows(engine.sql(
        "SELECT 1.0 - list_cosine_similarity([1.0, 2.0], [2.0, 4.0]) AS v",
        dialect="duckdb"))
    b = _rows(engine.sql(
        "SELECT list_cosine_distance([1.0, 2.0], [2.0, 4.0]) AS v",
        dialect="duckdb"))
    assert a == b
    c = _rows(engine.sql(
        "SELECT array_cosine_distance([1.0, 2.0], [2.0, 4.0]) AS v",
        dialect="duckdb"))
    assert a == c


def test_power_operator_cross_engine(engine, duck):
    """DuckDB ``^``/``**`` is POWER (Spark's ^ is XOR — a silent wrong
    answer before this rewrite). Measured binding pins: left-assoc,
    tighter than * and -, LHS unary sign binds tighter ((-2)^2 = 4),
    RHS absorbs a sign (2^-2 = 0.25)."""
    cases = [
        "SELECT 2 ^ 3 ^ 2 AS a, -2 ^ 2 AS b, 2 ^ -2 AS c, "
        "2 * 3 ^ 2 AS d, 3 - 2 ^ 2 AS e, 2 ** 10 AS f",
        "SELECT n_nationkey AS k, (n_nationkey + 1) ^ 2 AS p, "
        "sqrt(n_nationkey) ** 2 AS q FROM nation ORDER BY k",
        # ::-cast and CASE operands (review fix: previously mangled)
        "SELECT '3'::INTEGER ^ 2 AS a, 2 ^ '3'::INTEGER AS b, "
        "2 ^ CASE WHEN 1 = 1 THEN 3 ELSE 2 END AS c, "
        "CASE WHEN 1 = 1 THEN 3 ELSE 2 END ^ 2 AS d",
    ]
    for q in cases:
        got = _rows(engine.sql(q, dialect="duckdb"))
        want = normalize_rows(tuple(r) for r in duck.execute(q).fetchall())
        assert got == want, q


def test_function_tranche_r6b_cross_engine(engine, duck):
    """xor / trunc(1-arg) / even / array_unique / list_count /
    mismatches+hamming / format_bytes — verbatim text both engines with
    the measured pins (format_bytes truncates the decimal and stops at
    PiB; even rounds away from zero; array_unique COUNTS distinct
    non-NULLs)."""
    cases = [
        "SELECT xor(5, 3) AS x1, xor(255, 15) AS x2, xor(-1, 5) AS x3",
        "SELECT trunc(2.7) AS t1, trunc(-2.7) AS t2, "
        "trunc(CAST(9.99 AS DOUBLE)) AS t3",
        "SELECT even(2.5) AS e1, even(-1.5) AS e2, even(0) AS e3, "
        "even(3) AS e4, even(-0.5) AS e5",
        "SELECT array_unique([1, 1, 2, NULL, NULL]) AS u, "
        "list_count([1, NULL, 2]) AS c, array_unique([]) AS ue",
        "SELECT mismatches('abc', 'abd') AS m1, "
        "hamming('abc', 'abc') AS m2, mismatches('xy', 'yx') AS m3",
        # bar(): eighth-block rendering incl. the byte-length padding
        # quirk ('███' + ONE space for width 10; 10 spaces when empty),
        # clamping, the default width 80, and NULL propagation
        "SELECT bar(3, 0, 10, 10) AS a, bar(3.5, 0, 10, 4) AS b, "
        "bar(0, 0, 10, 10) AS c, bar(10, 0, 10, 10) AS d, "
        "bar(1, 0, 3, 7) AS f, bar(11, 0, 10, 5) AS g, "
        "bar(-1, 0, 10, 5) AS h, bar(5, 0, 10) AS i, "
        "bar(NULL, 0, 10, 5) AS j, bar(0.99, 0, 8, 1) AS k, "
        "bar(0.5, 0, 10, 10) AS l, bar(1.25, 0, 10, 10) AS m, "
        "bar(9.99, 0, 10, 10) AS n, bar(9, 0, 10, 10) AS o, "
        "bar(2, 0, 10, 4) AS p, bar(0.06, 0, 10, 10) AS q2, "
        "bar(4, 0, 10, 1) AS r",
        "SELECT format_bytes(0) AS a, format_bytes(1) AS b, "
        "format_bytes(-1) AS c, format_bytes(1023) AS d, "
        "format_bytes(1024) AS f, format_bytes(1500) AS g, "
        "format_bytes(1047552) AS h, format_bytes(1048576) AS i, "
        "format_bytes(-2048) AS j, format_bytes(1099511627776) AS k, "
        "format_bytes(1152921504606846976) AS l, "
        "format_bytes(9223372036854775807) AS m, "
        "format_bytes(123456789) AS n",
    ]
    for q in cases:
        got = _rows(engine.sql(q, dialect="duckdb"))
        want = normalize_rows(tuple(r) for r in duck.execute(q).fetchall())
        assert got == want, q


def test_agg_forms_batch3_cross_engine(engine, duck):
    """Batch-3 aggregate/clause forms: 1-arg string_agg defaults the
    separator to ',' (Spark's native string_agg concatenates with NONE —
    a silent wrong answer), group_concat alias, FILTER without WHERE,
    ordered first/last -> min_by/max_by, array-of-quantiles
    quantile_disc, floored fmod/fdiv, Kahan fsum/favg. string_agg
    (DISTINCT x) without ORDER BY is excluded — set order is arbitrary
    in BOTH engines."""
    cases = [
        "SELECT string_agg(n_name) AS a FROM nation WHERE n_nationkey < 3",
        "SELECT string_agg(n_name ORDER BY n_name DESC) AS a "
        "FROM nation WHERE n_nationkey < 3",
        "SELECT group_concat(n_name) AS a, group_concat(n_name, '|') AS b "
        "FROM nation WHERE n_nationkey < 3",
        # empty group under the forced separator -> NULL, not ''
        "SELECT string_agg(n_name) FILTER (n_nationkey > 100) AS a "
        "FROM nation",
        "SELECT first(n_name ORDER BY n_nationkey) AS f, "
        "last(n_name ORDER BY n_nationkey) AS l, "
        "first(n_name ORDER BY n_nationkey DESC) AS fd FROM nation",
        # NULL ordering keys (third review): DuckDB's NULLS LAST default
        # means last() picks the NULL-keyed row — min_by/max_by alone
        # would skip it
        "SELECT first(x ORDER BY y) AS a, last(x ORDER BY y) AS b "
        "FROM (VALUES (1, 1), (2, NULL)) t(x, y)",
        "SELECT first(x ORDER BY y DESC) AS a, "
        "last(x ORDER BY y DESC) AS b "
        "FROM (VALUES (1, 1), (2, NULL), (3, 5)) t(x, y)",
        "SELECT first(x ORDER BY a, b) AS f, last(x ORDER BY a, b) AS l "
        "FROM (VALUES (1, 1, 10), (2, 1, 20), (3, 2, 99)) t(x, a, b)",
        "SELECT count(*) FILTER (n_regionkey = 1) AS c1, "
        "sum(n_nationkey) FILTER (n_regionkey > 2) AS c2 FROM nation",
        "SELECT fmod(7.5, 2.0) AS a, fmod(-7.5, 2.0) AS b, "
        "fmod(7, 2) AS c, fmod(7.5, -2.0) AS d, "
        "fdiv(9, 2) AS e2, fdiv(-7.5, 2.0) AS f",
        "SELECT quantile_disc(n_nationkey, [0.25, 0.5, 0.9]) AS q "
        "FROM nation",
        "SELECT round(fsum(c_acctbal), 4) AS s, "
        "round(favg(c_acctbal), 4) AS a FROM customer",
        "SELECT n_regionkey AS g, "
        "string_agg(n_name ORDER BY n_name) AS names "
        "FROM nation GROUP BY g ORDER BY g",
    ]
    for q in cases:
        got = _rows(engine.sql(q, dialect="duckdb"))
        want = normalize_rows(tuple(r) for r in duck.execute(q).fetchall())
        assert got == want, q


def test_trim_and_misc_batch5_cross_engine(engine, duck):
    """2-arg ltrim/rtrim/trim take (string, chars) in DuckDB but Spark's
    2-arg forms are REVERSED — emitted as TRIM(LEADING/TRAILING/BOTH …
    FROM …) since a swapped re-emission would re-trigger forever. Plus
    list_pack/array_zip aliases and constant_or_null."""
    cases = [
        "SELECT ltrim('xxaxx', 'x') AS a, rtrim('xxaxx', 'x') AS b, "
        "trim('xyaxy', 'xy') AS c, ltrim('ab', '') AS d, "
        "ltrim('', 'x') AS e2, ltrim('  pad  ') AS f, "
        "trim('  pad  ') AS g",
        "SELECT n_nationkey AS k, trim(n_name, 'N_0123456789') AS t "
        "FROM nation ORDER BY k LIMIT 5",
        "SELECT list_pack(1, 2, 3) AS p, array_zip([1, 2], [3, 4]) AS z",
        "SELECT constant_or_null(42, 1) AS a, "
        "constant_or_null(42, NULL) AS b",
    ]
    for q in cases:
        got = _rows(engine.sql(q, dialect="duckdb"))
        want = normalize_rows(tuple(r) for r in duck.execute(q).fetchall())
        assert got == want, q


def test_regex_and_literal_semantics_cross_engine(engine, duck):
    """Three coupled raw-string fixes: DuckDB string literals are RAW
    (a user '\\d+' regex silently lost its backslash in Spark's escaping
    literal parser — now every literal doubles its backslashes);
    regexp_replace replacement strings use RE2 \\1 backrefs (Java wants
    $1, and bare $ must escape); 2-arg regexp_extract defaults to group
    0, not Spark's 1. And DuckDB's split family takes LITERAL
    separators where Spark split() is regex — string_split('a|b', '|')
    split every character before the rewrite."""
    cases = [
        r"SELECT regexp_replace('john smith', '(\w+) (\w+)', '\2 \1', "
        r"'g') AS a, regexp_replace('abc', '(b)', '[\1]', 'g') AS b, "
        r"regexp_replace('a$b', '\$', 'USD', 'g') AS c, "
        r"regexp_replace('x', 'x', 'a$b', 'g') AS d, "
        r"regexp_replace('x', 'x', 'p\\q', 'g') AS e2",
        r"SELECT regexp_extract('abc123', '([a-z]+)(\d+)', 1) AS a, "
        r"regexp_extract('abc123', '([a-z]+)(\d+)', 2) AS b, "
        r"regexp_extract('abc123', '([a-z]+)(\d+)') AS c, "
        r"regexp_extract('abc', '(x)?(b)', 2) AS e2, "
        r"regexp_extract('abc', 'zzz') AS f",
        r"SELECT 'a\nb' AS raw1, length('a\nb') AS raw2, '\d+' AS raw3",
        r"SELECT regexp_matches('a7', '\d') AS m1, "
        r"'a.b' SIMILAR TO 'a\.b' AS m2, 'axb' SIMILAR TO 'a\.b' AS m3, "
        r"'a.txt' GLOB '*.txt' AS g1, 'C:\dir' GLOB 'C:\*' AS g2, "
        r"'C:*' GLOB 'C:\*' AS g3",
        r"SELECT string_split('a|b', '|') AS s1, "
        r"string_split_regex('a1b', '\d') AS s2, "
        r"string_split('a.b', '.') AS s3, string_split('a||b', '|') AS s4, "
        r"string_split('a--b', '--') AS s5, str_split('x*y', '*') AS s6, "
        r"string_to_array('p+q', '+') AS s7, split('m(n', '(') AS s8, "
        r"string_split('abc', '') AS s9, string_split('a|b|', '|') AS s10",
        r"SELECT n_nationkey AS k, string_split(n_name, '_') AS p "
        r"FROM nation ORDER BY k LIMIT 3",
        r"SELECT regexp_split_to_array('a1b22c', '[0-9]+') AS r1",
        # bare LIKE has NO default escape in DuckDB (backslash is a
        # literal); Spark defaults to '\' — explicit ESCAPE matches
        r"SELECT 'a%b' LIKE 'a\%b' AS a, 'axb' LIKE 'a\%b' AS b, "
        r"'a\xb' LIKE 'a\%b' AS c, 'a%b' LIKE 'a!%b' ESCAPE '!' AS d, "
        r"'axb' LIKE 'a!%b' ESCAPE '!' AS e2, 'abc' LIKE 'a%' AS f, "
        r"'abc' ILIKE 'A\%' AS g, 'a%' ILIKE 'A\%' AS h",
        r"SELECT n_nationkey AS k, n_name LIKE '%\_%' AS u, "
        r"n_name LIKE '%_0' AS v FROM nation ORDER BY k LIMIT 3",
    ]
    for q in cases:
        got = _rows(engine.sql(q, dialect="duckdb"))
        want = normalize_rows(tuple(r) for r in duck.execute(q).fetchall())
        assert got == want, q


def test_integer_cast_rounding_cross_engine(engine, duck):
    """DuckDB CAST to integer types ROUNDS half away from zero; Spark
    truncates — every fractional-to-int cast was a silent wrong answer.
    The decimal hop keeps BIGINT magnitudes exact and makes numeric
    strings round too. Known residual: DOUBLE exactly at .5 uses
    banker's in DuckDB; and x::INT postfix casts are not wrapped
    (documented)."""
    cases = [
        "SELECT CAST(3.7 AS INTEGER) AS a, CAST(-3.7 AS INTEGER) AS b, "
        "CAST(3.5 AS INTEGER) AS c, CAST(2.5 AS INTEGER) AS d, "
        "CAST(-2.5 AS INT) AS e2, CAST(3 AS INTEGER) AS f",
        "SELECT CAST('3.7' AS INTEGER) AS a, TRY_CAST('3.7' AS INT) AS b, "
        "TRY_CAST('nope' AS INT) AS c, "
        "CAST(0.4999999999 AS INTEGER) AS d",
        "SELECT CAST(3.7 AS BIGINT) AS a, CAST(9007199254740993.2 "
        "AS BIGINT) AS b, CAST(1.5 AS SMALLINT) AS c, "
        "CAST(1.5 AS TINYINT) AS d",
        "SELECT CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) "
        "AS cents, c_custkey AS k FROM customer ORDER BY k LIMIT 10",
        "SELECT CAST(CASE WHEN n_nationkey % 2 = 0 THEN 1.5 ELSE 2.5 END "
        "AS INT) AS r, n_nationkey AS k FROM nation ORDER BY k LIMIT 6",
        "SELECT multiply(3, 4) AS a, subtract(5, 2) AS b, "
        "add(1, 2) AS c, mod(7, 3) AS d",
    ]
    for q in cases:
        got = _rows(engine.sql(q, dialect="duckdb"))
        want = normalize_rows(tuple(r) for r in duck.execute(q).fetchall())
        assert got == want, q


def test_concat_and_string_edges_cross_engine(engine, duck):
    """concat is STRING concatenation in DuckDB: casts every argument
    and SKIPS NULLs (concat('a', NULL, 'b') = 'ab') where Spark's
    concat NULL-propagates — rewritten through concat_ws(''). left/
    right accept NEGATIVE counts ("all but n from the other end");
    substr with start 0 counts the nonexistent position against the
    length. list_concat now emits flatten(array(...)) since "concat"
    is the string rewrite."""
    cases = [
        "SELECT concat('a', NULL, 'b') AS a, concat(NULL, NULL) AS b, "
        "concat(1, 2.5, DATE '2024-01-01') AS c, concat('x') AS d",
        "SELECT left('abcde', -2) AS a, right('abcde', -2) AS b, "
        "left('abcde', 0) AS c, left('abcde', 10) AS d, "
        "right('abcde', 10) AS e2, left(NULL, 2) AS f, "
        "left('abc', NULL) AS g, right('abcde', 0) AS h",
        "SELECT substr('abcde', 0, 3) AS a, substr('abcde', -2, 1) AS b, "
        "substr('abcde', 2, 2) AS c, substr('abcde', 0) AS d, "
        "substr('abcde', -2) AS e2",
        "SELECT list_concat([1, 2], [3]) AS a, "
        "list_concat(NULL, [1, 2]) AS b, "
        "list_concat(CAST(NULL AS INTEGER[]), "
        "CAST(NULL AS INTEGER[])) AS c",
        "SELECT n_nationkey AS k, "
        "concat(n_name, NULL, '-', n_regionkey) AS c "
        "FROM nation ORDER BY k LIMIT 4",
        # bar()/format_bytes() survived the || conversion incl. NULLs
        "SELECT bar(3, 0, 10, 10) AS a, format_bytes(1500) AS b, "
        "format_bytes(NULL) AS c, bar(NULL, 0, 10, 5) AS d",
    ]
    for q in cases:
        got = _rows(engine.sql(q, dialect="duckdb"))
        want = normalize_rows(tuple(r) for r in duck.execute(q).fetchall())
        assert got == want, q


def test_temporal_batch4_cross_engine(engine, duck):
    """Temporal batch: bare dayofweek/weekday are 0-based-SUNDAY in
    DuckDB while Spark's same-named builtins silently differ (1-based
    Sunday / 0-based Monday) — the nastiest kind of collision; plus
    yearweek/isoyear (ISO), epoch_us/ns, julian (midnight-based),
    decade (floor) vs millennium (ceil), timezone('Zone', ts) →
    to_utc_timestamp, and current_setting('timezone') reading the
    session conf."""
    duck.execute("SET timezone = 'UTC'")
    cases = [
        "SELECT dayofweek(DATE '2024-01-04') AS a, "
        "weekday(DATE '2024-01-04') AS b, "
        "dayofweek(DATE '2024-01-07') AS c, "
        "weekday(DATE '2024-01-08') AS d",
        "SELECT isodow(DATE '2024-01-04') AS a, "
        "isodow(DATE '2024-01-07') AS b, isodow(DATE '2024-01-08') AS c",
        "SELECT date_part('isodow', DATE '2024-01-07') AS a, "
        "extract(isodow FROM DATE '2024-01-08') AS b",
        "SELECT yearweek(DATE '2024-12-30') AS a, "
        "yearweek(DATE '2024-01-04') AS b, "
        "isoyear(DATE '2024-12-30') AS c",
        "SELECT epoch_us(TIMESTAMP '2024-01-01 00:00:30.5') AS a, "
        "epoch_ns(TIMESTAMP '2024-01-01 00:00:00.000001') AS b, "
        "epoch_ms(TIMESTAMP '2024-01-01 00:00:30.5') AS c",
        "SELECT julian(DATE '2024-01-01') AS a, "
        "julian(TIMESTAMP '2024-01-01 12:00:00') AS b, "
        "julian(TIMESTAMP '2024-01-01 00:00:30.5') AS c",
        "SELECT decade(DATE '1999-05-01') AS a, "
        "millennium(DATE '0999-05-01') AS b, "
        "millennium(DATE '2024-05-01') AS c",
        "SELECT timezone('America/New_York', "
        "TIMESTAMP '2024-01-15 12:00:00') AS a, "
        "timezone('Asia/Tokyo', TIMESTAMP '2024-06-15 09:00:00') AS b",
        "SELECT current_setting('timezone') AS tz",
    ]
    for q in cases:
        got = _rows(engine.sql(q, dialect="duckdb"))
        want = normalize_rows(tuple(r) for r in duck.execute(q).fetchall())
        assert got == want, q


def test_moment_aggs_cross_engine(engine, duck):
    """DuckDB skewness/kurtosis are SAMPLE statistics, Spark's are
    population — corrected with n-based factors. Measured pins: skewness
    needs n >= 3, kurtosis n >= 4, zero variance -> NULL (not NaN),
    kurtosis_pop == Spark kurtosis."""
    cases = [
        "SELECT round(skewness(c_acctbal), 6) AS s, "
        "round(kurtosis(c_acctbal), 6) AS k, "
        "round(kurtosis_pop(c_acctbal), 6) AS kp FROM customer",
        "SELECT n_regionkey AS g, round(skewness(n_nationkey), 6) AS s, "
        "round(kurtosis(n_nationkey), 6) AS k "
        "FROM nation GROUP BY g ORDER BY g",
        "SELECT skewness(x) AS s1, kurtosis(x) AS k1 "
        "FROM (VALUES (2.0), (2.0), (2.0), (2.0)) t(x)",
        "SELECT skewness(x) AS s2 FROM (VALUES (1.0), (2.0)) t(x)",
        "SELECT kurtosis(x) AS k2 FROM (VALUES (1.0), (2.0), (3.0)) t(x)",
        # window form: the OVER clause attaches to every inner aggregate
        # (review fix: previously produced '(CASE …) OVER ()')
        "SELECT round(skewness(n_nationkey) OVER (), 6) AS s, "
        "round(kurtosis(n_nationkey) OVER (), 6) AS k "
        "FROM nation ORDER BY n_nationkey LIMIT 3",
        "SELECT n_nationkey AS k, round(skewness(n_nationkey) OVER "
        "(PARTITION BY n_regionkey), 6) AS s "
        "FROM nation ORDER BY k LIMIT 8",
    ]
    for q in cases:
        got = _rows(engine.sql(q, dialect="duckdb"))
        want = normalize_rows(tuple(r) for r in duck.execute(q).fetchall())
        assert got == want, q


def test_function_aliases_batch2_cross_engine(engine, duck):
    """Batch-2 alias/composite coverage: list_any_value / list_apply /
    array_reverse / list_min/max/sum/avg / str_split_regex / editdist3 /
    prefix/suffix / isodow / date_add(INTERVAL) / datesub/datediff
    spelled-together aliases / list_extract (1-based, NULL OOB — get(),
    not ANSI-throwing element_at) / BLOB cast + to_base64 /
    gen_random_uuid. Verbatim text, both engines."""
    cases = [
        "SELECT list_any_value([NULL, 7, 8]) AS a, "
        "list_any_value([NULL]) AS b, "
        "list_any_value(CAST([] AS INTEGER[])) AS c",
        "SELECT list_apply([1, 2], x -> x * 2) AS a, "
        "array_reverse([1, 2, 3]) AS b",
        "SELECT list_min([3, 1]) AS a, list_max([3, 1]) AS b, "
        "list_sum([1.0, 2.0]) AS c, list_avg([1.0, 3.0]) AS d",
        # NULL-element / empty pins (review): sums SKIP NULLs, empty /
        # all-NULL -> NULL; list_aggregate count counts non-NULL, 0 empty
        "SELECT list_sum([1.0, NULL, 2.0]) AS a, "
        "list_sum(CAST([] AS DOUBLE[])) AS b, "
        "list_sum(CAST([NULL] AS DOUBLE[])) AS c, "
        "list_avg([1.0, NULL, 3.0]) AS d, "
        "list_aggregate([1.0, NULL, 2.0], 'sum') AS e, "
        "list_aggregate([1.0, NULL, 2.0], 'count') AS f, "
        "list_aggregate(CAST([] AS DOUBLE[]), 'count') AS g, "
        "list_aggregate(CAST([] AS DOUBLE[]), 'sum') AS h, "
        "list_min([3, NULL, 1]) AS i",
        "SELECT str_split_regex('a1b22c', '[0-9]+') AS a",
        "SELECT editdist3('kitten', 'sitting') AS a, "
        "levenshtein('kitten', 'sitting') AS b",
        "SELECT prefix('abc', 'ab') AS a, suffix('abc', 'bc') AS b, "
        "prefix('abc', 'x') AS c",
        "SELECT isodow(DATE '2024-03-03') AS a, "
        "isodow(DATE '2024-03-04') AS b, "
        "dayofyear(DATE '2024-03-03') AS c, "
        "weekofyear(DATE '2024-03-03') AS d",
        "SELECT date_add(DATE '2024-01-01', INTERVAL 3 DAY) AS a, "
        "date_add(TIMESTAMP '2024-01-01 01:00:00', INTERVAL 90 MINUTE) AS b",
        "SELECT datesub('day', DATE '2024-01-01', DATE '2024-02-01') AS a, "
        "datediff('month', DATE '2024-01-31', DATE '2024-02-01') AS b",
        "SELECT list_extract([1, 2, 3], 2) AS a, "
        "list_extract([1, 2, 3], 9) AS b, "
        "list_extract([1, 2, 3], NULL) AS c, "
        "list_extract([1, 2, 3], -1) AS d, "
        "list_extract([1, 2, 3], -5) AS e, "
        "list_extract([1, 2, 3], 0) AS f",
        "SELECT to_base64('abc'::BLOB) AS a",
        "SELECT gen_random_uuid() IS NOT NULL AS a",
    ]
    for q in cases:
        got = _rows(engine.sql(q, dialect="duckdb"))
        want = normalize_rows(tuple(r) for r in duck.execute(q).fetchall())
        assert got == want, q


def test_similar_to_and_glob_cross_engine(engine, duck):
    q = ("SELECT n_nationkey AS k, "
         "n_name SIMILAR TO '[A-Z]+A' AS s1, "
         "n_name SIMILAR TO '(IN|CHI).*' AS s2, "
         "n_name NOT SIMILAR TO '.*N.*' AS s3, "
         "n_name GLOB '*AN*' AS g1, "
         "n_name GLOB 'I?DIA' AS g2 "
         "FROM nation ORDER BY k")
    got = _rows(engine.sql(q, dialect="duckdb"))
    want = normalize_rows(tuple(r) for r in duck.execute(q).fetchall())
    assert got == want


def test_star_rename_expression(engine):
    """* RENAME is newer-DuckDB surface (post-1.0, so no oracle twin in
    this environment) — pinned against the explicit projection."""
    q = ("SELECT * RENAME (n_name AS nation_name, n_regionkey AS region) "
         "FROM nation ORDER BY n_nationkey")
    sdf = engine.sql(q, dialect="duckdb")
    want = engine.sql("SELECT n_nationkey, n_name AS nation_name, "
                      "n_regionkey AS region "
                      "FROM nation ORDER BY n_nationkey")
    assert sdf.columns == want.columns
    assert _rows(sdf) == _rows(want)
    with pytest.raises(ValueError):
        engine.sql("SELECT * RENAME (nope AS x) FROM nation", dialect="duckdb")


def test_information_schema_views(engine, duck):
    """information_schema.tables/columns: DuckDB-compatible shapes — the
    columns rows for a fixture table match DuckDB's own information_schema
    verbatim (same query text both engines)."""
    q = ("SELECT column_name, ordinal_position, data_type, is_nullable "
         "FROM information_schema.columns WHERE table_name = 'region' "
         "ORDER BY ordinal_position")
    got = _rows(engine.sql(q))
    want = normalize_rows(tuple(r) for r in duck.execute(q).fetchall())
    assert got == want
    # tables view lists the fixture tables with their types
    names = {r.table_name for r in engine.sql(
        "SELECT table_name FROM information_schema.tables").collect()}
    assert {"region", "nation", "lineitem", "documents"} <= names


def test_from_first_syntax_cross_engine(engine, duck):
    cases = [
        "FROM nation WHERE n_nationkey < 5",
        "FROM nation SELECT n_name, n_nationkey * 2 AS d "
        "WHERE n_nationkey < 5 ORDER BY d",
        "FROM nation SELECT count(*) AS n",
    ]
    for q in cases:
        got = _rows(engine.sql(q, dialect="duckdb"))
        want = normalize_rows(tuple(r) for r in duck.execute(q).fetchall())
        assert got == want, q


def test_create_macro_cross_engine(engine, duck):
    """CREATE MACRO: the identical CREATE + query script runs in DuckDB;
    expansion handles multi-param bodies, nesting, and shadowed text in
    string literals."""
    from duckdb_read_spark import Engine

    eng = Engine(spark=engine.spark)
    script = [
        "CREATE MACRO add_one(a) AS a + 1",
        "CREATE MACRO clamp(x, lo, hi) AS "
        "CASE WHEN x < lo THEN lo WHEN x > hi THEN hi ELSE x END",
        "CREATE MACRO clamp_inc(x) AS clamp(add_one(x), 0, 10)",
    ]
    for stmt in script:
        eng.sql(stmt, dialect="duckdb")
        duck.execute(stmt)
    q = ("SELECT n_nationkey AS k, add_one(n_nationkey) AS a, "
         "clamp(n_nationkey, 3, 7) AS c, clamp_inc(n_nationkey * 2) AS d, "
         "'add_one(1)' AS lit "
         "FROM nation ORDER BY k")
    got = _rows(eng.sql(q, dialect="duckdb"))
    want = normalize_rows(tuple(r) for r in duck.execute(q).fetchall())
    assert got == want
    # argument substitution is parenthesized (no precedence capture)
    assert eng.sql("SELECT add_one(1 + 1) AS v",
                   dialect="duckdb").collect()[0].v == 3
    eng.sql("DROP MACRO add_one")
    with pytest.raises(ValueError):
        eng.sql("DROP MACRO add_one")
    with pytest.raises(ValueError):
        eng.sql("SELECT clamp(1) AS v", dialect="duckdb")  # arity
    duck.execute("DROP MACRO add_one")
    duck.execute("DROP MACRO clamp_inc")
    duck.execute("DROP MACRO clamp")


def test_table_macro_cross_engine(engine, duck):
    from duckdb_read_spark import Engine

    eng = Engine(spark=engine.spark)
    eng.register_fixture_dir("/root/testdata/sf0.001")
    ddl = ("CREATE MACRO top_nations(rk) AS TABLE "
           "SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = rk")
    q = ("SELECT t.n_name FROM top_nations(2) t ORDER BY t.n_nationkey")
    eng.sql(ddl, dialect="duckdb")
    duck.execute(ddl)
    got = _rows(eng.sql(q, dialect="duckdb"))
    want = normalize_rows(tuple(r) for r in duck.execute(q).fetchall())
    assert got == want and len(got) == 5
    duck.execute("DROP MACRO TABLE top_nations")


def test_partition_filter_injection_collision_guards(engine, tmp_path):
    """ADVICE r5 (medium): two time-partitioned tables sharing a ts column
    name but with different granularities — the second table's pass used to
    append a partition predicate in the wrong granularity format (month
    values compared against a day literal), valid SQL, so the
    AnalysisException fallback never fired and rows were silently dropped.
    Injection must skip colliding columns entirely, and a qualified
    ``other.ts`` must never gain THIS table's partition predicate."""
    from duckdb_read_spark import Engine

    eng = Engine(spark=engine.spark, warehouse_dir=str(tmp_path / "wh"))
    src = "/root/testdata/sf0.001/events.parquet"
    eng.register_parquet("ev_plain", src)
    eng.register_parquet("ev_day", src, time_partition="ts",
                         granularity="day",
                         materialize_dir=str(tmp_path / "tp_day"))
    eng.register_parquet("ev_month", src, time_partition="ts",
                         granularity="month",
                         materialize_dir=str(tmp_path / "tp_month"))
    lit = "2024-01-15 00:00:00"
    truth = eng.sql(
        f"SELECT COUNT(*) AS n FROM ev_plain WHERE ts >= '{lit}'"
    ).first()["n"]
    assert 0 < truth < 1000

    # single-table: injection still prunes (p_date predicate present)
    single = f"SELECT COUNT(*) AS n FROM ev_day WHERE ts >= '{lit}'"
    assert "p_date" in eng._inject_partition_filters(single)
    assert eng.sql(single).first()["n"] == truth

    # both tables present + same ts name → no injection at all (the
    # month-granularity table would otherwise get a day-format literal)
    both = (f"SELECT (SELECT COUNT(*) FROM ev_day WHERE ts >= '{lit}') AS a, "
            f"(SELECT COUNT(*) FROM ev_month WHERE ts >= '{lit}') AS b")
    assert eng._inject_partition_filters(both) == both
    r = eng.sql(both).first()
    assert r["a"] == truth and r["b"] == truth

    # qualified predicate on a NON-partitioned table's alias: ev_day's
    # pass must leave e.ts alone but still prune its own d.ts
    q = (f"SELECT COUNT(*) AS n FROM ev_day d JOIN ev_plain e "
         f"ON d.event_id = e.event_id "
         f"WHERE e.ts >= '{lit}' AND d.ts >= '{lit}'")
    inj = eng._inject_partition_filters(q)
    assert "e.p_date" not in inj and "d.p_date" in inj
    assert eng.sql(q).first()["n"] == truth


def test_use_alias_shadowed_by_local_create_survives(engine, tmp_path):
    """ADVICE r5 (low): USE used to unconditionally drop every alias view
    it had created — if a local CREATE TABLE later took over the name, a
    subsequent USE main dropped the local table's view while _versioned
    still referenced it, breaking later queries."""
    from duckdb_read_spark import Engine

    eng = Engine(spark=engine.spark, warehouse_dir=str(tmp_path / "wh"))
    wh = tmp_path / "ext2"
    eng.write_versioned(
        eng.spark.createDataFrame([(1, "a")], "k int, v string"),
        str(wh / "shadowme"))
    eng.sql(f"ATTACH '{wh}' AS ext2")
    eng.sql("USE ext2")
    assert eng.sql("SELECT count(*) AS n FROM shadowme").first()["n"] == 1
    # local CREATE TABLE takes over the aliased name
    eng.sql("CREATE TABLE shadowme AS SELECT 7 AS x")
    eng.sql("USE main")  # must NOT drop the local table's view
    assert eng.sql("SELECT x FROM shadowme").first()["x"] == 7
    eng.sql("INSERT INTO shadowme VALUES (8)")
    assert eng.sql("SELECT count(*) AS n FROM shadowme").first()["n"] == 2
    eng.detach("ext2")


def test_rollback_with_foreign_delta_only_table(engine, tmp_path):
    """ADVICE r5 (low): a versioned table registered over a foreign
    _delta_log-only dir has an empty private log; BEGIN used to pin
    version 0 for it and ROLLBACK's restore_table(name, 0) raised,
    aborting the loop with other tables unreverted. Now: the foreign
    table is skipped (warning) and every other table is still restored."""
    import shutil
    import warnings as _w

    from duckdb_read_spark import Engine

    eng = Engine(spark=engine.spark, warehouse_dir=str(tmp_path / "wh"))
    d1 = str(tmp_path / "normal")
    eng.write_versioned(
        eng.spark.createDataFrame([(1,)], "k int"), d1)
    eng.register_versioned("normal_t", d1)
    # foreign: strip the private log, keep only _delta_log
    d2 = str(tmp_path / "foreign")
    eng.write_versioned(eng.spark.createDataFrame([(10,)], "k int"), d2)
    shutil.rmtree(os.path.join(d2, "_log"))
    eng.register_versioned("foreign_t", d2)

    eng.sql("BEGIN")
    eng.sql("INSERT INTO normal_t VALUES (2)")
    eng.sql("INSERT INTO foreign_t VALUES (11)")
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        eng.sql("ROLLBACK")
    assert any("foreign_t" in str(w.message) for w in caught)
    # the normal table WAS restored despite the unrevertable foreign one
    assert eng.sql("SELECT count(*) AS n FROM normal_t").first()["n"] == 1


def test_fts_index_sql_surface(engine, tmp_path):
    """SQL-reachable BM25 (VERDICT r5 item 3): DuckDB fts statement
    shapes — PRAGMA create_fts_index/drop_fts_index + match_bm25 — give
    the same scores as the operator API, return NULL for non-matching
    docs, honor k/b/conjunctive options, and fail loudly when unindexed."""
    from duckdb_read_spark import Engine
    from duckdb_read_spark.operators import retrieval

    eng = Engine(spark=engine.spark, warehouse_dir=str(tmp_path / "wh"))
    eng.register_fixture_dir("/root/testdata/sf0.001")

    with pytest.raises(ValueError, match="no FTS index"):
        eng.sql("SELECT fts_main_documents.match_bm25(doc_id, 'x') "
                "FROM documents")
    eng.sql("PRAGMA create_fts_index('documents', 'doc_id', 'text')")
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("PRAGMA create_fts_index('documents', 'doc_id', 'text')")
    eng.sql("PRAGMA create_fts_index('documents', 'doc_id', 'text', "
            "overwrite := 1)")

    sql_rows = eng.sql("""
SELECT doc_id, bm25 FROM (
  SELECT doc_id, fts_main_documents.match_bm25(doc_id,
                     'hash join stream window') AS bm25
  FROM documents) t
WHERE bm25 IS NOT NULL ORDER BY bm25 DESC, doc_id LIMIT 10""").collect()
    api_rows = retrieval.bm25_topk(
        eng.table("documents"), ["hash", "join", "stream", "window"],
        k=10).collect()
    assert [(r["doc_id"], r["bm25"]) for r in sql_rows] \
        == [(r["doc_id"], r["bm25"]) for r in api_rows]

    # NULL for non-matching docs (DuckDB's contract)
    nulls = eng.sql("""
SELECT count(*) AS n FROM (
  SELECT fts_main_documents.match_bm25(doc_id, 'zzzunseen') AS s
  FROM documents) WHERE s IS NULL""").first()["n"]
    assert nulls == eng.table("documents").count()

    # conjunctive := 1 keeps only docs matching ALL terms — a subset
    disj = eng.sql("""
SELECT count(*) AS n FROM (
  SELECT fts_main_documents.match_bm25(doc_id, 'hash window') AS s
  FROM documents) WHERE s IS NOT NULL""").first()["n"]
    conj = eng.sql("""
SELECT count(*) AS n FROM (
  SELECT fts_main_documents.match_bm25(doc_id, 'hash window',
                                       conjunctive := 1) AS s
  FROM documents) WHERE s IS NOT NULL""").first()["n"]
    assert 0 < conj < disj

    # explicit stemmer warns (documented divergence: no stemming applied)
    import warnings as _w

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        eng.sql("PRAGMA create_fts_index('documents', 'doc_id', 'text', "
                "stemmer := 'porter', overwrite := 1)")
    assert any("stemmer" in str(w.message) for w in caught)

    eng.sql("PRAGMA drop_fts_index('documents')")
    with pytest.raises(ValueError, match="no FTS index"):
        eng.sql("SELECT fts_main_documents.match_bm25(doc_id, 'x') "
                "FROM documents")


def test_recursive_cte_input_materialization(engine, spark):
    """plans/recursive (VERDICT r5 #3): non-recursive CTEs referenced by
    the recursive step are materialized once (cached temp views) and the
    rewritten query returns identical rows; non-recursive and unparseable
    texts pass through untouched."""
    from duckdb_read_spark.plans.recursive import (
        materialize_recursive_inputs,
    )
    from duckdb_read_spark.queries import QUERIES

    q = QUERIES["q94_recursive_chain"].spark
    rewritten = materialize_recursive_inputs(spark, q)
    assert rewritten != q and "__rec_cte_" in rewritten
    assert "nxt" not in rewritten.replace("__rec_cte_", "")  # substituted
    want = [tuple(r) for r in spark.sql(q).collect()]
    got = [tuple(r) for r in spark.sql(rewritten).collect()]
    assert got == want and len(got) > 0

    # non-recursive text untouched
    plain = "WITH a AS (SELECT 1 AS x) SELECT * FROM a"
    assert materialize_recursive_inputs(spark, plain) == plain
    # recursion with no outside CTE references untouched
    self_only = ("WITH RECURSIVE r AS (SELECT 1 AS n UNION ALL "
                 "SELECT n + 1 FROM r WHERE n < 3) SELECT * FROM r")
    assert materialize_recursive_inputs(spark, self_only) == self_only


def test_recursive_inputs_stay_cached_per_session(spark):
    """A session's cached recursion inputs are its own: a recursive query
    in another session (here ``a.newSession()``) leaves them cached."""
    from duckdb_read_spark.plans.recursive import (
        materialize_recursive_inputs,
    )

    q = ("WITH RECURSIVE nxt AS (SELECT id AS a, id + 1 AS b "
         "FROM range(5)), chain AS (SELECT 0L AS n UNION ALL "
         "SELECT nxt.b FROM chain JOIN nxt ON nxt.a = chain.n) "
         "SELECT max(n) AS m FROM chain")
    a = spark.newSession()
    b = a.newSession()
    rewritten = materialize_recursive_inputs(a, q)
    view = re.search(r"__rec_cte_\d+", rewritten).group(0)
    assert a.catalog.isCached(view)
    # another input plan: the cache manager is shared across sessions
    # and matches cached data by plan
    other = q.replace("range(5)", "range(7)")
    assert materialize_recursive_inputs(b, other) != other
    assert a.catalog.isCached(view)
    assert a.sql(rewritten).collect()[0].m == 5


def test_pragma_table_info_cross_engine(engine, duck, spark, tmp_path):
    """PRAGMA table_info shape matches DuckDB (cid/name/type/notnull/
    dflt_value/pk), including constraint-sourced flags on a created
    table."""
    from duckdb_read_spark import Engine

    got = {(r["cid"], r["name"]) for r in
           engine.sql("PRAGMA table_info('nation')").collect()}
    want = {(r[0], r[1]) for r in
            duck.execute("PRAGMA table_info('nation')").fetchall()}
    assert got == want

    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    eng.sql("CREATE TABLE ti (a INT PRIMARY KEY, b STRING NOT NULL, "
            "c DOUBLE DEFAULT 1.5)")
    rows = {r["name"]: r for r in eng.sql("PRAGMA table_info('ti')").collect()}
    assert rows["a"]["pk"] and rows["a"]["notnull"]
    assert rows["b"]["notnull"] and not rows["b"]["pk"]
    assert rows["c"]["dflt_value"] == "1.5" and not rows["c"]["notnull"]


def test_recursive_cte_name_collision_with_column(engine, spark):
    """Review r6: a CTE whose name also appears as a QUALIFIED COLUMN
    (e.g. ``e.lvl``) or an output alias (``AS lvl``) must not have those
    occurrences rewritten to the materialized view name."""
    from duckdb_read_spark.plans.recursive import (
        materialize_recursive_inputs,
    )

    q = ("WITH RECURSIVE lvl AS (SELECT 1 AS x), "
         "r AS (SELECT l.x AS v FROM lvl l UNION ALL "
         "SELECT v + 1 FROM r WHERE v < 3) "
         "SELECT r.v AS lvl, r.v FROM r ORDER BY r.v")
    rewritten = materialize_recursive_inputs(spark, q)
    want = [tuple(r) for r in spark.sql(q).collect()]
    got_df = spark.sql(rewritten)
    # output column name must survive (AS lvl not rewritten)
    assert got_df.columns[0] == "lvl"
    assert [tuple(r) for r in got_df.collect()] == want

    # qualified column ref sharing a CTE name: query must still run and
    # keep the ref intact (events has no column collision in fixtures, so
    # build one inline)
    q2 = ("WITH RECURSIVE base AS (SELECT 1 AS lvl), "
          "lvl AS (SELECT 2 AS y), "
          "r AS (SELECT b.lvl AS v, y.y FROM base b CROSS JOIN lvl y "
          "UNION ALL SELECT v + 1, y FROM r WHERE v < 2) "
          "SELECT v, y FROM r ORDER BY v")
    want2 = [tuple(r) for r in spark.sql(q2).collect()]
    got2 = [tuple(r) for r in
            spark.sql(materialize_recursive_inputs(spark, q2)).collect()]
    assert got2 == want2


def test_series_bare_alias_and_compound_interval(engine, duck):
    """Review r6: DuckDB's bare ``t(i)`` table alias (no AS) and
    same-sign compound interval steps must both work; a following
    keyword must not be eaten as a bare alias."""
    cases = [
        "SELECT * FROM range(TIMESTAMP '2024-01-01', "
        "TIMESTAMP '2024-01-03 00:00:00', INTERVAL '1 day 1 hour') t(ts) "
        "ORDER BY ts",
        "SELECT g.i FROM generate_series(1, 4) g(i) ORDER BY g.i",
        "SELECT * FROM range(0, 10, 3) r ORDER BY range",
        "SELECT * FROM range(5) ORDER BY range",
    ]
    for q in cases:
        got = [tuple(r) for r in engine.sql(q, dialect="duckdb").collect()]
        want = [tuple(r) for r in duck.sql(q).fetchall()]
        assert got == want, q


def test_match_bm25_conjunctive_spelling_and_view_reuse(spark, tmp_path):
    """Review r6: ``conjunctive := TRUE`` (any case) must filter, and
    repeated identical match_bm25 queries must reuse one scores view
    instead of leaking a new temp view per call."""
    from duckdb_read_spark import Engine

    eng2 = Engine(spark=spark, warehouse_dir=str(tmp_path / "whf"))
    eng2.sql("CREATE TABLE ftd (doc_id BIGINT, body VARCHAR)")
    eng2.sql("INSERT INTO ftd VALUES (1, 'alpha beta gamma'), "
             "(2, 'alpha delta'), (3, 'beta epsilon')")
    eng2.sql("PRAGMA create_fts_index('ftd', 'doc_id', 'body')")
    q = ("SELECT doc_id, fts_main_ftd.match_bm25(doc_id, 'alpha beta', "
         "conjunctive := TRUE) AS s FROM ftd ORDER BY doc_id")
    rows = {r.doc_id: r.s for r in eng2.sql(q, dialect="duckdb").collect()}
    assert rows[1] is not None          # has both terms
    assert rows[2] is None and rows[3] is None  # single-term docs excluded

    def n_fts_views():
        return len([v.name for v in spark.catalog.listTables()
                    if v.name.startswith("__fts_scores_")])

    before = n_fts_views()
    for _ in range(3):
        eng2.sql(q, dialect="duckdb").collect()
    assert n_fts_views() == before      # reused, not leaked


def test_match_bm25_memo_sees_rewritten_file(spark, tmp_path):
    """The session-level scores memo is keyed by the backing path's
    identity: overwriting the registered parquet dataset between two
    Engines must give the new files' scores, not a memoized view whose
    plan lists the old (deleted) files."""
    from duckdb_read_spark import Engine

    path = str(tmp_path / "fdocs")
    q = ("SELECT doc_id, fts_main_fdocs.match_bm25(doc_id, 'alpha') AS s "
         "FROM fdocs ORDER BY doc_id")

    def scores(bodies, wh):
        spark.createDataFrame(list(enumerate(bodies, 1)),
                              "doc_id long, body string") \
            .coalesce(1).write.mode("overwrite").parquet(path)
        eng = Engine(spark=spark, warehouse_dir=str(tmp_path / wh))
        eng.register_parquet("fdocs", path)
        eng.sql("PRAGMA create_fts_index('fdocs', 'doc_id', 'body')")
        return {r.doc_id: r.s for r in eng.sql(q, dialect="duckdb").collect()}

    first = scores(["alpha beta", "gamma"], "wh1")
    assert first[1] is not None and first[2] is None
    second = scores(["gamma delta", "alpha alpha", "alpha"], "wh2")
    assert second[1] is None
    assert second[2] is not None and second[3] is not None


def test_table_format_scan_tvfs(spark, tmp_path):
    """SQL-reachable foreign-format scans without registration:
    delta_scan/iceberg_scan (DuckDB extension shapes) + read_delta/
    read_iceberg/read_hudi, with a version option; safe mode blocks."""
    import json as _json

    from duckdb_read_spark import Engine, iceberglog

    eng2 = Engine(spark=spark, warehouse_dir=str(tmp_path / "whtvf"))

    ice = str(tmp_path / "ice")
    iceberglog.write_table(
        spark.createDataFrame([(1,), (2,)], "k long").coalesce(1), ice)
    iceberglog.write_table(
        spark.createDataFrame([(9,)], "k long").coalesce(1), ice,
        mode="overwrite")
    assert {r.k for r in eng2.sql(
        f"SELECT k FROM iceberg_scan('{ice}')").collect()} == {9}
    assert {r.k for r in eng2.sql(
        f"SELECT k FROM read_iceberg('{ice}', version=1)").collect()} \
        == {1, 2}

    dlt = str(tmp_path / "dlt")
    eng2.write_versioned(
        spark.createDataFrame([(5,)], "k long").coalesce(1), dlt)
    assert [r.k for r in eng2.sql(
        f"SELECT k FROM delta_scan('{dlt}')").collect()] == [5]

    hud = str(tmp_path / "hud")
    os.makedirs(os.path.join(hud, ".hoodie"))
    with open(os.path.join(hud, ".hoodie", "hoodie.properties"), "w") as f:
        f.write("hoodie.table.name=t\nhoodie.table.type=COPY_ON_WRITE\n")
    spark.createDataFrame([(7,)], "k long").coalesce(1) \
        .write.mode("overwrite").parquet(os.path.join(hud, "tmpd"))
    part = [x for x in os.listdir(os.path.join(hud, "tmpd"))
            if x.endswith(".parquet")][0]
    os.replace(os.path.join(hud, "tmpd", part), os.path.join(hud, "f1.parquet"))
    with open(os.path.join(hud, ".hoodie", "001.commit"), "w") as f:
        _json.dump({"partitionToWriteStats": {
            "": [{"fileId": "g1", "path": "f1.parquet"}]}}, f)
    assert [r.k for r in eng2.sql(
        f"SELECT k FROM read_hudi('{hud}')").collect()] == [7]

    safe = Engine(spark=spark, extensions_allowed=False)
    with pytest.raises(PermissionError):
        safe.sql(f"SELECT * FROM delta_scan('{dlt}')")


def test_copy_to_format_delta(spark, tmp_path):
    """COPY … TO (FORMAT DELTA): the export lands a Delta-protocol
    _delta_log readable via delta_scan; a second COPY appends."""
    from duckdb_read_spark import Engine

    eng2 = Engine(spark=spark, warehouse_dir=str(tmp_path / "whcd"))
    eng2.register_fixture_dir("/root/testdata/sf0.001")
    d = str(tmp_path / "dexp")
    eng2.sql(f"COPY (SELECT n_nationkey AS k FROM nation WHERE "
             f"n_nationkey < 5) TO '{d}' (FORMAT DELTA)")
    assert os.path.isdir(os.path.join(d, "_delta_log"))
    assert {r.k for r in eng2.sql(
        f"SELECT k FROM delta_scan('{d}')").collect()} == set(range(5))
    eng2.sql(f"COPY (SELECT 99 AS k) TO '{d}' (FORMAT DELTA)")
    got = {r.k for r in eng2.sql(
        f"SELECT k FROM delta_scan('{d}')").collect()}
    assert got == set(range(5)) | {99}


def test_copy_delta_foreign_log_refuses(spark, tmp_path):
    """Review r6-3: COPY (FORMAT DELTA) into a foreign _delta_log-only
    dir would silently lose the appended rows to a swallowed mirror
    collision — must refuse loudly."""
    import shutil

    from duckdb_read_spark import Engine

    eng2 = Engine(spark=spark, warehouse_dir=str(tmp_path / "whfd"))
    d = str(tmp_path / "fdelta")
    eng2.write_versioned(
        spark.createDataFrame([(1,)], "k long").coalesce(1), d)
    shutil.rmtree(os.path.join(d, "_log"))  # leave a foreign-style dir
    with pytest.raises(ValueError, match="foreign"):
        eng2.sql(f"COPY (SELECT 2 AS k) TO '{d}' (FORMAT DELTA)")


def test_parquet_metadata_and_schema_tvfs(engine, duck):
    """parquet_metadata / parquet_schema TVFs mirror DuckDB's columns
    and values (physical types, compression, stringified chunk stats);
    footer reads run distributed via mapInPandas, not a driver loop."""
    p = "/root/testdata/sf0.001/nation.parquet"
    cols = ("file_name, row_group_id, row_group_num_rows, column_id, "
            "path_in_schema, num_values, compression, "
            "total_compressed_size, total_uncompressed_size, "
            "stats_min_value, stats_max_value")
    got = [tuple(r) for r in engine.sql(
        f"SELECT {cols} FROM parquet_metadata('{p}') "
        f"ORDER BY row_group_id, column_id").collect()]
    want = duck.execute(
        f"SELECT {cols} FROM parquet_metadata('{p}') "
        f"ORDER BY row_group_id, column_id").fetchall()
    assert got == want
    # schema: the FULL tree matches DuckDB's, root group element
    # included (r12 — the engine used to emit leaf rows only)
    got_s = [tuple(r) for r in engine.sql(
        f"SELECT file_name, name, type, repetition_type, "
        f"num_children FROM parquet_schema('{p}') "
        f"ORDER BY name").collect()]
    want_s = duck.execute(
        f"SELECT file_name, name, type, repetition_type, "
        f"num_children FROM parquet_schema('{p}') "
        f"ORDER BY name").fetchall()
    assert got_s == want_s


def test_read_csv_auto_sniffs_delimiter(engine, duck, tmp_path):
    """read_csv_auto detects ;/tab/| delimited files like DuckDB's
    sniffer instead of assuming ','."""
    for name, delim in (("semi.csv", ";"), ("tab.csv", "\t"),
                        ("pipe.csv", "|")):
        p = tmp_path / name
        p.write_text(f"a{delim}b{delim}c\n1{delim}x{delim}2.5\n"
                     f"2{delim}y{delim}3.5\n")
        got = [tuple(r) for r in engine.sql(
            f"SELECT a, b, c FROM read_csv_auto('{p}') ORDER BY a"
        ).collect()]
        want = duck.execute(
            f"SELECT a, b, c FROM read_csv_auto('{p}') ORDER BY a"
        ).fetchall()
        assert got == want, name
    # explicit delim option still wins over the sniffer
    p = tmp_path / "semi2.csv"
    p.write_text("a;b\n1;2\n")
    rows = engine.sql(
        f"SELECT * FROM read_csv('{p}', delim=';')").collect()
    assert rows[0]["a"] == 1 and rows[0]["b"] == 2


def test_fuzzy_matching_functions_cross_engine(engine, duck):
    """DuckDB-core fuzzy scalars (jaro/jaro-winkler/damerau-levenshtein)
    run as session Arrow UDFs — identical text, measured-equal values
    including the 0.7 JW boost threshold, full-DL transpositions
    (dl('ca','abc')=2, not OSA's 3), empty-string 0.0 and NULL→NULL."""
    q = ("SELECT jaro_winkler_similarity('duck','luck') AS a, "
         "jaro_winkler_similarity('martha','marhta') AS b, "
         "jaro_winkler_similarity('dixon','dicksonx') AS c, "
         "jaro_similarity('abcdefgh','abzzzzzz') AS d, "
         "jaro_winkler_similarity('','x') AS e, "
         "damerau_levenshtein('ca','abc') AS f, "
         "damerau_levenshtein('abc','acb') AS g, "
         "damerau_levenshtein('kitten','sitting') AS h, "
         "jaro_winkler_similarity(NULL,'x') AS i")
    got = [tuple(r) for r in engine.sql(q).collect()]
    want = duck.execute(q).fetchall()
    assert got == want


def test_sequences_cross_engine(spark, duck, tmp_path):
    """CREATE SEQUENCE / nextval / currval: driver-side allocation, one
    value per textual call site — matches DuckDB for scalar SELECTs and
    multi-row VALUES lists; a FROM-relation call site refuses with the
    window-function alternative (per-row allocation is a distributed
    serialization point)."""
    import pytest as _pytest

    from duckdb_read_spark.engine import Engine

    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    script = [
        "CREATE SEQUENCE s1 START 5",
        "SELECT nextval('s1') AS a, nextval('s1') AS b",
        "SELECT currval('s1') AS c",
        "CREATE SEQUENCE s2 START 10 INCREMENT 3",
        "SELECT nextval('s2') AS a",
    ]
    for s in script:
        want = duck.execute(s).fetchall()
        got = [tuple(r) for r in eng.sql(s, dialect="duckdb").collect()]
        assert got == want or not want, s
    eng.execute("CREATE TABLE st (id BIGINT, v STRING); "
                "INSERT INTO st VALUES (nextval('s1'), 'x'), "
                "(nextval('s1'), 'y');")
    assert sorted((r.id, r.v) for r in eng.table("st").collect()) == \
        [(7, "x"), (8, "y")]
    with _pytest.raises(NotImplementedError, match="row_number"):
        eng.sql("SELECT nextval('s1') FROM st", dialect="duckdb")
    # a select-list nextval over VALUES rows would replicate one value
    # (review r6) — refuse; inside the tuples it allocates per site
    with _pytest.raises(NotImplementedError, match="VALUES"):
        eng.sql("SELECT nextval('s1') FROM (VALUES (1),(2)) t(x)",
                dialect="duckdb")
    # function-internal FROMs are not relations (review r6)
    got = eng.sql("SELECT nextval('s1') AS a, "
                  "EXTRACT(YEAR FROM DATE '2024-01-01') AS y",
                  dialect="duckdb").collect()[0]
    assert got.y == 2024 and got.a == 9
    # measured DuckDB semantics: IF NOT EXISTS is a no-op (no counter
    # reset), duplicate CREATE errors, names fold case-insensitively
    eng.sql("CREATE SEQUENCE IF NOT EXISTS s1 START 99")
    assert eng.sql("SELECT nextval('S1') AS a").collect()[0].a == 10
    with _pytest.raises(ValueError, match="already exists"):
        eng.sql("CREATE SEQUENCE s1")
    # order-free clauses + MAXVALUE bound
    eng.sql("CREATE SEQUENCE oo INCREMENT BY 2 START WITH 5 MAXVALUE 7")
    assert [r.a for r in eng.sql(
        "SELECT nextval('oo') AS a").collect()] == [5]
    eng.sql("SELECT nextval('oo')")
    with _pytest.raises(ValueError, match="out of bounds"):
        eng.sql("SELECT nextval('oo')")
    # sequence DDL is transactional, counters are not (measured)
    eng.sql("BEGIN")
    eng.sql("CREATE SEQUENCE txs START 7")
    eng.sql("SELECT nextval('s2')")
    eng.sql("ROLLBACK")
    with _pytest.raises(ValueError, match="unknown sequence"):
        eng.sql("SELECT nextval('txs')")
    assert eng.sql("SELECT nextval('s2') AS a").collect()[0].a == 16
    with _pytest.raises(ValueError, match="unknown sequence"):
        eng.sql("SELECT nextval('nope')", dialect="duckdb")
    eng.sql("DROP SEQUENCE s1")
    with _pytest.raises(ValueError, match="unknown sequence"):
        eng.sql("SELECT nextval('s1')", dialect="duckdb")
    # persistence: a new Engine over the same warehouse continues s2
    eng2 = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    assert eng2.sql("SELECT nextval('s2') AS a").collect()[0].a == 19
    duck.execute("DROP SEQUENCE s1")
    duck.execute("DROP SEQUENCE s2")
    duck.execute("DROP TABLE IF EXISTS st")


def test_checkpoint_and_size_pragmas(spark, tmp_path):
    from duckdb_read_spark.engine import Engine

    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    assert eng.sql("CHECKPOINT").count() == 0
    assert eng.sql("FORCE CHECKPOINT").count() == 0
    v = eng.sql("PRAGMA version").collect()[0]
    assert "Spark" in v.library_version
    eng.execute("CREATE TABLE pz AS SELECT 1 AS x")
    row = eng.sql("PRAGMA database_size").collect()[0]
    assert row.database_size.endswith(" bytes")
    assert int(row.database_size.split()[0]) > 0


def test_bare_path_as_table(engine, duck):
    """DuckDB's FROM 'file.parquet' idiom routes onto the read_* TVFs
    (safe-mode gate and shims included); FROM-looking text inside a
    string literal stays data."""
    p = "/root/testdata/sf0.001/nation.parquet"
    for q in (
        f"SELECT COUNT(*) AS n FROM '{p}'",
        f"SELECT n_name FROM '{p}' WHERE n_nationkey = 3",
        f"SELECT a.n_name FROM '{p}' a JOIN '{p}' b "
        f"ON a.n_nationkey = b.n_nationkey WHERE a.n_nationkey = 1",
    ):
        got = [tuple(r) for r in engine.sql(q, dialect="duckdb").collect()]
        want = duck.execute(q).fetchall()
        assert got == want, q
    lit = engine.sql("SELECT 'x FROM ''y.parquet''' AS s",
                     dialect="duckdb").collect()
    assert lit[0].s == "x FROM 'y.parquet'"


def test_comment_on_and_catalog_tvfs(spark, duck, tmp_path):
    """COMMENT ON TABLE/COLUMN persists in a warehouse sidecar and reads
    back through duckdb_tables()/duckdb_columns() — identical statement
    text and identical (name, comment) rows in both engines."""
    import pytest as _pytest

    from duckdb_read_spark.engine import Engine

    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    script = [
        "CREATE TABLE cmt (i INT, s STRING)",
        "COMMENT ON TABLE cmt IS 'hello ''world'''",
        "COMMENT ON COLUMN cmt.i IS 'the id'",
    ]
    duck.execute("CREATE TABLE cmt (i INT, s STRING)")
    duck.execute("COMMENT ON TABLE cmt IS 'hello ''world'''")
    duck.execute("COMMENT ON COLUMN cmt.i IS 'the id'")
    for s in script:
        eng.sql(s, dialect="duckdb")
    q = ("SELECT table_name, comment FROM duckdb_tables() "
         "WHERE table_name = 'cmt'")
    assert [tuple(r) for r in eng.sql(q).collect()] == \
        duck.execute(q).fetchall() == [("cmt", "hello 'world'")]
    q2 = ("SELECT column_name, comment FROM duckdb_columns() "
          "WHERE table_name = 'cmt' ORDER BY column_index")
    assert [tuple(r) for r in eng.sql(q2).collect()] == \
        duck.execute(q2).fetchall() == [("i", "the id"), ("s", None)]
    # un-comment via IS NULL
    eng.sql("COMMENT ON COLUMN cmt.i IS NULL")
    got = eng.sql("SELECT comment FROM duckdb_columns() "
                  "WHERE table_name='cmt' AND column_name='i'").collect()
    assert got[0].comment is None
    with _pytest.raises(ValueError, match="unknown table"):
        eng.sql("COMMENT ON TABLE nope IS 'x'")
    with _pytest.raises(ValueError, match="unknown column"):
        eng.sql("COMMENT ON COLUMN cmt.zz IS 'x'")
    # persistence across engines on the same warehouse
    eng2 = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    got = eng2.sql("SELECT comment FROM duckdb_tables() "
                   "WHERE table_name='cmt'").collect()
    assert got[0].comment == "hello 'world'"
    duck.execute("DROP TABLE cmt")


def test_union_by_name(engine, duck):
    """DuckDB's name-matching set op: reordered columns align, missing
    columns NULL-fill, trailing ORDER BY/LIMIT bind to the whole union,
    the non-ALL form dedups; subquery placement materializes (r9)."""
    probes = [
        "SELECT 1 AS a, 2 AS b UNION ALL BY NAME SELECT 4 AS b, 3 AS a",
        "SELECT 1 AS a, 2 AS b UNION ALL BY NAME SELECT 9 AS c, 3 AS a "
        "ORDER BY a",
        "SELECT 1 AS a UNION BY NAME SELECT 1 AS a "
        "UNION BY NAME SELECT 2 AS a ORDER BY a",
        "SELECT 1 AS a, 2 AS b UNION ALL BY NAME SELECT 4 AS b, 3 AS a "
        "ORDER BY a LIMIT 1",
        # subquery placement used to refuse; since r9 the inner span is
        # materialized as a temp view and runs (commit ff5b34b)
        "SELECT * FROM (SELECT 1 AS a UNION BY NAME SELECT 2 AS a) t",
    ]
    for q in probes:
        got = sorted(tuple(r) for r in
                     engine.sql(q, dialect="duckdb").collect())
        want = sorted(duck.execute(q).fetchall())
        assert got == want, q


def test_union_by_name_review_edges(engine, duck):
    """Review r6: mixed distinct/ALL chains are left-associative; the
    phrase inside a string literal stays data; identifiers containing
    LIMIT don't split the tail; non-SELECT heads refuse."""
    import pytest as _pytest

    q = ("SELECT 1 AS a UNION BY NAME SELECT 1 AS a "
         "UNION ALL BY NAME SELECT 1 AS a")
    got = sorted(tuple(r) for r in
                 engine.sql(q, dialect="duckdb").collect())
    assert got == sorted(duck.execute(q).fetchall()) == [(1,), (1,)]
    lit = engine.sql("SELECT 'a UNION BY NAME b' AS s",
                     dialect="duckdb").collect()
    assert lit[0].s == "a UNION BY NAME b"
    q2 = ("SELECT 1 AS a, 2 AS rate_limit UNION ALL BY NAME "
          "SELECT 4 AS rate_limit, 3 AS a")
    got = sorted(tuple(r) for r in
                 engine.sql(q2, dialect="duckdb").collect())
    assert got == sorted(duck.execute(q2).fetchall())
    # r8: CREATE VIEW routes its body through sql(), so the top-level
    # UNION BY NAME inside a view body now WORKS (it used to refuse) —
    # verified equal to DuckDB's view result
    engine.sql("CREATE OR REPLACE VIEW ubnv AS SELECT 1 AS a "
               "UNION BY NAME SELECT 2 AS a", dialect="duckdb")
    assert sorted(tuple(r) for r in
                  engine.sql("SELECT * FROM ubnv").collect()) == \
        [(1,), (2,)]
    with _pytest.raises(NotImplementedError, match="plain top-level"):
        engine.sql("WITH c AS (SELECT 1 AS a) SELECT * FROM c "
                   "UNION BY NAME SELECT 2 AS a", dialect="duckdb")


def test_catalog_tvf_literal_stays_data(engine):
    got = engine.sql(
        "SELECT 'see duckdb_tables() for the catalog' AS s").collect()
    assert got[0].s == "see duckdb_tables() for the catalog"


def test_copy_csv_null_quote_escape(engine, duck, tmp_path):
    """COPY csv options NULL/QUOTE/ESCAPE write byte-identical rows to
    DuckDB (quote-and-double when escape == quote); option values
    unquote ONE layer precisely — a generic strip emptied QUOTE '\"'
    (r9)."""
    import glob
    import os

    cases = [
        ("COPY (SELECT 'a\"b' AS q, 'x,y' AS c2) TO '{d}/e.csv' "
         "(FORMAT csv, HEADER, QUOTE '\"')", "e.csv"),
        ("COPY (SELECT n_name, NULL::INT AS x FROM nation "
         "ORDER BY n_name LIMIT 2) TO '{d}/c.csv' "
         "(FORMAT csv, NULL 'NA', HEADER)", "c.csv"),
    ]
    for i, (sql_t, fname) in enumerate(cases):
        d1 = tmp_path / f"duck{i}"
        d2 = tmp_path / f"spark{i}"
        d1.mkdir(), d2.mkdir()
        duck.execute(sql_t.format(d=d1))
        want = (d1 / fname).read_text()
        engine.sql(sql_t.format(d=d2), dialect="duckdb")
        parts = sorted(set(glob.glob(os.path.join(str(d2), fname,
                                                  "part-*"))))
        got = "".join(open(x).read() for x in parts)
        assert sorted(got.splitlines()) == sorted(want.splitlines())


def test_pragma_and_statement_spellings_r11(engine):
    """r11 statement-surface sweep: PRAGMA database_list /
    PRAGMA show_tables / SELECT * FROM pragma_version() /
    CALL pragma_table_info(…) / SHOW ALL TABLES (DuckDB's 6-column
    shape) / bare VACUUM-ANALYZE no-op hints."""
    eng = engine
    eng.sql("CREATE TABLE prag_t(a INTEGER)", dialect="duckdb")
    dl = eng.sql("PRAGMA database_list")
    assert dl.columns == ["seq", "name", "file"]
    assert dl.collect()[0][1] == "memory"
    st = eng.sql("PRAGMA show_tables")
    assert "prag_t" in {r[0] for r in st.collect()}
    pv = eng.sql("SELECT * FROM pragma_version()")
    assert pv.columns == ["library_version", "source_id"]
    ti = eng.sql("CALL pragma_table_info('prag_t')")
    assert ti.columns == ["cid", "name", "type", "notnull",
                          "dflt_value", "pk"]
    at = eng.sql("SHOW ALL TABLES")
    assert at.columns == ["database", "schema", "name",
                          "column_names", "column_types", "temporary"]
    row = [r for r in at.collect() if r["name"] == "prag_t"][0]
    assert row["column_names"] == ["a"]
    assert row["column_types"] == ["INTEGER"]
    for hint in ("VACUUM", "ANALYZE", "VACUUM ANALYZE"):
        assert eng.sql(hint).count() == 0
