"""Driver-local result frames (DESCRIBE, SHOW, PRAGMA, EXPLAIN, the
catalog views, DDL results, ...) are Arrow LocalRelations built by
``catalog.local_frame``: collecting one runs no Spark job, and its schema
and rows are the ones ``spark.createDataFrame(list, ddl)`` gave."""

from __future__ import annotations

import ast
import datetime
import os
import re
import subprocess
import sys
import time
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_read_spark import catalog, snapshots
from duckdb_read_spark.engine import Engine

_PKG = Path(__file__).resolve().parent.parent / "duckdb_read_spark"


def _jobs(spark, fn):
    """(fn(), the job ids fn ran on the calling thread)."""
    sc = spark.sparkContext
    group = f"local-frames-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "local frame test")
    try:
        out = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _shape(df):
    """The schema as a DDL string that spells out non-nullable fields."""
    return ", ".join(f"{f.name} {f.dataType.simpleString()}"
                     + ("" if f.nullable else " NOT NULL")
                     for f in df.schema.fields)


# (label, statement); run in this order against one engine, so the DDL
# results see the versions the earlier statements made. ``{ext}`` is an
# attached directory holding one loose parquet file.
STATEMENTS = [
    ("describe", "DESCRIBE t"),
    ("describe_query", "DESCRIBE SELECT a, b FROM t"),
    ("show_tables", "SHOW TABLES"),
    ("show_tables_from", "SHOW TABLES FROM ext"),
    ("show_databases", "SHOW DATABASES"),
    ("show_all_tables", "SHOW ALL TABLES"),
    ("pragma_table_info", "PRAGMA table_info('t')"),
    ("pragma_version", "PRAGMA version"),
    ("pragma_database_list", "PRAGMA database_list"),
    ("pragma_database_size", "PRAGMA database_size"),
    ("describe_history", "DESCRIBE HISTORY t"),
    ("show_create_table", "SHOW CREATE TABLE t"),
    ("explain", "EXPLAIN SELECT a FROM t WHERE a > 1"),
    ("glob", "SELECT * FROM glob('{ext}/*.parquet')"),
    ("duckdb_tables", "SELECT * FROM duckdb_tables()"),
    ("duckdb_columns", "SELECT * FROM duckdb_columns()"),
    ("information_schema_tables", "SELECT * FROM information_schema.tables"),
    ("information_schema_columns",
     "SELECT * FROM information_schema.columns"),
    ("analyze", "ANALYZE t"),
    ("optimize", "OPTIMIZE t"),
    ("optimize_zorder", "OPTIMIZE t ZORDER BY (a)"),
    ("restore", "RESTORE TABLE t TO VERSION AS OF 2"),
    ("vacuum", "VACUUM t RETAIN 2 SNAPSHOTS"),
    ("clone", "CREATE TABLE c CLONE t"),
    ("export", "EXPORT DATABASE '{root}/export'"),
]


def _normalize(label, rows, root):
    """Values that differ from run to run: paths under the test's own
    directory, commit timestamps, byte sizes, the Spark version and plan
    text."""
    out = []
    for r in rows:
        r = tuple(v.replace(root, "<root>") if isinstance(v, str) else v
                  for v in r)
        if label == "describe_history":
            r = (r[0], "<ts>") + r[2:]
        elif label == "pragma_database_size":
            r = (re.sub(r"^\d+ bytes$", "<n> bytes", r[0]),) + r[1:]
        elif label == "pragma_version":
            r = (re.sub(r"Spark [^)]+", "Spark <v>", r[0]),) + r[1:]
        elif label == "explain":
            r = (r[0].splitlines()[0],)
        out.append(r)
    return out


def _observe_all(spark, root):
    """label → (schema, normalized rows, jobs run by ``collect()``, jobs
    run by the statement itself)."""
    ext = os.path.join(root, "ext")
    os.makedirs(ext)
    pq.write_table(pa.table({"k": [1, 2]}), os.path.join(ext, "e.parquet"))
    # a session of its own, so SHOW TABLES and the catalog views list only
    # this test's tables
    eng = Engine(spark=spark.newSession(),
                 warehouse_dir=os.path.join(root, "wh"))
    eng.sql("CREATE TABLE t (a INTEGER NOT NULL, b VARCHAR DEFAULT 'x')")
    eng.sql("INSERT INTO t VALUES (1, 'p'), (2, 'q')")
    eng.sql("INSERT INTO t VALUES (3, 'r')")
    eng.sql(f"ATTACH '{ext}' AS ext")
    out = {}
    for label, stmt in STATEMENTS:
        df, stmt_jobs = _jobs(
            spark, lambda: eng.sql(stmt.format(ext=ext, root=root)))
        rows, jobs = _jobs(spark, df.collect)
        out[label] = (_shape(df), _normalize(label, rows, root), len(jobs),
                      len(stmt_jobs))
    return out


@pytest.fixture(scope="module")
def observed(spark, tmp_path_factory):
    return _observe_all(spark, str(tmp_path_factory.mktemp("local_frames")))


# Schemas and (normalized) rows as Spark's list-fed createDataFrame built
# them; each collect() then ran one job. Three rows differ from what that
# code gave: t.a's declared NOT NULL shows in DESCRIBE, SHOW CREATE TABLE
# and information_schema.columns, as in PRAGMA table_info and DuckDB 1.0.
EXPECTED = {
    "describe": (
        ("column_name string, column_type string, null string, key "
         "string, default string, extra string"),
        [("a", "INTEGER", "NO", None, None, None),
         ("b", "VARCHAR", "YES", None, None, None)]),
    "describe_query": (
        ("column_name string, column_type string, null string, key "
         "string, default string, extra string"),
        [("a", "INTEGER", "YES", None, None, None),
         ("b", "VARCHAR", "YES", None, None, None)]),
    "show_tables": (
        "name string",
        [("ext__e",), ("t",)]),
    "show_tables_from": (
        "name string",
        [("e",)]),
    "show_databases": (
        "name string",
        [("ext",)]),
    "show_all_tables": (
        ("database string, schema string, name string, column_names "
         "array<string>, column_types array<string>, temporary boolean"),
        [("memory", "main", "ext__e", ["k"], ["BIGINT"], False),
         ("memory", "main", "t", ["a", "b"], ["INTEGER", "VARCHAR"], False)]),
    "pragma_table_info": (
        ("cid int, name string, type string, notnull boolean, dflt_value "
         "string, pk boolean"),
        [(0, "a", "INTEGER", True, None, False),
         (1, "b", "VARCHAR", False, "'x'", False)]),
    "pragma_version": (
        "library_version string, source_id string",
        [("duckdb_read_spark (Spark <v>)", "spark-sql")]),
    "pragma_database_list": (
        "seq int, name string, file string",
        [(0, "memory", None), (1, "ext", None)]),
    "pragma_database_size": (
        ("database_size string, block_size bigint, total_blocks bigint, "
         "used_blocks bigint, free_blocks bigint, wal_size string, "
         "memory_usage string, memory_limit string"),
        [("<n> bytes", 0, 0, 0, 0, "0 bytes", "0 bytes", "unlimited")]),
    "describe_history": (
        ("version int, timestamp_ms bigint, operation string, "
         "stream_batch_id bigint"),
        [(3, "<ts>", "append", None), (2, "<ts>", "append", None),
         (1, "<ts>", "overwrite", None)]),
    "show_create_table": (
        "sql string",
        [("CREATE TABLE t (\n  a INT NOT NULL,\n  b STRING\n);",)]),
    "explain": (
        "explain_value string",
        [("== Physical Plan ==",)]),
    "glob": (
        "file string",
        [("<root>/ext/e.parquet",)]),
    "duckdb_tables": (
        ("database_name string, schema_name string, table_name string, "
         "comment string, column_count int"),
        [("memory", "main", "ext__e", None, 1),
         ("memory", "main", "t", None, 2)]),
    "duckdb_columns": (
        ("database_name string, schema_name string, table_name string, "
         "column_name string, column_index int, data_type string, "
         "comment string"),
        [("memory", "main", "ext__e", "k", 1, "BIGINT", None),
         ("memory", "main", "t", "a", 1, "INT", None),
         ("memory", "main", "t", "b", 2, "STRING", None)]),
    "information_schema_tables": (
        ("table_catalog string, table_schema string, table_name string, "
         "table_type string, self_referencing_column_name string, "
         "reference_generation string, user_defined_type_catalog string, "
         "user_defined_type_schema string, user_defined_type_name "
         "string, is_insertable_into string, is_typed string, "
         "commit_action string, TABLE_COMMENT string"),
        [("memory", "main", "ext__e", "VIEW", None, None, None, None, None,
          "NO", "NO", None, None),
         ("memory", "main", "t", "BASE TABLE", None, None, None, None, None,
          "YES", "NO", None, None)]),
    "information_schema_columns": (
        ("table_catalog string, table_schema string, table_name string, "
         "column_name string, ordinal_position int, data_type string, "
         "is_nullable string"),
        [("memory", "main", "ext__e", "k", 1, "BIGINT", "YES"),
         ("memory", "main", "t", "a", 1, "INTEGER", "NO"),
         ("memory", "main", "t", "b", 2, "VARCHAR", "YES")]),
    "analyze": (
        "table_name string, version int, rows bigint, est_bytes bigint",
        [("t", 3, 3, 63)]),
    "optimize": (
        ("rewritten_files int, carried_files int, new_files int, version "
         "int"),
        [(3, 0, 1, 4)]),
    "optimize_zorder": (
        "version int, zorder_by string",
        [(5, "a")]),
    "restore": (
        "restored_as_version int, restored_to_version int",
        [(6, 2)]),
    "vacuum": (
        "removed_dirs int, removed_versions int",
        [(2, 4)]),
    "clone": (
        "cloned_table string, version int, files int",
        [("c", 1, 2)]),
    "export": (
        "exported_tables int",
        [(2,)]),
}


@pytest.mark.parametrize("label", [label for label, _ in STATEMENTS])
def test_local_frame_statement_runs_no_job(observed, label):
    schema, rows, jobs, _ = observed[label]
    assert (schema, rows) == EXPECTED[label]
    assert jobs == 0


@pytest.mark.parametrize("label", [
    "show_tables", "duckdb_tables", "duckdb_columns",
    "information_schema_tables", "information_schema_columns"])
def test_catalog_listing_statement_runs_no_job(observed, label):
    """Listing the session's views takes SHOW TABLES, not
    ``spark.catalog.listTables()``, which ran 5 jobs per call."""
    assert observed[label][3] == 0


def test_only_local_frame_calls_create_dataframe():
    """``createDataFrame`` fed a Python list scans a PythonRDD, so every
    read of the frame is a Spark job through Python workers. Rows built on
    the driver go through ``catalog.local_frame``, whose own call is the
    only one left in the package."""
    catalog_tree = ast.parse((_PKG / "catalog.py").read_text())
    body = next(n for n in ast.walk(catalog_tree)
                if isinstance(n, ast.FunctionDef) and n.name == "local_frame")
    allowed = {("catalog.py", ln)
               for ln in range(body.lineno, body.end_lineno + 1)}
    stray = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = str(path.relative_to(_PKG))
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                    and (rel, node.lineno) not in allowed):
                stray.append(f"{rel}:{node.lineno}")
    assert stray == []


def test_create_table_commits_one_empty_file(spark, tmp_path):
    """``CREATE TABLE t (…)`` writes its empty LocalRelation as one
    zero-row file carrying the declared schema, as the list-fed frame did."""
    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    eng.sql("CREATE TABLE e (a INTEGER, b VARCHAR)")
    manifest = snapshots.snapshot_file_entries(eng._versioned["e"])
    assert [f["rows"] for f in manifest] == [0]
    assert manifest.schema == (
        '{"fields": [{"metadata": {}, "name": "a", "nullable": true, '
        '"type": "integer"}, {"metadata": {}, "name": "b", "nullable": '
        'true, "type": "string"}], "type": "struct"}')
    assert eng.sql("SELECT * FROM e").collect() == []


def test_fully_deleted_snapshot_reads_empty(spark, tmp_path):
    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    eng.sql("CREATE TABLE g (a INTEGER NOT NULL, b VARCHAR)")
    eng.sql("INSERT INTO g VALUES (1, 'x'), (2, 'y')")
    table_dir = eng._versioned["g"]
    manifest = snapshots.snapshot_file_entries(table_dir)
    (written,) = [f for f in manifest if f["rows"]]
    left = snapshots.mark_deleted(
        table_dir, [written], {written["path"]: [0, 1]})
    assert left == []
    df = snapshots.read_files(spark, table_dir, left, manifest.schema)
    rows, jobs = _jobs(spark, df.collect)
    assert (rows, jobs) == ([], [])
    assert _shape(df) == "a int, b string"


def test_large_deletion_vector_side_table_is_local(spark, tmp_path,
                                                    monkeypatch):
    """Above ``_DV_DRIVER_EXPAND_MAX`` the vectors are expanded by
    executors from a side table of (path, bitmap) rows; that table is a
    LocalRelation, not a PythonRDD, and the read keeps the same rows."""
    from duckdb_read_spark import deltalog

    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    eng.sql("CREATE TABLE dv AS SELECT id AS a FROM range(1000)")
    eng.sql("DELETE FROM dv WHERE a % 3 = 0")
    monkeypatch.setattr(deltalog, "_DV_DRIVER_EXPAND_MAX", 0)
    sides = []
    build = deltalog._dv_rows_df

    def recording(s, rows):
        sides.append(build(s, rows))
        return sides[-1]

    monkeypatch.setattr(deltalog, "_dv_rows_df", recording)
    df = snapshots.read_table(spark, eng._versioned["dv"])
    assert sorted(r.a for r in df.collect()) == [
        a for a in range(1000) if a % 3]
    assert len(sides) == 1
    assert "PythonRDD" not in (
        sides[0]._jdf.queryExecution().toRdd().toDebugString())


def test_iceberg_positional_delete_read_has_no_python_fed_scan(spark,
                                                               tmp_path):
    """The data-sequence table an Iceberg read broadcasts is a
    LocalTableScan; as a list-fed frame it was a ``Scan ExistingRDD`` over
    a PythonRDD, whose stage ran in Python workers."""
    from duckdb_read_spark import iceberglog

    d = str(tmp_path / "ice")
    iceberglog.write_table(
        spark.range(0, 10).withColumnRenamed("id", "k").coalesce(1)
        .sortWithinPartitions("k"), d)
    (target,) = iceberglog.snapshot_data_files(d)
    iceberglog.write_deletes(d, pos={target: [1, 3, 7]})
    df = iceberglog.read_iceberg_table(spark, d)
    assert sorted(r.k for r in df.collect()) == [0, 2, 4, 5, 6, 8, 9]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    assert "LocalTableScan" in plan


def test_local_frame_converts_timestamps_as_to_internal(spark, monkeypatch):
    """Naive datetimes are local wall-clock times to
    ``TimestampType.toInternal`` but UTC to pyarrow; ``local_frame``
    converts every value through its type's ``toInternal``, so the frame
    holds the instants the list-fed frame holds."""
    from pyspark.sql.types import (
        DateType, StructField, StructType, TimestampNTZType, TimestampType)

    schema = StructType([StructField("t", TimestampType()),
                         StructField("d", DateType()),
                         StructField("n", TimestampNTZType())])
    utc = datetime.timezone.utc
    rows = [
        (datetime.datetime(2024, 3, 10, 2, 30), datetime.date(2024, 1, 1),
         datetime.datetime(2024, 11, 3, 1, 30)),
        (datetime.datetime(1969, 12, 31, 23, 59, 59, 999999),
         datetime.date(1900, 1, 1), datetime.datetime(1970, 1, 1)),
        (datetime.datetime(2024, 6, 1, 12, tzinfo=utc), None, None),
        (None, None, None),
    ]
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        got = catalog.local_frame(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        micros = "unix_micros(t) AS t", "unix_date(d) AS d", "n"
        assert (got.selectExpr(*micros).collect()
                == want.selectExpr(*micros).collect())
        assert ([r.t for r in got.selectExpr(*micros).collect()]
                == [TimestampType().toInternal(r[0]) for r in rows])
        assert got.collect() == want.collect()
    finally:
        monkeypatch.undo()
        time.tzset()


def test_engine_builds_right_after_snapshots_import(tmp_path):
    """A fresh interpreter that imports ``snapshots`` and then builds an
    Engine (whose UDF module imports pandas) starts cleanly, three times
    over; pyarrow and Spark's Arrow types are imported with the package."""
    script = (
        "import sys\n"
        "from duckdb_read_spark import snapshots\n"
        "from duckdb_read_spark import Engine\n"
        "e = Engine(master='local[4]', warehouse_dir=sys.argv[1])\n"
        "assert e.sql('SELECT 1 AS x').collect()[0].x == 1\n"
        "e.spark.stop()\n")
    for i in range(3):
        run = subprocess.run(
            [sys.executable, "-c", script, str(tmp_path / f"wh{i}")],
            cwd=str(_PKG.parent), capture_output=True, text=True,
            timeout=300)
        assert run.returncode == 0, run.stderr[-3000:]
