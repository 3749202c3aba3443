"""DDL/DML statement surface (D5): CREATE TABLE [AS] / INSERT / DELETE /
UPDATE / DROP routed through Engine.sql onto snapshots.py versioned tables
— the reference's statement→pipeline worked example
(/root/reference/duckdb:18-55) re-expressed as snapshot commits.

Every mutation is an atomic commit, so the whole DML history is
time-travelable; reads stay ordinary pruned parquet scans.
"""

from __future__ import annotations

import pytest

from duckdb_read_spark.engine import Engine


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    e.register_fixture_dir("/root/testdata/sf0.001")
    return e


def test_create_schema_insert_values(eng):
    eng.sql("CREATE TABLE tt1 (a BIGINT, b VARCHAR)")
    assert eng.sql("SELECT * FROM tt1").count() == 0
    eng.sql("INSERT INTO tt1 VALUES (1, 'x'), (2, 'y')")
    rows = {tuple(r) for r in eng.sql("SELECT a, b FROM tt1").collect()}
    assert rows == {(1, "x"), (2, "y")}
    # bare VARCHAR mapped to STRING
    assert dict(eng.table("tt1").dtypes)["b"] == "string"


@pytest.mark.parametrize("cols", ["", " (x)"])
def test_insert_decimal_downscale_truncates_like_duckdb(eng, duck, cols):
    """A DECIMAL value with more scale than its column truncates toward
    zero, as DuckDB 1.0 stores it (Spark's cast would round)."""
    stmt = f"INSERT INTO tdec{cols} VALUES (2.9999), (-2.9999)"
    eng.sql("CREATE OR REPLACE TABLE tdec (x DECIMAL(9,3))", dialect="duckdb")
    eng.sql(stmt, dialect="duckdb")
    duck.execute("CREATE OR REPLACE TABLE tdec (x DECIMAL(9,3))")
    duck.execute(stmt)
    got = sorted(r.x for r in eng.sql("SELECT x FROM tdec").collect())
    assert got == sorted(r[0] for r in duck.execute(
        "SELECT x FROM tdec").fetchall())
    duck.execute("DROP TABLE tdec")


def test_commit_keeps_registered_name_list(eng, monkeypatch):
    """A commit re-points its table's view; the session's name list
    (one SHOW TABLES) survives it. A new name or a DROP invalidates."""
    from pyspark.sql import SparkSession

    runs = []
    orig = SparkSession.sql

    def counting(self, q, *a, **k):
        if q.strip().upper() == "SHOW TABLES":
            runs.append(q)
        return orig(self, q, *a, **k)

    eng.sql("CREATE TABLE tnames (a BIGINT)")
    eng.sql("SELECT * FROM tnames", dialect="duckdb").collect()
    monkeypatch.setattr(SparkSession, "sql", counting)
    eng.sql("INSERT INTO tnames VALUES (1), (2)", dialect="duckdb")
    eng.sql("DELETE FROM tnames WHERE a = 1", dialect="duckdb")
    assert eng.sql("SELECT count(*) AS n FROM tnames",
                   dialect="duckdb").first()["n"] == 1
    assert runs == []
    eng.sql("CREATE TABLE tnames2 (a BIGINT)")
    eng.sql("SELECT * FROM tnames2", dialect="duckdb").collect()
    assert len(runs) == 1
    eng.sql("DROP TABLE tnames2")
    with pytest.raises(Exception):
        eng.sql("SELECT * FROM tnames2", dialect="duckdb").collect()
    assert len(runs) == 2


def test_insert_column_subset_null_fill(eng):
    eng.sql("CREATE TABLE tt2 (a BIGINT, b STRING, c DOUBLE)")
    eng.sql("INSERT INTO tt2 (c, a) VALUES (1.5, 7)")
    r = eng.sql("SELECT a, b, c FROM tt2").first()
    assert (r["a"], r["b"], r["c"]) == (7, None, 1.5)


def test_ctas_insert_select_and_history(eng):
    eng.sql("CREATE TABLE tt3 AS SELECT r_regionkey, r_name FROM region")
    eng.sql("INSERT INTO tt3 SELECT r_regionkey + 100, r_name FROM region")
    assert eng.sql("SELECT COUNT(*) AS n FROM tt3").first()["n"] == 10
    # each statement is one commit; v1 is the CTAS state
    assert eng.sql("SELECT COUNT(*) AS n FROM tt3 VERSION AS OF 1").first()["n"] == 5
    assert [h["version"] for h in eng.table_history("tt3")] == [2, 1]


def test_delete_null_predicate_keeps_row(eng):
    """SQL DELETE removes only pred-is-TRUE rows — NULL-pred rows stay."""
    eng.sql("CREATE TABLE tt4 (k BIGINT, v BIGINT)")
    eng.sql("INSERT INTO tt4 VALUES (1, 10), (2, NULL), (3, 30)")
    eng.sql("DELETE FROM tt4 WHERE v > 15")
    assert {r["k"] for r in eng.sql("SELECT k FROM tt4").collect()} == {1, 2}
    eng.sql("DELETE FROM tt4")  # truncate
    assert eng.sql("SELECT COUNT(*) AS n FROM tt4").first()["n"] == 0
    # schema survives truncation
    assert eng.table("tt4").columns == ["k", "v"]


def test_update_preserves_types_and_unmatched_rows(eng):
    eng.sql("CREATE TABLE tt5 AS SELECT n_nationkey, n_name FROM nation")
    eng.sql("UPDATE tt5 SET n_name = upper(n_name) WHERE n_nationkey < 3")
    rows = {r["n_nationkey"]: r["n_name"]
            for r in eng.sql("SELECT * FROM tt5").collect()}
    base = {r["n_nationkey"]: r["n_name"]
            for r in eng.sql("SELECT * FROM nation").collect()}
    for k, v in base.items():
        assert rows[k] == (v.upper() if k < 3 else v)
    # integer column updated with an arithmetic expr keeps its type
    eng.sql("UPDATE tt5 SET n_nationkey = n_nationkey + 1000 WHERE n_nationkey = 0")
    assert dict(eng.table("tt5").dtypes)["n_nationkey"] in ("int", "bigint")
    assert 1000 in {r["n_nationkey"] for r in eng.table("tt5").collect()}


def test_create_or_replace_and_if_not_exists(eng):
    eng.sql("CREATE TABLE tt6 AS SELECT 1 AS x")
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("CREATE TABLE tt6 AS SELECT 2 AS x")
    eng.sql("CREATE TABLE IF NOT EXISTS tt6 AS SELECT 2 AS x")  # no-op
    assert eng.sql("SELECT x FROM tt6").first()["x"] == 1
    eng.sql("CREATE OR REPLACE TABLE tt6 AS SELECT 2 AS x")
    assert eng.sql("SELECT x FROM tt6").first()["x"] == 2
    # replace starts a fresh snapshot line but history is preserved
    assert [h["version"] for h in eng.table_history("tt6")] == [2, 1]


def test_drop_table(eng, spark):
    eng.sql("CREATE TABLE tt7 AS SELECT 1 AS x")
    eng.sql("DROP TABLE tt7")
    assert "tt7" not in [t.name for t in spark.catalog.listTables()]
    with pytest.raises(ValueError, match="unknown table"):
        eng.sql("DROP TABLE tt7")
    eng.sql("DROP TABLE IF EXISTS tt7")  # no-op


def test_dml_errors(eng):
    with pytest.raises(ValueError, match="unknown table"):
        eng.sql("INSERT INTO nope VALUES (1)")
    eng.sql("CREATE TABLE tt8 (a BIGINT, b BIGINT)")
    with pytest.raises(ValueError, match="columns"):
        eng.sql("INSERT INTO tt8 VALUES (1)")
    with pytest.raises(ValueError, match="unknown column"):
        eng.sql("UPDATE tt8 SET zz = 1")


def test_merge_update_delete_insert(eng):
    eng.sql("CREATE TABLE tm (k BIGINT, v DOUBLE, tag STRING)")
    eng.sql("INSERT INTO tm VALUES (1, 10.0, 'a'), (2, 20.0, 'b'), (3, 30.0, 'c')")
    eng.sql("""
MERGE INTO tm t USING
  (SELECT * FROM VALUES (2, 99.0), (3, 1.0), (4, 40.0) AS x(k, v)) s
ON t.k = s.k
WHEN MATCHED AND s.v > 50 THEN UPDATE SET v = s.v
WHEN MATCHED AND s.v <= 1 THEN DELETE
WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
""")
    rows = sorted(tuple(r) for r in eng.sql("SELECT * FROM tm").collect())
    assert rows == [(1, 10.0, "a"), (2, 99.0, "b"), (4, 40.0, None)]
    # the merge was ONE commit; pre-merge state is still readable
    assert eng.sql("SELECT COUNT(*) AS n FROM tm VERSION AS OF 2").first()["n"] == 3


def test_merge_first_match_clause_order(eng):
    """Standard MERGE applies only the FIRST matching WHEN MATCHED clause
    per row (round-3 ADVICE): a row satisfying both conditions takes the
    textually-earlier action."""
    eng.sql("CREATE TABLE tmo (k BIGINT, v DOUBLE)")
    eng.sql("INSERT INTO tmo VALUES (1, 10.0), (2, 20.0)")
    # k=1 satisfies BOTH clauses; UPDATE is first → updated, not deleted
    eng.sql("""
MERGE INTO tmo t USING (SELECT 1 AS k, 100.0 AS v) s ON t.k = s.k
WHEN MATCHED AND s.v > 50 THEN UPDATE SET v = s.v
WHEN MATCHED AND s.v > 0 THEN DELETE
""")
    assert sorted(tuple(r) for r in eng.table("tmo").collect()) == \
        [(1, 100.0), (2, 20.0)]
    # DELETE first → deleted; the later UPDATE never fires for that row
    eng.sql("""
MERGE INTO tmo t USING (SELECT 1 AS k, 100.0 AS v) s ON t.k = s.k
WHEN MATCHED AND s.v > 0 THEN DELETE
WHEN MATCHED AND s.v > 50 THEN UPDATE SET v = -1.0
""")
    assert sorted(tuple(r) for r in eng.table("tmo").collect()) == [(2, 20.0)]
    # unconditional UPDATE first shadows a later DELETE entirely
    eng.sql("""
MERGE INTO tmo t USING (SELECT 2 AS k, 5.0 AS v) s ON t.k = s.k
WHEN MATCHED THEN UPDATE SET v = s.v
WHEN MATCHED AND s.v > 0 THEN DELETE
""")
    assert sorted(tuple(r) for r in eng.table("tmo").collect()) == [(2, 5.0)]


def test_string_literal_commas_in_dml(eng):
    """Commas inside string literals must not split SET assignments or
    INSERT values (round-3 ADVICE: _split_top_commas was quote-naive)."""
    eng.sql("CREATE TABLE tlc (k BIGINT, name STRING, tag STRING)")
    eng.sql("INSERT INTO tlc VALUES (1, 'a, b', 'x'), (2, 'c', 'y, z')")
    rows = sorted(tuple(r) for r in eng.table("tlc").collect())
    assert rows == [(1, "a, b", "x"), (2, "c", "y, z")]
    eng.sql("UPDATE tlc SET name = 'p, q', tag = 'it''s, ok' WHERE k = 1")
    r = eng.sql("SELECT name, tag FROM tlc WHERE k = 1").first()
    assert (r["name"], r["tag"]) == ("p, q", "it's, ok")
    eng.sql("MERGE INTO tlc t USING (SELECT 2 AS k) s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET name = 'm, n', tag = 'o'")
    r = eng.sql("SELECT name, tag FROM tlc WHERE k = 2").first()
    assert (r["name"], r["tag"]) == ("m, n", "o")


def test_insert_on_conflict_upsert(eng):
    """DuckDB's INSERT … ON CONFLICT upsert sugar compiles to MERGE:
    DO UPDATE (with excluded.*) updates matched keys, DO NOTHING skips
    them; either way unmatched rows insert, as one snapshot commit."""
    eng.sql("CREATE TABLE tu (k BIGINT, v DOUBLE)")
    eng.sql("INSERT INTO tu VALUES (1, 10.0), (2, 20.0)")
    eng.sql("INSERT INTO tu VALUES (2, 99.0), (3, 30.0) "
            "ON CONFLICT (k) DO UPDATE SET v = excluded.v")
    assert sorted(tuple(r) for r in eng.table("tu").collect()) == \
        [(1, 10.0), (2, 99.0), (3, 30.0)]
    eng.sql("INSERT INTO tu VALUES (3, -1.0), (4, 40.0) "
            "ON CONFLICT (k) DO NOTHING")
    assert sorted(tuple(r) for r in eng.table("tu").collect()) == \
        [(1, 10.0), (2, 99.0), (3, 30.0), (4, 40.0)]
    # DO UPDATE may mix excluded.* with the existing value
    eng.sql("INSERT INTO tu VALUES (4, 2.0) "
            "ON CONFLICT (k) DO UPDATE SET v = v + excluded.v")
    assert eng.sql("SELECT v FROM tu WHERE k = 4").first()["v"] == 42.0
    # each upsert is one commit → time travel sees each stage
    assert eng.sql("SELECT COUNT(*) AS n FROM tu VERSION AS OF 2"
                   ).first()["n"] == 2
    with pytest.raises(ValueError, match="conflict target"):
        eng.sql("INSERT INTO tu VALUES (1, 1.0) ON CONFLICT DO NOTHING")
    with pytest.raises(ValueError, match="unknown column"):
        eng.sql("INSERT INTO tu VALUES (1, 1.0) "
                "ON CONFLICT (zz) DO NOTHING")


def test_merge_not_matched_by_source(eng):
    """WHEN NOT MATCHED BY SOURCE acts on target rows without a source
    match — the sync-with-prune MERGE shape (Delta/DuckDB surface)."""
    eng.sql("CREATE TABLE tms (k BIGINT, v DOUBLE)")
    eng.sql("INSERT INTO tms VALUES (1, 10.0), (2, 20.0), (3, 30.0)")
    # full sync: upsert source rows, delete target rows absent from source
    eng.sql("""
MERGE INTO tms t USING (SELECT * FROM VALUES (2, 99.0), (4, 40.0) AS x(k, v)) s
ON t.k = s.k
WHEN MATCHED THEN UPDATE SET v = s.v
WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
WHEN NOT MATCHED BY SOURCE THEN DELETE
""")
    assert sorted(tuple(r) for r in eng.table("tms").collect()) == \
        [(2, 99.0), (4, 40.0)]
    # conditional BY SOURCE UPDATE: flag stale rows instead of deleting
    eng.sql("""
MERGE INTO tms t USING (SELECT 2 AS k) s ON t.k = s.k
WHEN NOT MATCHED BY SOURCE AND v > 0 THEN UPDATE SET v = -1.0
""")
    assert sorted(tuple(r) for r in eng.table("tms").collect()) == \
        [(2, 99.0), (4, -1.0)]
    # first-match within the BY SOURCE group: UPDATE first shadows DELETE
    eng.sql("""
MERGE INTO tms t USING (SELECT 2 AS k) s ON t.k = s.k
WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 0.0
WHEN NOT MATCHED BY SOURCE AND v < 1 THEN DELETE
""")
    assert sorted(tuple(r) for r in eng.table("tms").collect()) == \
        [(2, 99.0), (4, 0.0)]
    with pytest.raises(ValueError, match="only UPDATE/DELETE"):
        eng.sql("MERGE INTO tms t USING (SELECT 2 AS k) s ON t.k = s.k "
                "WHEN NOT MATCHED BY SOURCE THEN INSERT *")
    with pytest.raises(ValueError, match="BY SOURCE/TARGET"):
        eng.sql("MERGE INTO tms t USING (SELECT 2 AS k) s ON t.k = s.k "
                "WHEN MATCHED BY SOURCE THEN DELETE")


def test_merge_insert_star_by_name(eng):
    eng.sql("CREATE TABLE tm2 AS SELECT 1 AS k, 'x' AS s")
    eng.sql("MERGE INTO tm2 USING (SELECT 2 AS k, 'y' AS s) src "
            "ON tm2.k = src.k WHEN NOT MATCHED THEN INSERT *")
    assert sorted(tuple(r) for r in eng.sql("SELECT * FROM tm2").collect()) == \
        [(1, "x"), (2, "y")]


def test_merge_errors(eng):
    with pytest.raises(ValueError, match="unknown table"):
        eng.sql("MERGE INTO nope USING region ON 1=1 "
                "WHEN MATCHED THEN DELETE")
    eng.sql("CREATE TABLE tm3 AS SELECT 1 AS k")
    with pytest.raises(ValueError, match="alias"):
        eng.sql("MERGE INTO tm3 USING (SELECT 2 AS k) ON tm3.k = k "
                "WHEN MATCHED THEN DELETE")
    with pytest.raises(ValueError, match="only INSERT"):
        eng.sql("MERGE INTO tm3 USING region r ON tm3.k = r.r_regionkey "
                "WHEN NOT MATCHED THEN DELETE")


def test_copy_from_roundtrip(eng, tmp_path):
    """COPY t FROM 'path': one atomic append commit; csv and parquet;
    columns matched by name and cast to the table schema."""
    eng.sql("CREATE TABLE tc (k BIGINT, name STRING)")
    eng.sql("INSERT INTO tc VALUES (1, 'a'), (2, 'b')")
    out = str(tmp_path / "tc_out.csv")
    eng.sql(f"COPY tc TO '{out}' (FORMAT csv, HEADER)")
    eng.sql(f"COPY tc FROM '{out}' (FORMAT csv, HEADER)")
    assert eng.sql("SELECT COUNT(*) AS n FROM tc").first()["n"] == 4
    # the import is ONE commit → pre-import state still readable
    versions = [h["version"] for h in eng.table_history("tc")]
    assert eng.sql(
        f"SELECT COUNT(*) AS n FROM tc VERSION AS OF {versions[1]}"
    ).first()["n"] == 2
    # parquet roundtrip with column-name matching
    pout = str(tmp_path / "tc_out.parquet")
    eng.sql(f"COPY (SELECT name, k FROM tc LIMIT 1) TO '{pout}'")
    eng.sql(f"COPY tc FROM '{pout}'")
    assert eng.sql("SELECT COUNT(*) AS n FROM tc").first()["n"] == 5
    with pytest.raises(ValueError, match="unknown table"):
        eng.sql(f"COPY nope FROM '{out}'")
    with pytest.raises(ValueError, match="missing column"):
        eng.sql("CREATE TABLE tc2 (k BIGINT, extra DOUBLE)")
        eng.sql(f"COPY tc2 FROM '{out}' (FORMAT csv)")
    with pytest.raises(ValueError, match="unrecognized option"):
        eng.sql(f"COPY tc FROM '{out}' (FORMAT csv, NOPE 1)")


def test_ddl_body_goes_through_dialect(eng):
    """A duckdb-dialect CTAS body is rewritten before execution."""
    eng.sql(
        "CREATE TABLE tt9 AS SELECT doc_id, len(string_split(text, ' ')) AS n "
        "FROM documents WHERE doc_id < 5",
        dialect="duckdb",
    )
    assert eng.sql("SELECT COUNT(*) AS n FROM tt9").first()["n"] == 5


def test_create_view_falls_through(eng, spark):
    """CREATE VIEW is not a managed-table statement — plain spark.sql."""
    eng.sql("CREATE OR REPLACE TEMPORARY VIEW vv9 AS SELECT 42 AS x")
    assert eng.sql("SELECT x FROM vv9").first()["x"] == 42


# --- RESTORE + transactions (D15) -----------------------------------------

def test_restore_table_metadata_only(eng, tmp_path):
    eng.sql("CREATE TABLE tr1 AS SELECT n_nationkey AS k, n_name AS v FROM nation")
    eng.sql("DELETE FROM tr1 WHERE k >= 10")
    assert eng.sql("SELECT count(*) AS n FROM tr1").collect()[0].n == 10
    out = eng.sql("RESTORE TABLE tr1 TO VERSION AS OF 1").collect()[0]
    assert out.restored_to_version == 1
    assert eng.sql("SELECT count(*) AS n FROM tr1").collect()[0].n == 25
    # restore is itself a commit: history preserved, both states travelable
    assert eng.sql(
        "SELECT count(*) AS n FROM tr1 VERSION AS OF 2").collect()[0].n == 10
    # metadata-only: the restore commit wrote no new data files
    import glob, os
    td = eng._versioned["tr1"]
    v3_files = glob.glob(os.path.join(td, "data", "v3-*"))
    assert v3_files == []
    with pytest.raises(LookupError):
        eng.sql("RESTORE TABLE tr1 TO VERSION AS OF 99")


def test_transaction_rollback_and_commit(eng):
    eng.sql("CREATE TABLE tx1 AS SELECT n_nationkey AS k FROM nation")
    eng.sql("BEGIN TRANSACTION")
    eng.sql("DELETE FROM tx1 WHERE k < 20")
    eng.sql("CREATE TABLE tx2 AS SELECT 1 AS one")
    assert eng.sql("SELECT count(*) AS n FROM tx1").collect()[0].n == 5
    eng.sql("ROLLBACK")
    # mutated table restored, txn-created table gone
    assert eng.sql("SELECT count(*) AS n FROM tx1").collect()[0].n == 25
    with pytest.raises(Exception):
        eng.sql("SELECT * FROM tx2").collect()

    eng.sql("BEGIN")
    eng.sql("UPDATE tx1 SET k = k + 100 WHERE k = 0")
    eng.sql("COMMIT")
    assert eng.sql("SELECT max(k) AS m FROM tx1").collect()[0].m == 100

    with pytest.raises(ValueError):
        eng.sql("COMMIT")
    with pytest.raises(ValueError):
        eng.sql("ROLLBACK")
    eng.sql("BEGIN")
    with pytest.raises(ValueError):
        eng.sql("BEGIN")
    with pytest.raises(ValueError):
        eng.sql("DROP TABLE tx1")
    eng.sql("ROLLBACK")


def test_export_import_database(eng, tmp_path):
    eng.sql("CREATE TABLE ex1 AS SELECT n_nationkey AS k, n_name AS v FROM nation")
    eng.sql("CREATE TABLE ex2 AS SELECT r_regionkey AS k FROM region")
    dump = str(tmp_path / "dump")
    out = eng.sql(f"EXPORT DATABASE '{dump}'").collect()[0]
    assert out.exported_tables == 2
    import os
    assert os.path.exists(os.path.join(dump, "load.sql"))
    assert os.path.exists(os.path.join(dump, "schema.sql"))

    # a fresh engine imports the dump and sees identical data
    from duckdb_read_spark.engine import Engine
    eng2 = Engine(spark=eng.spark, warehouse_dir=str(tmp_path / "wh2"))
    assert eng2.sql(f"IMPORT DATABASE '{dump}'").collect()[0].imported_tables == 2
    got = {tuple(r) for r in eng2.sql("SELECT k, v FROM ex1").collect()}
    want = {tuple(r) for r in eng.sql("SELECT k, v FROM ex1").collect()}
    assert got == want and len(want) == 25

    # DuckDB can replay the same load.sql text (cross-engine dump format)
    import duckdb
    con = duckdb.connect()
    for stmt in open(os.path.join(dump, "load.sql")).read().split(";"):
        if stmt.strip():
            con.execute(stmt)
    assert con.execute("SELECT count(*) FROM ex1").fetchone()[0] == 25

    # safe mode blocks both directions
    eng3 = Engine(spark=eng.spark, extensions_allowed=False)
    with pytest.raises(PermissionError):
        eng3.sql(f"EXPORT DATABASE '{tmp_path / 'x'}'")
    with pytest.raises(PermissionError):
        eng3.sql(f"IMPORT DATABASE '{dump}'")


def test_rollback_never_drops_registered_preexisting_tables(eng, tmp_path):
    """A table merely REGISTERED during a txn (existing data, e.g. via
    register_versioned or ATTACH) must survive ROLLBACK — only tables a
    CREATE statement made inside the txn are dropped."""
    pre = tmp_path / "pre_existing"
    eng.write_versioned(
        eng.spark.createDataFrame([(1,), (2,)], "k int"), str(pre))
    eng.sql("BEGIN")
    eng.register_versioned("t_pre", str(pre))
    eng.sql("CREATE TABLE t_made AS SELECT 1 AS one")
    eng.sql("ROLLBACK")
    # the pre-existing table's data is intact and still queryable
    assert eng.sql("SELECT count(*) AS n FROM t_pre").collect()[0].n == 2
    import os
    assert os.path.isdir(str(pre / "_log"))
    # the created table is gone
    import pytest as _pt
    with _pt.raises(Exception):
        eng.sql("SELECT * FROM t_made").collect()


def test_describe_history_and_show_create(eng):
    eng.sql("CREATE TABLE th AS SELECT n_nationkey AS k, n_name AS v FROM nation")
    eng.sql("INSERT INTO th VALUES (99, 'x')")
    hist = eng.sql("DESCRIBE HISTORY th").collect()
    assert [(h.version, h.operation) for h in hist] == \
        [(2, "append"), (1, "overwrite")]
    ddl = eng.sql("SHOW CREATE TABLE th").collect()[0].sql
    assert ddl.startswith("CREATE TABLE th (") and "k INT" in ddl \
        and "v STRING" in ddl
    with pytest.raises(ValueError):
        eng.sql("DESCRIBE HISTORY nation")  # not a versioned table


def test_optimize_zorder_by_statement(eng, spark, tmp_path):
    """OPTIMIZE t ZORDER BY (a, b): after the clustering rewrite, a
    one-key stats-prune on EITHER dimension survives to few files, where
    the original random layout pruned (almost) nothing."""
    import random

    from duckdb_read_spark import snapshots

    rng = random.Random(7)
    rows = [(rng.randrange(1000), rng.randrange(1000)) for _ in range(4000)]
    df = spark.createDataFrame(rows, "a int, b int").repartition(16)
    d = str(tmp_path / "tz")
    eng.write_versioned(df, d)
    eng.register_versioned("tz", d)
    before_a = len(snapshots.prune_by_stats(
        snapshots.snapshot_file_entries(d), "a BETWEEN 100 AND 120"))
    out = eng.sql("OPTIMIZE tz ZORDER BY (a, b)").collect()[0]
    assert out.zorder_by == "a,b"
    entries = snapshots.snapshot_file_entries(d)
    after_a = len(snapshots.prune_by_stats(entries, "a BETWEEN 100 AND 120"))
    after_b = len(snapshots.prune_by_stats(entries, "b BETWEEN 100 AND 120"))
    assert after_a < before_a
    assert after_b < len(entries)  # the SECOND dimension prunes too
    # content unchanged; history preserved
    assert eng.sql("SELECT count(*) AS n, sum(a) AS s FROM tz").collect() \
        == eng.sql("SELECT count(*) AS n, sum(a) AS s FROM tz "
                   "VERSION AS OF 1").collect()
    with pytest.raises(ValueError):
        eng.sql("OPTIMIZE tz ZORDER BY (nope)")
    # clean errors, not raw float() crashes (review finding r5)
    eng.sql("CREATE TABLE tzs AS SELECT n_name AS s, n_nationkey AS k FROM nation")
    with pytest.raises(ValueError, match="numeric"):
        eng.sql("OPTIMIZE tzs ZORDER BY (s, k)")
    eng.sql("CREATE TABLE tze (a INT, b INT)")
    with pytest.raises(ValueError, match="non-NULL"):
        eng.sql("OPTIMIZE tze ZORDER BY (a, b)")


def test_vacuum_statement(eng, tmp_path):
    eng.sql("CREATE TABLE tv AS SELECT n_nationkey AS k FROM nation")
    eng.sql("INSERT INTO tv VALUES (100)")
    eng.sql("CREATE OR REPLACE TABLE tv AS SELECT 1 AS k")  # overwrite
    out = eng.sql("VACUUM tv").collect()[0]
    assert out.removed_versions == 2
    assert eng.sql("SELECT count(*) AS n FROM tv").collect()[0].n == 1
    with pytest.raises(Exception):
        eng.sql("SELECT * FROM tv VERSION AS OF 1").collect()
    # RETAIN keeps more history
    eng.sql("INSERT INTO tv VALUES (2)")
    eng.sql("VACUUM tv RETAIN 2 SNAPSHOTS")
    assert eng.sql("SELECT count(*) AS n FROM tv").collect()[0].n == 2


# --- ALTER TABLE (metadata-only schema evolution) -------------------------

def test_alter_table_add_drop_rename(eng, spark, tmp_path):
    eng.sql("CREATE TABLE ta AS SELECT n_nationkey AS k, n_name AS v FROM nation")
    # ADD COLUMN: metadata-only — no data rewrite, reads back NULL-typed
    import glob as _g, os as _os
    td = eng._versioned["ta"]
    files_before = set(_g.glob(_os.path.join(td, "data", "*", "*")))
    eng.sql("ALTER TABLE ta ADD COLUMN score DOUBLE")
    assert set(_g.glob(_os.path.join(td, "data", "*", "*"))) == files_before
    row = eng.sql("SELECT k, score FROM ta WHERE k = 0").collect()[0]
    assert row.score is None
    assert dict(eng.table("ta").dtypes)["score"] == "double"
    # later INSERTs fill it physically
    eng.sql("INSERT INTO ta VALUES (100, 'x', 1.5)")
    assert eng.sql("SELECT score FROM ta WHERE k = 100").collect()[0].score == 1.5
    # DROP + RENAME COLUMN
    eng.sql("ALTER TABLE ta DROP COLUMN v")
    assert "v" not in eng.table("ta").columns
    eng.sql("ALTER TABLE ta RENAME COLUMN score TO quality")
    assert eng.sql("SELECT max(quality) AS m FROM ta").collect()[0].m == 1.5
    # UPDATE through the evolved schema
    eng.sql("UPDATE ta SET quality = 2.0 WHERE k = 100")
    assert eng.sql("SELECT quality FROM ta WHERE k = 100").collect()[0].quality == 2.0
    # errors
    with pytest.raises(ValueError):
        eng.sql("ALTER TABLE ta ADD COLUMN k INT")
    eng.sql("ALTER TABLE ta ADD COLUMN IF NOT EXISTS k INT")  # no-op
    with pytest.raises(ValueError):
        eng.sql("ALTER TABLE ta DROP COLUMN nope")
    with pytest.raises(ValueError):
        eng.sql("ALTER TABLE nation ADD COLUMN x INT")  # not versioned

    # RENAME TO
    eng.sql("ALTER TABLE ta RENAME TO tb")
    assert eng.sql("SELECT count(*) AS n FROM tb").collect()[0].n == 26
    with pytest.raises(Exception):
        eng.sql("SELECT * FROM ta").collect()


def test_alter_table_survives_restart(eng, spark, tmp_path):
    """The ALTER ledger is a persistent sidecar: a fresh Engine over the
    same warehouse sees the evolved schema."""
    from duckdb_read_spark.engine import Engine

    eng.sql("CREATE TABLE tp AS SELECT n_nationkey AS k FROM nation")
    eng.sql("ALTER TABLE tp ADD COLUMN tag VARCHAR")
    eng.sql("ALTER TABLE tp RENAME COLUMN k TO key")
    eng2 = Engine(spark=spark, warehouse_dir=eng._warehouse)
    assert set(eng2.table("tp").columns) == {"key", "tag"}


# --- constraints (NOT NULL / CHECK / UNIQUE / PRIMARY KEY) ----------------

def test_constraints_enforced_on_insert(eng, spark):
    """DuckDB-parity constraint enforcement on INSERT — the same script
    errors at the same statements in both engines."""
    import duckdb

    ddl = ("CREATE TABLE tc (id BIGINT PRIMARY KEY, "
           "name VARCHAR NOT NULL, qty INT CHECK (qty >= 0), "
           "tag VARCHAR UNIQUE)")
    eng.sql(ddl)
    con = duckdb.connect()
    con.execute(ddl)

    good = "INSERT INTO tc VALUES (1, 'a', 5, 'x'), (2, 'b', 0, NULL)"
    eng.sql(good)
    con.execute(good)
    bad = [
        "INSERT INTO tc VALUES (1, 'c', 1, 'y')",      # PK collision
        "INSERT INTO tc VALUES (3, NULL, 1, 'z')",     # NOT NULL
        "INSERT INTO tc VALUES (4, 'd', -1, 'w')",     # CHECK
        "INSERT INTO tc VALUES (5, 'e', 1, 'x')",      # UNIQUE collision
        "INSERT INTO tc VALUES (6, 'f', 1, 'q'), (6, 'g', 1, 'r')",  # batch dup
    ]
    for stmt in bad:
        with pytest.raises(Exception):
            eng.sql(stmt)
        with pytest.raises(Exception):
            con.execute(stmt)
    # NULL CHECK operand passes (SQL: unknown is not a violation), and a
    # second NULL in the UNIQUE column is fine
    ok = "INSERT INTO tc VALUES (7, 'h', NULL, NULL)"
    eng.sql(ok)
    con.execute(ok)
    got = {tuple(r) for r in eng.sql("SELECT id, name FROM tc").collect()}
    want = set(map(tuple, con.execute("SELECT id, name FROM tc").fetchall()))
    assert got == want and len(got) == 3


def test_constraints_survive_restart(eng, spark):
    from duckdb_read_spark.engine import Engine

    eng.sql("CREATE TABLE tcr (k INT PRIMARY KEY)")
    eng.sql("INSERT INTO tcr VALUES (1)")
    eng2 = Engine(spark=spark, warehouse_dir=eng._warehouse)
    with pytest.raises(ValueError, match="PRIMARY KEY"):
        eng2.sql("INSERT INTO tcr VALUES (1)")
    eng2.sql("INSERT INTO tcr VALUES (2)")


def test_enum_types_cross_engine(eng, spark):
    """CREATE TYPE … AS ENUM: enum-typed columns store as VARCHAR + auto
    CHECK — the same script inserts and errors at the same statements in
    both engines. Known divergence (documented): ORDER BY on an enum
    column sorts the stored string here, enum definition position in
    DuckDB — the test orders by a plain column."""
    import duckdb

    script = [
        "CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')",
        "CREATE TABLE moods (id INTEGER, m mood)",
        "INSERT INTO moods VALUES (1, 'happy'), (2, 'sad'), (3, NULL)",
    ]
    con = duckdb.connect()
    for stmt in script:
        eng.sql(stmt)
        con.execute(stmt)
    bad = "INSERT INTO moods VALUES (4, 'angry')"
    with pytest.raises(Exception):
        eng.sql(bad)
    with pytest.raises(Exception):
        con.execute(bad)
    q = "SELECT id, CAST(m AS VARCHAR) AS m FROM moods ORDER BY id"
    got = [tuple(r) for r in eng.sql(q, dialect="duckdb").collect()]
    want = [tuple(r) for r in con.execute(q).fetchall()]
    assert got == want and len(got) == 3
    # duplicate type / unknown drop error; IF EXISTS is quiet
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("CREATE TYPE mood AS ENUM ('x')")
    with pytest.raises(ValueError, match="unknown type"):
        eng.sql("DROP TYPE nope")
    eng.sql("DROP TYPE IF EXISTS nope")
    # dropping the type doesn't drop enforcement on the existing table
    # (the CHECK persisted with the table)
    eng.sql("DROP TYPE mood")
    with pytest.raises(Exception):
        eng.sql("INSERT INTO moods VALUES (5, 'angry')")
    eng.sql("INSERT INTO moods VALUES (5, 'ok')")


def test_enum_types_survive_restart(eng, spark):
    """Enum definitions persist in the warehouse _types.json sidecar
    (review fix: a fresh Engine over the same warehouse must still
    CREATE TABLE with the type and DROP TYPE it)."""
    from duckdb_read_spark.engine import Engine

    eng.sql("CREATE TYPE lvl AS ENUM ('lo', 'hi')")
    eng2 = Engine(spark=spark, warehouse_dir=eng._warehouse)
    eng2.sql("CREATE TABLE lt2 (k INTEGER, v lvl)")
    eng2.sql("INSERT INTO lt2 VALUES (1, 'lo')")
    with pytest.raises(Exception):
        eng2.sql("INSERT INTO lt2 VALUES (2, 'mid')")
    eng2.sql("DROP TYPE lvl")
    eng3 = Engine(spark=spark, warehouse_dir=eng._warehouse)
    with pytest.raises(ValueError, match="unknown type"):
        eng3.sql("DROP TYPE lvl")


def test_default_column_values(eng, spark):
    """DEFAULT expressions fill INSERTs that omit the column — same rows
    as DuckDB running the identical script."""
    import duckdb

    ddl = ("CREATE TABLE td (k INT, status VARCHAR DEFAULT 'new', "
           "score DOUBLE DEFAULT 1.5 NOT NULL)")
    script = ["INSERT INTO td (k) VALUES (1)",
              "INSERT INTO td (k, status) VALUES (2, 'old')",
              "INSERT INTO td VALUES (3, 'x', 9.0)"]
    eng.sql(ddl)
    con = duckdb.connect()
    con.execute(ddl)
    for stmt in script:
        eng.sql(stmt)
        con.execute(stmt)
    got = {tuple(r) for r in eng.sql("SELECT k, status, score FROM td").collect()}
    want = set(map(tuple, con.execute("SELECT k, status, score FROM td").fetchall()))
    assert got == want and len(got) == 3
    # DEFAULT + NOT NULL: an explicit NULL still violates
    with pytest.raises(Exception):
        eng.sql("INSERT INTO td VALUES (4, 'y', NULL)")
    with pytest.raises(Exception):
        con.execute("INSERT INTO td VALUES (4, 'y', NULL)")


def test_alter_constraint_interplay(eng, spark):
    """Review findings r5 (batch 3): sidecars stay consistent with ALTER,
    CREATE OR REPLACE clears the ledger, time travel sees the pre-ALTER
    schema, RENAME TO survives restart."""
    from duckdb_read_spark.engine import Engine

    eng.sql("CREATE TABLE ti2 (k INT NOT NULL, v VARCHAR DEFAULT 'd')")
    eng.sql("INSERT INTO ti2 (k) VALUES (1)")
    # dropping a constrained column removes its constraints — INSERT works
    eng.sql("ALTER TABLE ti2 DROP COLUMN k")
    eng.sql("INSERT INTO ti2 (v) VALUES ('x')")
    # renaming a defaulted column keeps the DEFAULT under the new name
    eng.sql("ALTER TABLE ti2 RENAME COLUMN v TO label")
    eng.sql("ALTER TABLE ti2 ADD COLUMN n INT")
    eng.sql("INSERT INTO ti2 (n) VALUES (9)")
    assert sorted(r.label for r in eng.sql("SELECT label FROM ti2").collect()) \
        == ["d", "d", "x"]

    # time travel to a pre-ALTER version shows the pre-ALTER schema
    assert "k" in eng.sql("SELECT * FROM ti2 VERSION AS OF 1").columns
    assert "k" not in eng.table("ti2").columns

    # CREATE OR REPLACE starts a clean ledger — no stale rename/drop
    eng.sql("CREATE OR REPLACE TABLE ti2 AS SELECT 5 AS k, 'y' AS v")
    assert set(eng.table("ti2").columns) == {"k", "v"}

    # RENAME TO moves the warehouse dir → survives restart under NEW name
    eng.sql("CREATE TABLE tr2 AS SELECT 1 AS one")
    eng.sql("ALTER TABLE tr2 RENAME TO tr3")
    eng2 = Engine(spark=spark, warehouse_dir=eng._warehouse)
    assert eng2.sql("SELECT count(*) AS n FROM tr3").collect()[0].n == 1
    with pytest.raises(Exception):
        eng2.sql("SELECT * FROM tr2").collect()


def test_constraint_parser_edges(eng):
    import duckdb

    con = duckdb.connect()
    # DEFAULT with a paren-bearing literal; DEFAULT followed by UNIQUE;
    # table-level UNIQUE (a, b)
    ddl = ("CREATE TABLE te (a INT, b INT, "
           "s VARCHAR DEFAULT ')', "
           "tag VARCHAR DEFAULT 'n' UNIQUE, "
           "UNIQUE (a, b))")
    eng.sql(ddl)
    con.execute(ddl)
    for ok in ["INSERT INTO te (a, b, tag) VALUES (1, 2, 'x')",
               "INSERT INTO te (a, b) VALUES (5, 6)"]:  # tag <- DEFAULT 'n'
        eng.sql(ok)
        con.execute(ok)
    rows = {r.tag: r.s for r in eng.sql("SELECT s, tag FROM te").collect()}
    assert rows == {"x": ")", "n": ")"}
    for bad in ["INSERT INTO te (a, b, tag) VALUES (1, 2, 'y')",   # (a,b) dup
                "INSERT INTO te (a, b) VALUES (7, 8)"]:            # tag 'n' dup
        with pytest.raises(Exception):
            eng.sql(bad)
        with pytest.raises(Exception):
            con.execute(bad)
    # ON CONFLICT path enforces row constraints too
    eng.sql("CREATE TABLE tonc (id BIGINT, nm VARCHAR NOT NULL)")
    eng.sql("INSERT INTO tonc VALUES (1, 'a')")
    with pytest.raises(ValueError, match="NOT NULL"):
        eng.sql("INSERT INTO tonc VALUES (2, NULL) "
                "ON CONFLICT (id) DO NOTHING")


def test_macro_substitution_edges(eng):
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE VIEW nation AS SELECT * FROM "
                "read_parquet('/root/testdata/sf0.001/nation.parquet')")
    script = [
        "CREATE MACRO clamp(x, lo, hi) AS "
        "CASE WHEN x < lo THEN lo WHEN x > hi THEN hi ELSE x END",
        "CREATE MACRO tag(x) AS 'x: ' || x",
    ]
    for stmt in script:
        eng.sql(stmt, dialect="duckdb")
        con.execute(stmt)
    # an argument whose text equals a later parameter name; a parameter
    # name inside a body string literal
    q = ("SELECT n_nationkey AS k, "
         "clamp(n_regionkey, 0, 3) AS c, tag(n_nationkey) AS t "
         "FROM (SELECT n_nationkey, n_regionkey AS lo, n_regionkey "
         "FROM nation) n(n_nationkey, lo, n_regionkey) ORDER BY k LIMIT 5")
    q = ("SELECT n_nationkey AS k, clamp(n_regionkey, 0, 3) AS c, "
         "tag(n_nationkey) AS t FROM nation ORDER BY k LIMIT 5")
    got = [tuple(r) for r in eng.sql(q, dialect="duckdb").collect()]
    want = con.execute(q).fetchall()
    assert got == want
    assert all(t.startswith("x: ") for _, _, t in got)
    # the collision case directly: pass a column literally named like a
    # later parameter
    eng.sql("CREATE OR REPLACE TABLE tm AS SELECT 7 AS lo")
    v = eng.sql("SELECT clamp(lo, 0, 10) AS v FROM tm",
                dialect="duckdb").collect()[0].v
    assert v == 7


def test_rename_preserves_declared_column_order(eng, duck):
    """Review r6: the rename coalesce (pre+post-rename file generations)
    must keep the renamed column in its ORIGINAL position — moving it to
    the end silently flips positional INSERT bindings and SELECT * order.
    Same script runs in DuckDB; orders and values must agree."""
    script = [
        "CREATE TABLE tro (a BIGINT, b BIGINT, c BIGINT)",
        "INSERT INTO tro VALUES (1, 2, 3)",
        "ALTER TABLE tro RENAME COLUMN b TO bb",
        "INSERT INTO tro VALUES (10, 20, 30)",   # positional: a, bb, c
        "ALTER TABLE tro RENAME COLUMN a TO aa",
        "INSERT INTO tro VALUES (100, 200, 300)",
    ]
    duck.sql("DROP TABLE IF EXISTS tro")
    for s in script:
        eng.sql(s)
        duck.sql(s)
    q = "SELECT * FROM tro ORDER BY aa"
    got = [(r[0], r[1], r[2]) for r in eng.sql(q).collect()]
    want = duck.sql(q).fetchall()
    assert got == [tuple(r) for r in want]
    assert [f.name for f in eng.table("tro").schema.fields] \
        == [d[0] for d in duck.sql("DESCRIBE tro").fetchall()]


def test_truncate_and_insert_or_replace_cross_engine(eng, duck):
    """DuckDB-verbatim TRUNCATE and INSERT OR REPLACE (PK-inferred
    upsert): identical scripts leave identical table states."""
    duck.sql("DROP TABLE IF EXISTS tir")
    script = [
        "CREATE TABLE tir (k BIGINT PRIMARY KEY, v VARCHAR)",
        "INSERT INTO tir VALUES (1, 'a'), (2, 'b')",
        "INSERT OR REPLACE INTO tir VALUES (2, 'B'), (3, 'c')",
    ]
    for stmt in script:
        eng.sql(stmt)
        duck.sql(stmt)
    q = "SELECT k, v FROM tir ORDER BY k"
    assert [(r.k, r.v) for r in eng.sql(q).collect()] \
        == [tuple(r) for r in duck.sql(q).fetchall()]

    # ON CONFLICT with no explicit target infers the PK too
    eng.sql("INSERT INTO tir VALUES (3, 'x') "
            "ON CONFLICT DO UPDATE SET v = excluded.v")
    duck.sql("INSERT INTO tir VALUES (3, 'x') "
             "ON CONFLICT DO UPDATE SET v = excluded.v")
    assert [(r.k, r.v) for r in eng.sql(q).collect()] \
        == [tuple(r) for r in duck.sql(q).fetchall()]

    for stmt in ("TRUNCATE tir",):
        eng.sql(stmt)
        duck.sql(stmt)
    assert eng.sql("SELECT count(*) AS n FROM tir").first()["n"] == 0
    assert duck.sql("SELECT count(*) FROM tir").fetchone()[0] == 0
    # time travel still sees the pre-TRUNCATE state
    assert eng.sql("SELECT count(*) AS n FROM tir VERSION AS OF 3") \
        .first()["n"] == 3


def test_conflict_target_inference_edges(eng, duck):
    """Review r6-2: multiple UNIQUE/PK constraints make a bare conflict
    target ambiguous (DuckDB errors too); OR REPLACE + ON CONFLICT is
    rejected like DuckDB."""
    eng.sql("CREATE TABLE tamb (k BIGINT PRIMARY KEY, u BIGINT UNIQUE)")
    eng.sql("INSERT INTO tamb VALUES (1, 10)")
    with pytest.raises(ValueError, match="[Cc]onflict target"):
        eng.sql("INSERT OR REPLACE INTO tamb VALUES (1, 11)")
    with pytest.raises(ValueError, match="[Cc]onflict target"):
        eng.sql("INSERT INTO tamb VALUES (1, 11) "
                "ON CONFLICT DO UPDATE SET u = excluded.u")
    # explicit target still works
    eng.sql("INSERT INTO tamb VALUES (1, 12) "
            "ON CONFLICT (k) DO UPDATE SET u = excluded.u")
    assert eng.sql("SELECT u FROM tamb").first()["u"] == 12
    with pytest.raises(ValueError, match="OR REPLACE"):
        eng.sql("INSERT OR REPLACE INTO tamb VALUES (1, 2) "
                "ON CONFLICT (k) DO NOTHING")


def test_dml_does_not_rehydrate_unrelated_schemas(eng):
    """r7 perf regression pin: one DML commit must invalidate only its own
    target's cached schema — a 500-table warehouse must not pay ~500
    schema fetches after every INSERT (q125 0.081 s → 0.373 s came from a
    whole-catalog rebuild per epoch bump). _schema_fetches counts actual
    spark.table(name).schema reads inside Engine._fields_of."""
    eng.sql("CREATE TABLE hyd (a BIGINT, b STRING)")
    eng.sql("INSERT INTO hyd VALUES (1, 'x')")
    # hydrate several unrelated fixture tables + the DML target once
    eng.sql("SELECT len(r_name) AS n FROM region", dialect="duckdb").collect()
    eng.sql("SELECT len(n_name) AS n FROM nation", dialect="duckdb").collect()
    eng.sql("SELECT len(b) AS n FROM hyd", dialect="duckdb").collect()
    before = eng._schema_fetches
    eng.sql("INSERT INTO hyd VALUES (2, 'y')")
    during = eng._schema_fetches - before
    # the INSERT itself may re-read ONLY its own target's schema
    assert during <= 1, f"INSERT hydrated {during} schemas"
    # queries over unrelated tables after the commit hit the cache
    eng.sql("SELECT len(r_name) AS n FROM region", dialect="duckdb").collect()
    eng.sql("SELECT len(n_name) AS n FROM nation", dialect="duckdb").collect()
    after_unrelated = eng._schema_fetches - before - during
    assert after_unrelated == 0, (
        f"post-DML queries re-read {after_unrelated} unrelated schemas")
    # the target itself re-hydrates (its schema may have changed) — at
    # most one fetch, and the refreshed read sees the new row
    got = eng.sql("SELECT count(*) AS n FROM hyd", dialect="duckdb").first()
    assert got["n"] == 2
    assert eng._schema_fetches - before - during <= 1


def test_replace_table_refreshes_kind_dispatch(eng):
    """Targeted invalidation must still SEE schema changes: after CREATE
    OR REPLACE TABLE flips a column from string to array, len() on that
    column must dispatch to array size, not string length."""
    eng.sql("CREATE TABLE kd AS SELECT 'abcdef' AS s")
    # hydrate kd's schema into the cache via a len() dispatch
    assert eng.sql("SELECT len(s) AS n FROM kd",
                   dialect="duckdb").first()["n"] == 6
    eng.sql("CREATE OR REPLACE TABLE kd AS SELECT array(1, 2, 3) AS s")
    # a stale cached kind would dispatch len(s) as string length
    assert eng.sql("SELECT len(s) AS n FROM kd",
                   dialect="duckdb").first()["n"] == 3


def test_decimal_column_dml_commits(eng):
    """r8: pyarrow cannot decode parquet footer stats for DECIMAL
    (FIXED_LEN_BYTE_ARRAY) columns — the manifest builder must degrade
    to no-stats for that column, not fail the whole commit."""
    eng.sql("CREATE TABLE decdml (x DECIMAL(10,2), g BIGINT)")
    eng.sql("INSERT INTO decdml VALUES (1.25, 1), (1.75, 1), (-1.01, 2)")
    eng.sql("UPDATE decdml SET x = x + 1 WHERE g = 2")
    got = eng.sql("SELECT CAST(sum(x) AS STRING) AS s FROM decdml").first()
    assert got["s"] == "2.99"
    # integer column stats still prune
    hist = eng.table_history("decdml")
    assert len(hist) == 3


def test_insert_by_name(eng):
    """r8: INSERT INTO t BY NAME SELECT … matches columns by name,
    fills unnamed columns with their DEFAULT (or NULL), and refuses
    unknown source columns / VALUES bodies / column lists like DuckDB."""
    eng.sql("CREATE TABLE tbn (a BIGINT, b STRING, c DOUBLE DEFAULT 9.5)")
    eng.sql("INSERT INTO tbn BY NAME SELECT 'x' AS b, 1 AS a")
    eng.sql("INSERT INTO tbn BY NAME SELECT 2.5 AS c, 7 AS a")
    rows = sorted(tuple(r) for r in eng.table("tbn").collect())
    assert rows == [(1, "x", 9.5), (7, None, 2.5)]
    with pytest.raises(ValueError, match="does not have"):
        eng.sql("INSERT INTO tbn BY NAME SELECT 1 AS zz")
    with pytest.raises(ValueError, match="SELECT statement"):
        eng.sql("INSERT INTO tbn BY NAME VALUES (1, 'v', 2.0)")


def test_alter_column_default_and_type(eng):
    """r8: ALTER COLUMN SET/DROP DEFAULT updates the constraint sidecar;
    ALTER COLUMN TYPE is a rewriting cast commit (USING honored)."""
    eng.sql("CREATE TABLE alt1 (a BIGINT, b BIGINT DEFAULT 7)")
    eng.sql("ALTER TABLE alt1 ALTER COLUMN b SET DEFAULT 9")
    eng.sql("INSERT INTO alt1 (a) VALUES (1)")
    assert eng.sql("SELECT b FROM alt1").first()["b"] == 9
    eng.sql("ALTER TABLE alt1 ALTER b DROP DEFAULT")
    eng.sql("INSERT INTO alt1 (a) VALUES (2)")
    assert eng.sql(
        "SELECT b FROM alt1 WHERE a = 2").first()["b"] is None
    eng.sql("CREATE TABLE alt2 AS SELECT '12' AS v")
    eng.sql("ALTER TABLE alt2 ALTER COLUMN v TYPE INT")
    assert dict(eng.table("alt2").dtypes)["v"] == "int"
    eng.sql("ALTER TABLE alt2 ALTER v TYPE VARCHAR USING v || '!'")
    assert eng.sql("SELECT v FROM alt2").first()["v"] == "12!"
    with pytest.raises(ValueError, match="no column"):
        eng.sql("ALTER TABLE alt2 ALTER COLUMN zz SET DEFAULT 1")


def test_create_view_statement(eng):
    """r8: CREATE [OR REPLACE] VIEW routes to a session temp view (the
    catalog is temp views; Spark's persistent CREATE VIEW rejects them)
    with DuckDB's duplicate-name error on the bare form."""
    eng.sql("CREATE TABLE vsrc AS SELECT 5 AS a")
    eng.sql("CREATE VIEW vv AS SELECT a * 2 AS b FROM vsrc")
    assert eng.sql("SELECT b FROM vv").first()["b"] == 10
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("CREATE VIEW vv AS SELECT 1 AS b")
    eng.sql("CREATE OR REPLACE VIEW vv AS SELECT a * 3 AS b FROM vsrc")
    assert eng.sql("SELECT b FROM vv").first()["b"] == 15
    eng.sql("DROP VIEW vv")
    eng.sql("CREATE VIEW vv AS SELECT a AS b FROM vsrc")
    assert eng.sql("SELECT b FROM vv").first()["b"] == 5


def test_create_table_type_aliases(eng):
    """r8: DuckDB's type-alias fan in CREATE TABLE definitions — TEXT/
    CHAR(n)/INT4/BLOB/NUMERIC map onto Spark carriers; DEFAULT string
    literals survive (only the base type token maps)."""
    eng.sql("CREATE TABLE ta (a INT4, b TEXT, c CHAR(3) DEFAULT 'int', "
            "d BLOB, e NUMERIC)")
    eng.sql("INSERT INTO ta (a, b, d, e) "
            "VALUES (1, 'x', CAST('ab' AS BINARY), 1.5)")
    r = eng.sql("SELECT * FROM ta").first()
    assert (r["a"], r["b"], r["c"], bytes(r["d"]),
            str(r["e"])) == (1, "x", "int", b"ab", "1.500")


def test_dml_returning(eng):
    """DML RETURNING [measured r9]: INSERT returns the inserted rows
    with DEFAULTs applied, UPDATE the POST-image of touched rows
    (SET expressions evaluated), DELETE the deleted rows; the list is a
    full select list (*/expressions). Join-DML and conflict shapes
    refuse loudly."""
    import duckdb as _duckdb

    import pytest as _pytest

    duck = _duckdb.connect()
    stmts = [
        "CREATE TABLE retrn(a INT, b VARCHAR DEFAULT 'z')",
        "INSERT INTO retrn VALUES (1,'x'),(2,'y') RETURNING a, b",
        "INSERT INTO retrn (a) VALUES (3) RETURNING *",
        "UPDATE retrn SET a = a + 10 WHERE a < 3 RETURNING a, b",
        "UPDATE retrn SET a = a * 2, b = b || '!' RETURNING *",
        "DELETE FROM retrn WHERE a > 20 RETURNING a, upper(b) AS ub",
        "SELECT * FROM retrn ORDER BY a",
    ]
    for s in stmts:
        want = duck.execute(s).fetchall()
        r = eng.sql(s, dialect="duckdb")
        got = [tuple(x) for x in r.collect()] if r is not None else []
        assert sorted(map(repr, got)) == sorted(map(repr, want)), s
    with _pytest.raises(NotImplementedError, match="RETURNING"):
        eng.sql("INSERT INTO retrn VALUES (9, 'q') ON CONFLICT DO "
                "NOTHING RETURNING a", dialect="duckdb")


def test_create_temp_table_lifecycle(spark, tmp_path):
    """CREATE TEMP TABLE is a full versioned table (DML works) whose
    directory lives OUTSIDE the warehouse — DuckDB's session scoping;
    Spark itself only offers CREATE TEMPORARY VIEW (r11)."""
    import os

    from duckdb_read_spark.engine import Engine

    wh = str(tmp_path / "wh_temp")
    eng = Engine(spark=spark, warehouse_dir=wh)
    eng.sql("CREATE TEMP TABLE tt AS SELECT 5 AS v", dialect="duckdb")
    eng.sql("UPDATE tt SET v = v + 1", dialect="duckdb")
    assert eng.sql("SELECT v FROM tt").collect()[0][0] == 6
    eng.sql("CREATE TEMPORARY TABLE tt2(x INTEGER)", dialect="duckdb")
    eng.sql("INSERT INTO tt2 VALUES (9)", dialect="duckdb")
    assert eng.sql("SELECT x FROM tt2").collect()[0][0] == 9
    eng.sql("CREATE TABLE perm AS SELECT 1 AS x", dialect="duckdb")
    names = set(os.listdir(wh)) if os.path.isdir(wh) else set()
    assert "perm" in names and "tt" not in names and "tt2" not in names


def test_temp_table_shadows_permanent(spark, tmp_path):
    """A TEMP TABLE colliding with a permanent table SHADOWS it for the
    session and DROP restores it — it must never overwrite the warehouse
    copy (ADVICE r11: the old path clobbered the permanent directory
    with mode='overwrite'). DuckDB's temp catalog resolves first."""
    import pytest as _pytest

    from duckdb_read_spark.engine import Engine

    wh = str(tmp_path / "wh_shadow")
    eng = Engine(spark=spark, warehouse_dir=wh)
    eng.sql("CREATE TABLE st AS SELECT 1 AS v", dialect="duckdb")
    eng.sql("CREATE TEMP TABLE st AS SELECT 99 AS v", dialect="duckdb")
    # temp shadows for resolution, and temp DML touches only the temp
    assert eng.sql("SELECT v FROM st").collect()[0][0] == 99
    eng.sql("UPDATE st SET v = v + 1", dialect="duckdb")
    assert eng.sql("SELECT v FROM st").collect()[0][0] == 100
    # re-creating the temp needs OR REPLACE, like any table namespace
    with _pytest.raises(ValueError, match="already exists"):
        eng.sql("CREATE TEMP TABLE st AS SELECT 2 AS v", dialect="duckdb")
    eng.sql("CREATE OR REPLACE TEMP TABLE st AS SELECT 7 AS v",
            dialect="duckdb")
    assert eng.sql("SELECT v FROM st").collect()[0][0] == 7
    # DROP removes the temp and un-shadows the UNTOUCHED permanent copy
    eng.sql("DROP TABLE st", dialect="duckdb")
    assert eng.sql("SELECT v FROM st").collect()[0][0] == 1
    # a fresh engine over the same warehouse sees the intact permanent
    eng2 = Engine(spark=spark, warehouse_dir=wh)
    assert eng2.sql("SELECT v FROM st").collect()[0][0] == 1


def test_declared_not_null_in_every_catalog_view(eng):
    """A declared NOT NULL lives in the constraints sidecar, not in the
    Spark schema (which says nullable). DESCRIBE, information_schema,
    PRAGMA table_info and SHOW CREATE TABLE all report it, as DuckDB 1.0
    does for the same table."""
    import duckdb

    ddl = "CREATE TABLE nn (a INTEGER NOT NULL, b VARCHAR)"
    con = duckdb.connect()
    con.execute(ddl)
    eng.sql(ddl)
    info = ("SELECT column_name, is_nullable FROM information_schema.columns "
            "WHERE table_name = 'nn' ORDER BY ordinal_position")
    want = [("a", "INTEGER", "NO"), ("b", "VARCHAR", "YES")]
    assert [r[:3] for r in con.execute("DESCRIBE nn").fetchall()] == want
    assert [tuple(r[:3]) for r in eng.sql("DESCRIBE nn").collect()] == want
    want = [("a", "NO"), ("b", "YES")]
    assert con.execute(info).fetchall() == want
    assert [tuple(r) for r in eng.sql(info, dialect="duckdb").collect()] \
        == want
    want = [("a", True), ("b", False)]
    info = "PRAGMA table_info('nn')"
    assert [(r[1], r[3]) for r in con.execute(info).fetchall()] == want
    assert [(r[1], r[3]) for r in eng.sql(info).collect()] == want
    ddl = eng.sql("SHOW CREATE TABLE nn").collect()[0].sql
    assert "a INT NOT NULL," in ddl and "b STRING\n" in ddl
