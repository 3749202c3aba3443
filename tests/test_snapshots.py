"""Versioned tables: commit log, time travel, SQL AS OF surface.

The table-format motif from the reference's metadata notes
(/root/reference/metadata:1-17): the metadata log is the source of truth,
snapshots are immutable, readers pick a version without touching newer
data files.
"""

from __future__ import annotations

import os

import pytest

from duckdb_read_spark.snapshots import (
    history,
    read_table,
    resolve_snapshot,
    write_table,
)


def test_write_read_versions(spark, tmp_path):
    d = str(tmp_path / "tbl")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    v2 = spark.createDataFrame([(1, "a2"), (3, "c")], "id long, s string")
    c1 = write_table(v1, d, mode="overwrite")
    c2 = write_table(v2, d, mode="overwrite")
    assert (c1.version, c2.version) == (1, 2)
    assert sorted(r["s"] for r in read_table(spark, d, version=1).collect()) == ["a", "b"]
    assert sorted(r["s"] for r in read_table(spark, d, version=2).collect()) == ["a2", "c"]
    # latest = v2
    assert read_table(spark, d).count() == 2
    assert [h["version"] for h in history(d)] == [2, 1]


def test_append_extends_snapshot(spark, tmp_path):
    d = str(tmp_path / "tbl")
    write_table(spark.createDataFrame([(1,)], "id long"), d)
    write_table(spark.createDataFrame([(2,)], "id long"), d, mode="append")
    write_table(spark.createDataFrame([(9,)], "id long"), d, mode="overwrite")
    assert read_table(spark, d, version=1).count() == 1
    assert sorted(r["id"] for r in read_table(spark, d, version=2).collect()) == [1, 2]
    # overwrite resets the file list — old data dirs are NOT in snapshot 3
    assert [r["id"] for r in read_table(spark, d, version=3).collect()] == [9]


def test_time_travel_by_timestamp(spark, tmp_path):
    d = str(tmp_path / "tbl")
    write_table(spark.createDataFrame([(1,)], "id long"), d, timestamp_ms=1000)
    write_table(spark.createDataFrame([(2,)], "id long"), d, timestamp_ms=2000)
    assert resolve_snapshot(d, as_of_ms=1500)[0] == 1
    assert resolve_snapshot(d, as_of_ms=2000)[0] == 2
    with pytest.raises(LookupError):
        resolve_snapshot(d, as_of_ms=500)
    assert read_table(spark, d, as_of_ms=1500).count() == 1


def test_unknown_version_and_bad_args(spark, tmp_path):
    d = str(tmp_path / "tbl")
    with pytest.raises(FileNotFoundError):
        resolve_snapshot(d)
    write_table(spark.createDataFrame([(1,)], "id long"), d)
    with pytest.raises(LookupError):
        resolve_snapshot(d, version=7)
    with pytest.raises(ValueError):
        resolve_snapshot(d, version=1, as_of_ms=1)


def test_commit_is_exclusive(spark, tmp_path):
    """Two writers racing on the same version: exactly one wins (O_EXCL)."""
    import json as _json
    import os as _os

    d = str(tmp_path / "tbl")
    write_table(spark.createDataFrame([(1,)], "id long"), d)
    # simulate the loser of the race: another writer already committed v2
    # between our log read and our commit — monkeypatch-free by pre-creating
    # the v2 entry with a DIFFERENT mtime-ordering-safe content, then making
    # write_table race against it via a patched read_log snapshot
    from duckdb_read_spark import snapshots as snap

    stale = snap.read_log(d)  # both writers saw only v1
    with open(snap._log_path(d, 2), "x") as f:
        _json.dump({"version": 2, "timestamp_ms": 0, "mode": "append",
                    "dirs": []}, f)
    orig = snap.read_log
    try:
        snap.read_log = lambda _d: stale  # writer still believes head is v1
        with pytest.raises(FileExistsError):
            write_table(spark.createDataFrame([(2,)], "id long"), d)
    finally:
        snap.read_log = orig
    assert _os.path.exists(snap._log_path(d, 2))


def test_schema_evolution_on_append(spark, tmp_path):
    d = str(tmp_path / "tbl")
    write_table(spark.createDataFrame([(1,)], "id long"), d)
    write_table(
        spark.createDataFrame([(2, "x")], "id long, extra string"), d, mode="append")
    df = read_table(spark, d)
    assert set(df.columns) == {"id", "extra"}
    rows = {r["id"]: r["extra"] for r in df.collect()}
    assert rows == {1: None, 2: "x"}


def test_engine_register_versioned_and_sql_as_of(engine, tmp_path):
    d = str(tmp_path / "vt")
    s = engine.spark
    engine.write_versioned(s.createDataFrame([(1, 10.0)], "id long, v double"), d)
    engine.write_versioned(s.createDataFrame([(1, 99.0), (2, 5.0)], "id long, v double"), d)
    engine.register_versioned("vt", d)  # latest
    assert engine.sql("SELECT COUNT(*) AS n FROM vt").first()["n"] == 2
    # time travel in the API
    engine.register_versioned("vt_v1", d, version=1)
    assert engine.sql("SELECT v FROM vt_v1").first()["v"] == 10.0
    # time travel in SQL
    assert engine.sql(
        "SELECT COUNT(*) AS n FROM vt VERSION AS OF 1").first()["n"] == 1
    assert engine.sql(
        "SELECT SUM(v) AS sv FROM vt FOR VERSION AS OF 2").first()["sv"] == 104.0
    assert [h["version"] for h in engine.table_history("vt")] == [2, 1]


def test_persistent_catalog_rediscovers_tables(spark, tmp_path):
    """A new Engine over an existing warehouse re-registers every table
    whose _log/ is on disk — CREATE TABLE survives a session restart
    (the reference's OpenDB startup motif, /root/reference/duckdb:120-125)."""
    from duckdb_read_spark.engine import Engine

    wh = str(tmp_path / "wh")
    e1 = Engine(spark=spark, warehouse_dir=wh)
    e1.sql("CREATE TABLE pt (k BIGINT)")
    e1.sql("INSERT INTO pt VALUES (1)")
    e1.sql("INSERT INTO pt VALUES (2)")
    spark.catalog.dropTempView("pt")  # simulate a fresh session
    e2 = Engine(spark=spark, warehouse_dir=wh)
    assert "pt" in e2._versioned
    assert {r["k"] for r in e2.sql("SELECT * FROM pt").collect()} == {1, 2}
    assert e2.sql(
        "SELECT COUNT(*) AS n FROM pt VERSION AS OF 2").first()["n"] == 1
    e2.sql("INSERT INTO pt VALUES (3)")  # DML keeps working across restart
    assert e2.sql("SELECT COUNT(*) AS n FROM pt").first()["n"] == 3


def test_engine_sql_timestamp_as_of(engine, tmp_path):
    from duckdb_read_spark.snapshots import write_table as wt

    d = str(tmp_path / "vt_ts")
    s = engine.spark
    # pin commit timestamps around 2024-01-15 UTC
    wt(s.createDataFrame([(1,)], "id long"), d, timestamp_ms=1705276800000)  # 01-15
    wt(s.createDataFrame([(1,), (2,)], "id long"), d, timestamp_ms=1705363200000)  # 01-16
    engine.register_versioned("vt_ts", d)
    n = engine.sql(
        "SELECT COUNT(*) AS n FROM vt_ts TIMESTAMP AS OF '2024-01-15T12:00:00'"
    ).first()["n"]
    assert n == 1


def test_vacuum_retains_kept_replay_chain(spark, tmp_path):
    """vacuum(keep_last=2) on overwrite,append,overwrite,append: the kept
    snapshots (v3 overwrite + v4 append) must replay identically; v1/v2
    become cleanly unreadable; their data dirs are gone from disk."""
    import os

    from duckdb_read_spark.snapshots import (
        read_table, resolve_snapshot, vacuum, write_table,
    )

    d = str(tmp_path / "vt_vac")
    write_table(spark.createDataFrame([(1,)], "id long"), d)                    # v1 ow
    write_table(spark.createDataFrame([(2,)], "id long"), d, mode="append")     # v2 ap
    write_table(spark.createDataFrame([(3,)], "id long"), d)                    # v3 ow
    write_table(spark.createDataFrame([(4,)], "id long"), d, mode="append")     # v4 ap
    before = {r["id"] for r in read_table(spark, d).collect()}
    assert before == {3, 4}
    stats = vacuum(d, keep_last=2)
    # v1+v2 dirs unreferenced by v3/v4 (v3 is an overwrite) → removed
    assert stats == {"removed_dirs": 2, "removed_versions": 2}
    assert {r["id"] for r in read_table(spark, d).collect()} == {3, 4}
    assert {r["id"] for r in read_table(spark, d, version=3).collect()} == {3}
    with pytest.raises(LookupError, match="not in log"):
        resolve_snapshot(d, version=1)
    data_root = os.path.join(d, "data")
    assert len(os.listdir(data_root)) == 2


def test_vacuum_append_chain_keeps_base_overwrite(spark, tmp_path):
    """keep_last=1 where the newest snapshot is an APPEND: its base
    overwrite's log entry and data dir must survive, or the kept snapshot
    would replay wrong."""
    from duckdb_read_spark.snapshots import read_table, vacuum, write_table

    d = str(tmp_path / "vt_vac2")
    write_table(spark.createDataFrame([(1,)], "id long"), d)                    # v1 ow
    write_table(spark.createDataFrame([(2,)], "id long"), d, mode="append")     # v2 ap
    write_table(spark.createDataFrame([(3,)], "id long"), d, mode="append")     # v3 ap
    stats = vacuum(d, keep_last=1)
    # base overwrite is v1 → nothing removable
    assert stats == {"removed_dirs": 0, "removed_versions": 0}
    assert {r["id"] for r in read_table(spark, d).collect()} == {1, 2, 3}


def test_as_of_inside_string_literal_untouched(engine, tmp_path):
    """An AS-OF-shaped pattern inside a string literal or comment must NOT
    be rewritten once a versioned table is registered (ADVICE r2)."""
    d = str(tmp_path / "vt_lit")
    s = engine.spark
    engine.write_versioned(s.createDataFrame([(1,)], "id long"), d)
    engine.write_versioned(s.createDataFrame([(1,), (2,)], "id long"), d)
    engine.register_versioned("vt_lit", d)
    row = engine.sql(
        "SELECT 'vt_lit VERSION AS OF 1' AS s, COUNT(*) AS n "
        "FROM vt_lit -- vt_lit VERSION AS OF 1"
    ).first()
    assert row["s"] == "vt_lit VERSION AS OF 1"   # literal survives verbatim
    assert row["n"] == 2                          # table itself reads latest
    # the real rewrite still works alongside a literal
    row2 = engine.sql(
        "SELECT 'vt_lit VERSION AS OF 9' AS s, COUNT(*) AS n "
        "FROM vt_lit VERSION AS OF 1"
    ).first()
    assert row2["n"] == 1 and row2["s"] == "vt_lit VERSION AS OF 9"


def test_snapshot_scan_reads_only_named_dirs(engine, tmp_path):
    """Plan check: a pinned snapshot's scan lists only that snapshot's data
    dirs — time travel must not read newer files."""
    d = str(tmp_path / "vt_plan")
    s = engine.spark
    engine.write_versioned(s.createDataFrame([(1,)], "id long"), d)
    engine.write_versioned(s.createDataFrame([(2,)], "id long"), d)
    df = engine.register_versioned("vt_old", d, version=1)
    files = df.inputFiles()
    assert files and all("/v1-" in f for f in files)
    assert not any("/v2-" in f for f in files)


def test_vacuum_preserves_stream_watermarks(spark, tmp_path):
    """Review finding r5: vacuum truncation deleted the append commits
    carrying the streaming sink's per-app batch-id watermark, so a
    post-vacuum checkpoint-recovery replay double-appended. The dropped
    watermarks now fold into a _log sidecar consulted alongside live
    commits."""
    from duckdb_read_spark import snapshots
    from duckdb_read_spark.streaming.sink import commit_stream_batch

    td = str(tmp_path / "t")
    df = spark.createDataFrame([(1,)], "k int")
    assert commit_stream_batch(df, 0, td, "appA") is True
    assert commit_stream_batch(df, 1, td, "appA") is True
    # maintenance: an overwrite (compaction analog) then retention vacuum
    snapshots.write_table(
        spark.createDataFrame([(1,), (2,)], "k int"), td, mode="overwrite")
    snapshots.vacuum(td, keep_last=1)
    assert all(c.stream_batch_id is None for c in snapshots.read_log(td))
    # the watermark survives truncation...
    assert snapshots.last_stream_batch_id(td, "appA") == 1
    # ...so a recovery replay of batch 1 is still skipped, and new
    # batches (and other apps) proceed
    assert commit_stream_batch(df, 1, td, "appA") is False
    assert commit_stream_batch(df, 2, td, "appA") is True
    assert commit_stream_batch(df, 0, td, "appB") is True


# --- physical schema recorded in the log -----------------------------------

def _merge_read(spark, table_dir, version):
    """The pre-recorded-schema read path: footer-merged schema (with the
    snapshot's deletion vectors applied, as every snapshot read does)."""
    from duckdb_read_spark import snapshots

    v, entries, _ = snapshots._resolve(table_dir, version, None)
    df = snapshots.read_files(spark, table_dir, entries, None)
    return snapshots.apply_schema_patches(df, table_dir, version=v)


def _assert_reads_equal(spark, table_dir):
    from duckdb_read_spark import snapshots

    for c in snapshots.read_log(table_dir):
        known = read_table(spark, table_dir, version=c.version)
        merged = _merge_read(spark, table_dir, c.version)
        assert known.schema == merged.schema, c.version   # order + types
        assert sorted(map(tuple, known.collect())) == \
            sorted(map(tuple, merged.collect())), c.version


def test_recorded_schema_reads_match_merge_schema(spark, tmp_path):
    import json
    import shutil

    from duckdb_read_spark import snapshots
    from duckdb_read_spark.engine import Engine

    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    eng.sql("CREATE TABLE ps AS SELECT id AS k, CAST(id * 1.5 AS DECIMAL(10,2))"
            " AS d, CAST(id AS STRING) AS s, ARRAY(id, NULL) AS a "
            "FROM range(0, 400) DISTRIBUTE BY k % 4", dialect="spark")
    eng.sql("INSERT INTO ps SELECT id, 1.25, 'x', ARRAY(id) "
            "FROM range(400, 450)", dialect="spark")
    eng.sql("UPDATE ps SET s = 'u' WHERE k BETWEEN 10 AND 20")
    eng.sql("DELETE FROM ps WHERE k = 420")
    eng.sql("MERGE INTO ps USING (SELECT 5 AS k2) src ON ps.k = src.k2 "
            "WHEN MATCHED THEN UPDATE SET s = 'm'")
    eng.sql("OPTIMIZE ps")
    td = eng._versioned["ps"]
    log = snapshots.read_log(td)
    assert all(c.schema is not None for c in log)        # all known so far
    known_v = log[-1].version
    eng.sql("ALTER TABLE ps ADD COLUMN extra INTEGER")
    eng.sql("INSERT INTO ps VALUES (1000, 1.0, 'y', ARRAY(1), 7)")
    eng.sql("ALTER TABLE ps RENAME COLUMN s TO s2")
    eng.sql("UPDATE ps SET s2 = 'r' WHERE k = 1000")
    assert snapshots.read_log(td)[-1].schema is None     # files disagree
    eng.sql(f"RESTORE TABLE ps TO VERSION AS OF {known_v}")
    restored = snapshots.read_log(td)[-1]
    assert restored.schema == snapshots.read_log(td)[known_v - 1].schema
    eng.sql(f"CREATE TABLE psc CLONE ps VERSION AS OF {known_v}")
    cd = eng._versioned["psc"]
    assert snapshots.read_log(cd)[0].schema == restored.schema
    _assert_reads_equal(spark, td)
    _assert_reads_equal(spark, cd)

    # an append that adds a column records no schema (mergeSchema reads)
    ev = str(tmp_path / "evolve")
    write_table(spark.range(3), ev)
    write_table(spark.range(3, 5).selectExpr("id", "id * 2 AS y"), ev,
                mode="append")
    assert snapshots.read_log(ev)[-1].schema is None
    assert read_table(spark, ev).columns == ["id", "y"]
    _assert_reads_equal(spark, ev)

    # a log written without the schema key reads exactly as before
    old = str(tmp_path / "old_log")
    shutil.copytree(td, old)
    log_dir = os.path.join(old, "_log")
    for f in os.listdir(log_dir):
        if f[:8].isdigit():
            p = os.path.join(log_dir, f)
            with open(p) as fh:
                entry = json.load(fh)
            entry.pop("schema", None)
            with open(p, "w") as fh:
                json.dump(entry, fh)
    assert all(c.schema is None for c in snapshots.read_log(old))
    for c in snapshots.read_log(td):
        a = read_table(spark, td, version=c.version)
        b = read_table(spark, old, version=c.version)
        assert a.schema == b.schema
        assert sorted(map(tuple, a.collect())) == \
            sorted(map(tuple, b.collect()))
