"""Change data feed (table_changes) over versioned tables.

The capture design mirrors Delta CDF (public spec): DML writes a
``_change_data/`` sidecar with pre/postimages at commit time; appends and
full overwrites derive their feed from the commit structure; OPTIMIZE and
clustering are ``data_change=false`` and emit nothing.
"""

from __future__ import annotations

import json
import os
import tempfile

import pytest

from duckdb_read_spark import snapshots
from duckdb_read_spark.engine import Engine


@pytest.fixture()
def eng(spark):
    e = Engine(spark=spark, warehouse_dir=tempfile.mkdtemp(prefix="cdf_"))
    yield e


def _feed(eng, name, a, b=None):
    rows = eng.table_changes(name, a, b).collect()
    return sorted((r._commit_version, r._change_type, r.k,
                   getattr(r, "v", None)) for r in rows)


def test_cdf_insert_update_delete_merge(eng):
    eng.execute("""
CREATE TABLE t (k INT, v STRING);
INSERT INTO t VALUES (1,'a'),(2,'b'),(3,'c');
UPDATE t SET v = 'B' WHERE k = 2;
DELETE FROM t WHERE k = 3;
MERGE INTO t USING (SELECT 1 AS k, 'z' AS v UNION ALL SELECT 9, 'i') s
  ON t.k = s.k
  WHEN MATCHED THEN UPDATE SET v = s.v
  WHEN NOT MATCHED THEN INSERT *;
""")
    assert _feed(eng, "t", 2, 2) == [
        (2, "insert", 1, "a"), (2, "insert", 2, "b"), (2, "insert", 3, "c")]
    assert _feed(eng, "t", 3, 3) == [
        (3, "update_postimage", 2, "B"), (3, "update_preimage", 2, "b")]
    assert _feed(eng, "t", 4, 4) == [(4, "delete", 3, "c")]
    assert _feed(eng, "t", 5, 5) == [
        (5, "insert", 9, "i"),
        (5, "update_postimage", 1, "z"), (5, "update_preimage", 1, "a")]
    # replaying the feed reproduces the table: inserts+postimages minus
    # deletes+preimages
    live = {(r.k, r.v) for r in eng.table("t").collect()}
    gains = {(k, v) for _, ct, k, v in _feed(eng, "t", 1)
             if ct in ("insert", "update_postimage")}
    losses = {(k, v) for _, ct, k, v in _feed(eng, "t", 1)
              if ct in ("delete", "update_preimage")}
    assert gains - losses == live


def test_cdf_sql_tvf(eng):
    eng.execute("""
CREATE TABLE t (k INT, v STRING);
INSERT INTO t VALUES (1,'a'),(2,'b');
DELETE FROM t WHERE k = 1;
""")
    got = eng.sql(
        "SELECT _change_type AS ct, COUNT(*) AS n "
        "FROM table_changes('t', 2, 3) GROUP BY 1 ORDER BY 1").collect()
    assert [(r.ct, r.n) for r in got] == [("delete", 1), ("insert", 2)]
    # default end = latest
    got2 = eng.sql(
        "SELECT COUNT(*) AS n FROM table_changes('t', 3)").collect()
    assert got2[0].n == 1


def test_cdf_full_overwrite_and_truncate_derive(eng):
    eng.execute("""
CREATE TABLE t AS SELECT 1 AS k, 'a' AS v;
""")
    # full unconditional DELETE (TRUNCATE) has no sidecar — derived from
    # the overwrite diff: every previous row left
    eng.execute("TRUNCATE t;")
    feed = _feed(eng, "t", 2, 2)
    assert feed == [(2, "delete", 1, "a")]
    # CTAS first commit is all-inserts
    assert _feed(eng, "t", 1, 1) == [(1, "insert", 1, "a")]


def test_cdf_restore_file_diff(eng):
    eng.execute("""
CREATE TABLE t (k INT, v STRING);
INSERT INTO t VALUES (1,'a');
INSERT INTO t VALUES (2,'b');
""")
    eng.execute("RESTORE TABLE t TO VERSION AS OF 2;")  # drops (2,'b')
    v = snapshots.read_log(eng._versioned["t"])[-1].version
    feed = _feed(eng, "t", v, v)
    assert feed == [(v, "delete", 2, "b")]


def test_cdf_optimize_emits_nothing(eng, spark):
    eng.execute("""
CREATE TABLE t (k INT, v STRING);
INSERT INTO t VALUES (1,'a');
INSERT INTO t VALUES (2,'b');
""")
    snapshots.compact(spark, eng._versioned["t"], target_file_bytes=1 << 30,
                      small_file_bytes=1 << 30)
    eng._refresh_table("t")
    v = snapshots.read_log(eng._versioned["t"])[-1].version
    assert not snapshots.read_log(eng._versioned["t"])[-1].data_change
    assert eng.table_changes("t", v, v).count() == 0
    # the table itself is intact
    assert eng.table("t").count() == 2


def test_cdf_vacuum_reaps_sidecars_and_range_errors(eng):
    eng.execute("""
CREATE TABLE t (k INT, v STRING);
INSERT INTO t VALUES (1,'a'),(2,'b');
UPDATE t SET v = 'B' WHERE k = 2;
DELETE FROM t WHERE k = 1;
""")
    d = eng._versioned["t"]
    # v3 (the UPDATE, the only commit with a sidecar — a DELETE writes
    # none) is truncated by the vacuum: v4, the newest overwrite, becomes
    # the replay base of the only kept snapshot
    cdc_rel = next(c.cdc for c in snapshots.read_log(d) if c.cdc)
    assert os.path.isdir(os.path.join(d, cdc_rel))
    snapshots.vacuum(d, keep_last=1)
    assert not os.path.exists(os.path.join(d, cdc_rel))
    with pytest.raises(LookupError, match="not in log"):
        eng.table_changes("t", 2, 3).collect()


def test_cdf_pre_capture_commit_refuses(eng):
    eng.execute("""
CREATE TABLE t (k INT, v STRING);
INSERT INTO t VALUES (1,'a'),(2,'b');
UPDATE t SET v = 'A' WHERE k = 1;
""")
    d = eng._versioned["t"]
    # simulate a legacy (pre-CDC) file-level commit: strip the sidecar ref
    c = [c for c in snapshots.read_log(d) if c.cdc][0]
    p = os.path.join(d, "_log", f"{c.version:08d}.json")
    with open(p) as f:
        doc = json.load(f)
    doc["cdc"] = None
    with open(p, "w") as f:
        json.dump(doc, f)
    with pytest.raises(ValueError, match="no change-data sidecar"):
        eng.table_changes("t", c.version, c.version).collect()


def test_cdf_merge_delete_and_by_source(eng):
    eng.execute("""
CREATE TABLE t (k INT, v STRING);
INSERT INTO t VALUES (1,'a'),(2,'b'),(3,'c');
MERGE INTO t USING (SELECT 2 AS k) s ON t.k = s.k
  WHEN MATCHED THEN DELETE
  WHEN NOT MATCHED BY SOURCE AND t.k = 3 THEN UPDATE SET v = 'C';
""")
    v = snapshots.read_log(eng._versioned["t"])[-1].version
    assert _feed(eng, "t", v, v) == [
        (v, "delete", 2, "b"),
        (v, "update_postimage", 3, "C"), (v, "update_preimage", 3, "c")]


def test_cdf_mirrored_into_delta_log(eng, spark):
    """The CDC sidecars are Delta's CDF layout (data cols +
    _change_type under _change_data/) — the public _delta_log carries
    them as spec `cdc` actions, flips delta.enableChangeDataFeed, and
    lifts the writer protocol to the CDF legacy version without
    downgrading; a log-only consumer reconstructs the exact feed."""
    eng.execute("""
CREATE TABLE t (k INT, v STRING);
INSERT INTO t VALUES (1,'a'),(2,'b');
UPDATE t SET v = 'B' WHERE k = 2;
""")
    d = eng._versioned["t"]
    from duckdb_read_spark import deltalog

    # private v3 (UPDATE) == delta file v2
    acts = deltalog._read_actions(d, 2)
    cdc = [a["cdc"] for a in acts if "cdc" in a]
    assert cdc and all(a["path"].startswith("_change_data/")
                       and a["dataChange"] is False for a in cdc)
    meta = [a["metaData"] for a in acts if "metaData" in a]
    assert meta and meta[0]["configuration"][
        "delta.enableChangeDataFeed"] == "true"
    proto = [a["protocol"] for a in acts if "protocol" in a]
    assert proto and proto[0]["minWriterVersion"] >= 4
    # a log-only CDF consumer: read the cdc parquet straight from the
    # action paths and compare with table_changes
    feed = spark.read.parquet(
        *[os.path.join(d, a["path"]) for a in cdc])
    got = sorted((r.k, r.v, r._change_type) for r in feed.collect())
    want = sorted(
        (r.k, r.v, r._change_type)
        for r in eng.table_changes("t", 3, 3).collect())
    assert got == want == [
        (2, "B", "update_postimage"), (2, "b", "update_preimage")]


def test_optimize_mirror_carries_no_datachange(eng, spark):
    """Review r6: once CDF is enabled in the public log, an OPTIMIZE's
    mirrored add/remove actions must carry dataChange=false — otherwise
    external CDF readers derive phantom delete+inserts for every
    compacted row while table_changes emits nothing."""
    eng.execute("""
CREATE TABLE t (k INT, v STRING);
INSERT INTO t VALUES (1,'a');
INSERT INTO t VALUES (2,'b');
UPDATE t SET v = 'A' WHERE k = 1;
""")
    d = eng._versioned["t"]
    snapshots.compact(spark, d, target_file_bytes=1 << 30,
                      small_file_bytes=1 << 30)
    from duckdb_read_spark import deltalog

    v0 = deltalog._list_versions(d)[-1]
    acts = deltalog._read_actions(d, v0)
    adds = [a["add"] for a in acts if "add" in a]
    rms = [a["remove"] for a in acts if "remove" in a]
    assert adds and all(a["dataChange"] is False for a in adds)
    assert all(r["dataChange"] is False for r in rms)
    assert not [a for a in acts if "cdc" in a]


def test_consume_changes_cursor(eng, tmp_path):
    """Incremental consumer: first call initializes the cursor at 'now'
    (empty feed), each later call returns exactly the versions since —
    feed materialized before the cursor advances (at-least-once)."""
    eng.execute("""
CREATE TABLE t (k INT, v STRING);
INSERT INTO t VALUES (1,'a'),(2,'b');
""")
    cur = str(tmp_path / "cursor.json")
    assert eng.consume_changes("t", cur).count() == 0      # start at now
    eng.execute("UPDATE t SET v = 'B' WHERE k = 2;")
    eng.execute("DELETE FROM t WHERE k = 1;")
    feed = eng.consume_changes("t", cur)
    got = sorted((r._commit_version, r._change_type, r.k)
                 for r in feed.collect())
    assert got == [(3, "update_postimage", 2), (3, "update_preimage", 2),
                   (4, "delete", 1)]
    # drained: next call is empty until new commits land
    assert eng.consume_changes("t", cur).count() == 0
    eng.execute("INSERT INTO t VALUES (9,'z');")
    assert [(r._change_type, r.k) for r in
            eng.consume_changes("t", cur).collect()] == [("insert", 9)]


def test_consume_changes_explicit_ack(eng, tmp_path):
    """auto_ack=False: an unacked delivery re-reads on the next call
    (true at-least-once); ack_changes advances the cursor."""
    eng.execute("""
CREATE TABLE t (k INT, v STRING);
INSERT INTO t VALUES (1,'a');
""")
    cur = str(tmp_path / "c.json")
    eng.consume_changes("t", cur)                 # init at now
    eng.execute("DELETE FROM t WHERE k = 1;")
    first = [(r._change_type, r.k) for r in
             eng.consume_changes("t", cur, auto_ack=False).collect()]
    assert first == [("delete", 1)]
    # crash before ack → the same versions come back
    again = [(r._change_type, r.k) for r in
             eng.consume_changes("t", cur, auto_ack=False).collect()]
    assert again == first
    eng.ack_changes("t", cur)
    assert eng.consume_changes("t", cur).count() == 0
