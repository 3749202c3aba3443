"""File-level DML (VERDICT r3 item 2): DELETE/UPDATE/MERGE rewrite only
the data files that contain affected rows; the rest of the snapshot is
carried into the new commit BY REFERENCE, with per-file min/max footer
stats recorded in the log (the Iceberg-manifest idea over snapshots.py,
/root/reference/metadata:1-17).

Discovery is two-tier: a pure-metadata stats cut (prune_by_stats — no
Spark job), then, when the candidates exceed a byte gate, one exact
column-pruned ``input_file_name()`` probe — so a one-row UPDATE on a
100 TB table costs one file rewrite plus a pushdown scan of the
predicate column, not an O(table) rewrite.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_read_spark import snapshots
from duckdb_read_spark.engine import Engine


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    e.register_fixture_dir("/root/testdata/sf0.001")
    return e


@pytest.fixture()
def t20(eng, spark, tmp_path):
    """A 20-file versioned table, range-partitioned on k (so per-file
    min/max stats are disjoint ranges)."""
    df = (spark.range(0, 2000).withColumnRenamed("id", "k")
          .withColumn("v", (F.col("k") * 2).cast("long"))
          .repartitionByRange(20, "k"))
    d = str(tmp_path / "t20")
    eng.write_versioned(df, d)
    eng.register_versioned("t20", d)
    return d


def _paths(d, version=None):
    return {e["path"] for e in snapshots.snapshot_file_entries(d, version)}


def test_manifest_stats_recorded_and_prune(t20):
    entries = snapshots.snapshot_file_entries(t20)
    assert len(entries) == 20
    for e in entries:
        assert e["rows"] == 100
        assert "k" in e["stats"] and e["stats"]["k"][0] <= e["stats"]["k"][1]
    # metadata-only cut: an equality predicate hits exactly one file
    assert len(snapshots.prune_by_stats(entries, "k = 150")) == 1
    assert len(snapshots.prune_by_stats(entries, "k >= 1900")) == 1
    assert len(snapshots.prune_by_stats(entries, "k BETWEEN 95 AND 105")) == 2
    assert len(snapshots.prune_by_stats(entries, "k = -5")) == 0
    # unparseable predicate → conservative (all files)
    assert len(snapshots.prune_by_stats(entries, "k % 7 = 0")) == 20


def test_update_rewrites_exactly_one_file(eng, t20):
    before = _paths(t20)
    eng.sql("UPDATE t20 SET v = -1 WHERE k = 150")
    after = _paths(t20)
    assert len(before & after) == 19      # 19 carried by reference
    assert len(after - before) >= 1       # one rewritten file (new dir)
    assert eng.sql("SELECT v FROM t20 WHERE k = 150").first()["v"] == -1
    assert eng.sql("SELECT COUNT(*) AS n FROM t20").first()["n"] == 2000
    assert eng.sql("SELECT SUM(v) AS s FROM t20").first()["s"] == \
        sum(2 * k for k in range(2000)) - 300 - 1
    # time travel still replays the pre-update snapshot
    assert eng.sql(
        "SELECT v FROM t20 VERSION AS OF 1 WHERE k = 150").first()["v"] == 300


def test_delete_rewrites_only_hit_files(eng, t20):
    before = _paths(t20)
    eng.sql("DELETE FROM t20 WHERE k BETWEEN 95 AND 105")  # spans 2 files
    after = _paths(t20)
    assert len(before & after) == 18
    assert eng.sql("SELECT COUNT(*) AS n FROM t20").first()["n"] == 2000 - 11
    assert eng.sql(
        "SELECT COUNT(*) AS n FROM t20 WHERE k BETWEEN 95 AND 105"
    ).first()["n"] == 0
    assert eng.sql(
        "SELECT COUNT(*) AS n FROM t20 VERSION AS OF 1").first()["n"] == 2000


def test_delete_no_match_carries_everything(eng, t20):
    before = _paths(t20)
    eng.sql("DELETE FROM t20 WHERE k = 999999")
    after = _paths(t20)
    assert before <= after                # all 20 carried, nothing lost
    assert eng.sql("SELECT COUNT(*) AS n FROM t20").first()["n"] == 2000


def test_merge_rewrites_only_matched_files(eng, t20):
    before = _paths(t20)
    eng.sql("""
MERGE INTO t20 t USING
  (SELECT * FROM VALUES (150, CAST(-7 AS LONG)), (2500, CAST(1 AS LONG)) AS x(k, v)) s
ON t.k = s.k
WHEN MATCHED THEN UPDATE SET v = s.v
WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
""")
    after = _paths(t20)
    assert len(before & after) == 19      # only k=150's file rewritten
    assert eng.sql("SELECT v FROM t20 WHERE k = 150").first()["v"] == -7
    assert eng.sql("SELECT v FROM t20 WHERE k = 2500").first()["v"] == 1
    assert eng.sql("SELECT COUNT(*) AS n FROM t20").first()["n"] == 2001


def test_qualified_predicate_resolves(eng, t20):
    eng.sql("UPDATE t20 SET v = 0 WHERE t20.k = 7")
    assert eng.sql("SELECT v FROM t20 WHERE k = 7").first()["v"] == 0
    eng.sql("DELETE FROM t20 WHERE t20.k = 7")
    assert eng.sql("SELECT COUNT(*) AS n FROM t20").first()["n"] == 1999


def test_vacuum_keeps_dirs_referenced_by_carried_files(eng, t20):
    eng.sql("UPDATE t20 SET v = -1 WHERE k = 150")
    stats = eng.vacuum_table("t20", keep_last=1)
    # v1's dir holds the 19 carried files — it must survive the vacuum
    assert stats["removed_dirs"] == 0
    assert eng.sql("SELECT COUNT(*) AS n FROM t20").first()["n"] == 2000
    assert eng.sql("SELECT SUM(v) AS s FROM t20").first()["s"] == \
        sum(2 * k for k in range(2000)) - 300 - 1
    # a second update makes the first rewrite dir unreachable → vacuumable
    eng.sql("UPDATE t20 SET v = -2 WHERE k = 150")
    stats = eng.vacuum_table("t20", keep_last=1)
    assert stats["removed_dirs"] == 1
    assert eng.sql("SELECT v FROM t20 WHERE k = 150").first()["v"] == -2


def test_schema_evolution_carried_files_align(eng, spark, tmp_path):
    """Carried files that pre-date an appended column read as NULL for
    it, exactly like a mergeSchema snapshot read."""
    d = str(tmp_path / "tev")
    base = (spark.range(0, 200).withColumnRenamed("id", "k")
            .withColumn("v", F.col("k") * 10)
            .repartitionByRange(4, "k"))
    eng.write_versioned(base, d)
    eng.register_versioned("tev", d)
    extra = spark.createDataFrame([(1000, 1, "x")], "k long, v long, tag string")
    eng.write_versioned(extra, d, mode="append")
    eng.register_versioned("tev", d)
    eng.sql("UPDATE tev SET v = 0 WHERE k = 1000")
    row = eng.sql("SELECT v, tag FROM tev WHERE k = 1000").first()
    assert (row["v"], row["tag"]) == (0, "x")
    assert eng.sql("SELECT COUNT(*) AS n FROM tev WHERE tag IS NULL"
                   ).first()["n"] == 200


def test_optimize_compacts_small_files(eng, t20):
    """OPTIMIZE bin-packs the 20 small files into one snapshot with far
    fewer files; data, time travel, and later DML are unaffected."""
    before = _paths(t20)
    assert len(before) == 20
    row = eng.sql("OPTIMIZE t20").first()
    assert row["rewritten_files"] == 20 and row["carried_files"] == 0
    after = _paths(t20)
    assert len(after) < 20 and row["new_files"] == len(after)
    assert eng.sql("SELECT COUNT(*) AS n FROM t20").first()["n"] == 2000
    assert eng.sql("SELECT SUM(v) AS s FROM t20").first()["s"] == \
        sum(2 * k for k in range(2000))
    # pre-compaction snapshot still replays
    assert len(_paths(t20, version=1)) == 20
    assert eng.sql("SELECT COUNT(*) AS n FROM t20 VERSION AS OF 1"
                   ).first()["n"] == 2000
    # a mixed table: one big file (carried) + small files (rewritten)
    eng.sql("INSERT INTO t20 VALUES (9999, 1)")
    row2 = eng.sql("OPTIMIZE t20").first()
    assert row2["rewritten_files"] >= 2  # the compacted file is still small
    assert eng.sql("SELECT COUNT(*) AS n FROM t20").first()["n"] == 2001


def test_optimize_noop_on_single_file(eng, spark, tmp_path):
    d = str(tmp_path / "t1f")
    eng.write_versioned(spark.range(5).coalesce(1), d)
    eng.register_versioned("t1f", d)
    v_before = eng.table_history("t1f")[0]["version"]
    row = eng.sql("OPTIMIZE t1f").first()
    assert row["rewritten_files"] == 0
    assert eng.table_history("t1f")[0]["version"] == v_before  # no commit


def test_log_roundtrips_file_entries(eng, t20):
    eng.sql("UPDATE t20 SET v = -1 WHERE k = 150")
    commits = snapshots.read_log(t20)
    assert commits[-1].files is not None
    assert len(commits[-1].files) >= 20
    # a fresh read of the log (new Engine path) resolves identically
    _, paths = snapshots.resolve_snapshot(t20)
    assert len(paths) == len(commits[-1].files)


def test_timestamp_stats_prune_space_separator(eng, spark, tmp_path):
    """ADVICE r4: datetime manifest stats must serialize with a ' '
    separator so lexicographic compare against SQL timestamp literals
    ('2024-01-01 05:00:00') is correct — isoformat()'s 'T' sorts AFTER
    ' ' and made same-day range predicates prune files that matched."""
    import datetime

    prev = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        d = str(tmp_path / "tts")
        df = spark.createDataFrame(
            [(datetime.datetime(2024, 1, 1, 0, 30), 1),
             (datetime.datetime(2024, 1, 1, 12, 0), 2),
             (datetime.datetime(2024, 1, 2, 9, 0), 3)],
            "ts timestamp, v long",
        ).repartitionByRange(3, "ts")
        eng.write_versioned(df, d)
        eng.register_versioned("tts", d)
        entries = snapshots.snapshot_file_entries(d)
        ts_stats = [e["stats"].get("ts") for e in entries]
        assert all(s is not None for s in ts_stats), \
            "TIMESTAMP_MICROS footers should yield ts stats"
        assert all("T" not in s[0] and "T" not in s[1] for s in ts_stats)
        # the regression shape: same-day <= comparison must keep the file
        kept = snapshots.prune_by_stats(entries, "ts <= '2024-01-01 05:00:00'")
        assert any(e["stats"]["ts"][0].startswith("2024-01-01 00:30") for e in kept)
        eng.sql("DELETE FROM tts WHERE ts <= '2024-01-01 05:00:00'")
        assert eng.sql("SELECT COUNT(*) AS n FROM tts").first()["n"] == 2
        assert eng.sql("SELECT MIN(v) AS v FROM tts").first()["v"] == 2
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.parquet.outputTimestampType")
        else:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prev)


def test_legacy_t_separated_stats_still_compare():
    """Manifests written before the sep=' ' fix (or by an external
    writer) normalize at compare time."""
    entries = [{"path": "a", "rows": 1,
                "stats": {"ts": ["2024-01-01T00:30:00", "2024-01-01T01:00:00"]}}]
    kept = snapshots.prune_by_stats(entries, "ts <= '2024-01-01 05:00:00'")
    assert len(kept) == 1
    gone = snapshots.prune_by_stats(entries, "ts > '2024-01-01 05:00:00'")
    assert gone == []


def test_probe_aligns_schema_evolved_predicate(eng, spark, tmp_path):
    """ADVICE r4: a predicate referencing an appended column must not
    crash the file-level probe when the stats cut leaves only
    pre-evolution files (which lack that column)."""
    d = str(tmp_path / "tev2")
    base = (spark.range(0, 200).withColumnRenamed("id", "k")
            .withColumn("v", F.col("k") * 10)
            .repartitionByRange(4, "k"))
    eng.write_versioned(base, d)
    eng.register_versioned("tev2", d)
    extra = spark.createDataFrame([(1000, 1, "x")], "k long, v long, tag string")
    eng.write_versioned(extra, d, mode="append")
    eng.register_versioned("tev2", d)
    # stats cut on k < 100 keeps only pre-evolution files; they lack
    # `tag`, which the predicate also references
    eng.sql("DELETE FROM tev2 WHERE tag = 'x' AND k < 100")
    assert eng.sql("SELECT COUNT(*) AS n FROM tev2").first()["n"] == 201
    eng.sql("UPDATE tev2 SET v = -5 WHERE tag = 'x' AND k < 2000")
    assert eng.sql("SELECT v FROM tev2 WHERE k = 1000").first()["v"] == -5


# --- CREATE INDEX = storage clustering (zonemap effect) -------------------

def test_create_index_clusters_for_stats_prune(eng, spark, tmp_path):
    """CREATE INDEX rewrites the table range-clustered on the index
    columns, turning a scattered layout (every file spans the full key
    range → stats prune nothing) into disjoint per-file ranges (a one-key
    predicate survives the metadata cut to ~1 file)."""
    shuf = (spark.range(0, 2000)
            .withColumn("k", (F.col("id") * 997) % 2000)  # scatter keys
            .withColumn("v", F.col("id") * 2)
            .drop("id")
            .repartition(16))
    d = str(tmp_path / "tidx")
    eng.write_versioned(shuf, d)
    eng.register_versioned("tidx", d)
    before = snapshots.prune_by_stats(
        snapshots.snapshot_file_entries(d), "k = 150")
    assert len(before) > 4  # scattered: stats can't cut much

    eng.sql("CREATE INDEX idx_k ON tidx (k)")
    entries = snapshots.snapshot_file_entries(d)
    after = snapshots.prune_by_stats(entries, "k = 150")
    assert len(after) <= 2  # clustered: zonemap-selective
    # content unchanged by the rewrite
    assert eng.sql("SELECT count(*) AS n, sum(v) AS s FROM tidx").collect() \
        == eng.sql("SELECT count(*) AS n, sum(v) AS s FROM tidx "
                   "VERSION AS OF 1").collect()

    with pytest.raises(ValueError):
        eng.sql("CREATE INDEX idx_k ON tidx (k)")  # duplicate name
    eng.sql("DROP INDEX idx_k")
    with pytest.raises(ValueError):
        eng.sql("DROP INDEX idx_k")
    eng.sql("DROP INDEX IF EXISTS idx_k")


def test_unique_index_validates_create_and_insert(eng, spark, tmp_path):
    df = spark.range(0, 100).withColumnRenamed("id", "k") \
        .withColumn("v", F.col("k") + 1)
    d = str(tmp_path / "tuq")
    eng.write_versioned(df, d)
    eng.register_versioned("tuq", d)
    eng.sql("CREATE UNIQUE INDEX uq_k ON tuq (k)")
    # batch-internal duplicate
    with pytest.raises(ValueError):
        eng.sql("INSERT INTO tuq VALUES (500, 1), (500, 2)")
    # collision with existing keys
    with pytest.raises(ValueError):
        eng.sql("INSERT INTO tuq VALUES (50, 1)")
    eng.sql("INSERT INTO tuq VALUES (500, 1)")
    assert eng.sql("SELECT count(*) AS n FROM tuq").collect()[0].n == 101
    # creating a unique index over existing duplicates is rejected
    eng.sql("INSERT INTO tuq (v) VALUES (9), (9)")  # k NULL twice is fine
    with pytest.raises(ValueError):
        eng.sql("CREATE UNIQUE INDEX uq_v ON tuq (v)")


def test_unique_insert_probe_is_stats_pruned(eng, spark, tmp_path):
    """VERDICT r5 "what's wrong" #1: the UNIQUE/PK INSERT collision probe
    scanned the WHOLE table. With a clustered layout (disjoint per-file
    key ranges) the probe must read only the candidate files the batch's
    key range intersects — O(batch locality), not O(table)."""
    df = (spark.range(0, 2000).withColumnRenamed("id", "k")
          .withColumn("v", (F.col("k") * 2).cast("long"))
          .repartitionByRange(20, "k"))
    d = str(tmp_path / "uq20")
    eng.write_versioned(df, d)
    eng.register_versioned("uq20", d)
    snapshots.write_constraints(d, [{"kind": "unique", "cols": ["k"],
                                     "pk": False}])
    total = len(snapshots.snapshot_file_entries(d))
    assert total == 20

    one = spark.createDataFrame([(50, 1)], "k long, v long")
    probe = eng._existing_keys_df("uq20", ["k"], one)
    assert len(probe.inputFiles()) <= 2           # one key → ≤2 boundary files
    # out-of-range batch: zero candidate files, empty probe
    far = spark.createDataFrame([(99999, 1)], "k long, v long")
    assert eng._existing_keys_df("uq20", ["k"], far).inputFiles() == []

    # end-to-end: colliding INSERT raises, fresh-key INSERT lands
    with pytest.raises(ValueError, match="key already present"):
        eng.sql("INSERT INTO uq20 VALUES (50, 1)")
    eng.sql("INSERT INTO uq20 VALUES (99999, 1)")
    assert eng.sql("SELECT count(*) AS n FROM uq20").first()["n"] == 2001


def test_unique_probe_after_rename_sees_pre_rename_files(eng, spark):
    """Review r6: the stats-pruned probe read hit files RAW, so a file
    written before ALTER ... RENAME surfaced the key column as NULL and
    a duplicate key slipped past the UNIQUE/PK check."""
    eng.sql("CREATE TABLE uqr (k_old BIGINT PRIMARY KEY, v BIGINT)")
    eng.sql("INSERT INTO uqr VALUES (1, 10), (2, 20)")
    eng.sql("ALTER TABLE uqr RENAME COLUMN k_old TO k")
    # post-rename generations physically carry 'k'; spread the key space
    # so a narrow batch stats-prunes down to the pre-rename file
    eng.sql("INSERT INTO uqr VALUES (1000, 1), (2000, 2)")
    eng.sql("INSERT INTO uqr VALUES (3000, 3), (4000, 4)")
    with pytest.raises(ValueError):
        eng.sql("INSERT INTO uqr VALUES (1, 99)")  # dup in pre-rename file
    with pytest.raises(ValueError):
        eng.sql("INSERT INTO uqr VALUES (1000, 99)")  # dup post-rename
    eng.sql("INSERT INTO uqr VALUES (5, 50)")
    assert eng.sql("SELECT count(*) AS n FROM uqr").first()["n"] == 7


def test_partial_update_after_rename_preserves_data(eng, spark, tmp_path):
    """Review r6 (worse variant): a partial UPDATE whose hit set includes
    a pre-rename file must coalesce the renamed column from the old
    name — not rewrite it as NULL (silent data loss)."""
    df = (spark.range(0, 1000).withColumnRenamed("id", "k_old")
          .withColumn("v", (F.col("k_old") * 2).cast("long"))
          .repartitionByRange(10, "k_old"))
    d = str(tmp_path / "ren10")
    eng.write_versioned(df, d)
    eng.register_versioned("ren10", d)
    eng.sql("ALTER TABLE ren10 RENAME COLUMN k_old TO k")
    eng.sql("INSERT INTO ren10 VALUES (5000, 1)")  # post-rename generation
    # UPDATE hits only the pre-rename file(s) holding k=42
    eng.sql("UPDATE ren10 SET v = -1 WHERE k = 42")
    rows = {r.k: r.v for r in eng.sql(
        "SELECT k, v FROM ren10 WHERE k IN (41, 42, 43, 5000)").collect()}
    assert rows == {41: 82, 42: -1, 43: 86, 5000: 1}
    # no NULLed-out keys anywhere
    assert eng.sql("SELECT count(*) AS n FROM ren10 WHERE k IS NULL") \
        .first()["n"] == 0


# --- probe byte gate -------------------------------------------------------

def _probe_jobs(spark, eng, stmt):
    """Run ``stmt`` in its own Spark job group and return how many of its
    jobs are the exact file probe (the only ``collect`` an UPDATE/DELETE
    runs). Counts jobs of the calling thread; the CDC sidecar's write
    runs on its own thread and is not in the group."""
    import uuid

    sc = spark.sparkContext
    group = f"dml-{uuid.uuid4().hex}"
    sc.setJobGroup(group, stmt)
    try:
        eng.sql(stmt)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    st = sc.statusTracker()
    n = 0
    for j in st.getJobIdsForGroup(group):
        info = st.getJobInfo(j)
        stages = [st.getStageInfo(s) for s in (info.stageIds if info else [])]
        if any(s is not None and s.name.startswith("collect at")
               for s in stages):
            n += 1
    return n


# k BETWEEN 95 AND 105 keeps two candidate files (k 0-99, k 100-199);
# the residual conjunct is opaque to the stats cut and only k 95-99 match
_TWO_CAND = "k BETWEEN 95 AND 105 AND k % 100 > 90"


@pytest.mark.parametrize("stmt", [
    f"DELETE FROM t20 WHERE {_TWO_CAND}",
    f"UPDATE t20 SET v = -1 WHERE {_TWO_CAND}",
])
def test_gate_takes_candidates_without_probe(eng, spark, t20, stmt):
    entries = snapshots.snapshot_file_entries(t20)
    cand = {e["path"] for e in snapshots.prune_by_stats(entries, _TWO_CAND)}
    assert len(cand) == 2
    before = _paths(t20)
    assert _probe_jobs(spark, eng, stmt) == 0
    # every candidate rewritten, exactly the non-candidates carried
    assert before & _paths(t20) == before - cand
    got = {r.k: r.v for r in eng.sql(
        "SELECT k, v FROM t20 WHERE k BETWEEN 90 AND 110").collect()}
    if stmt.startswith("DELETE"):
        want = {k: 2 * k for k in range(90, 111) if not 95 <= k <= 99}
    else:
        want = {k: -1 if 95 <= k <= 99 else 2 * k for k in range(90, 111)}
    assert got == want
    assert eng.sql("SELECT count(*) AS n FROM t20").first()["n"] == (
        1995 if stmt.startswith("DELETE") else 2000)


def test_gate_zero_probes_and_carries_hit_free_candidate(
        eng, spark, t20, monkeypatch):
    from duckdb_read_spark import engine as engine_mod

    monkeypatch.setattr(engine_mod, "_DML_PROBE_SKIP_MAX_BYTES", 0)
    before = _paths(t20)
    assert _probe_jobs(spark, eng, f"DELETE FROM t20 WHERE {_TWO_CAND}") >= 1
    # the k 100-199 candidate has no pred-TRUE row: the probe keeps it
    assert len(before & _paths(t20)) == 19
    assert eng.sql("SELECT count(*) AS n FROM t20").first()["n"] == 1995


def test_gate_all_candidates_is_full_rewrite(eng, spark, t20):
    before = _paths(t20)
    # opaque to the stats cut: every file is a candidate, all under the gate
    assert _probe_jobs(spark, eng, "UPDATE t20 SET v = 0 WHERE k % 7 = 0") == 0
    last = snapshots.read_log(t20)[-1]
    assert last.files is None              # a plain full overwrite
    assert not before & _paths(t20)
    assert eng.sql("SELECT count(*) AS n FROM t20 WHERE v = 0") \
        .first()["n"] == len(range(0, 2000, 7))
