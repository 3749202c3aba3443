"""Merge-on-read DML: DELETE/UPDATE/MERGE never rewrite a data file.
The rows that leave are marked by a deletion vector (DV) on their file,
keyed by ``_metadata.row_index``; the rows that arrive (UPDATE
postimages, MERGE updates and inserts) become one new file; every other
file is carried into the new commit BY REFERENCE, with per-file min/max
footer stats recorded in the log (the Iceberg-manifest idea over
snapshots.py).

Discovery is a pure-metadata stats cut (prune_by_stats — no Spark job)
and then one column-pruned pushdown scan of the candidates that collects
the hit rows' positions — so a one-row UPDATE on a 100 TB table costs
that scan plus a one-row write, not an O(table) rewrite.
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


def _entries(d, version=None):
    return {e["path"]: e for e in snapshots.snapshot_file_entries(d, version)}


def _dv_cards(d, version=None):
    return sorted(e["dv"]["cardinality"]
                  for e in _entries(d, version).values() if e.get("dv"))


def test_update_rewrites_exactly_one_file(eng, t20):
    before = _paths(t20)
    eng.sql("UPDATE t20 SET v = -1 WHERE k = 150")
    after = _entries(t20)
    assert before < set(after)            # all 20 carried by reference
    assert _dv_cards(t20) == [1]          # the preimage row is masked
    new = [e for p, e in after.items() if p not in before]
    assert len(new) == 1 and new[0]["rows"] == 1   # one 1-row file
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
    assert _paths(t20) == before          # 20 carried, no new data file
    assert _dv_cards(t20) == [5, 6]       # k 95-99 and k 100-105
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
    after = _entries(t20)
    assert before < set(after)            # all 20 carried by reference
    assert _dv_cards(t20) == [1]          # only k=150's row is masked
    new = [e for p, e in after.items() if p not in before]
    assert [e["rows"] for e in new] == [2]  # its postimage + the insert
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


# --- one probe scan, deletion vectors only where rows leave ----------------

def _jobs(spark, eng, stmt):
    """Run ``stmt`` in its own Spark job group and return how many Spark
    jobs it ran on the calling thread. The CDC sidecar's write runs on
    its own thread and is not in the group."""
    import uuid

    sc = spark.sparkContext
    group = f"dml-{uuid.uuid4().hex}"
    sc.setJobGroup(group, stmt)
    try:
        eng.sql(stmt)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


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
    # DELETE: the positions collect only; UPDATE: it plus the write of
    # the postimages
    assert _jobs(spark, eng, stmt) == (1 if stmt.startswith("DELETE") else 2)
    after = _entries(t20)
    assert before <= set(after)           # every file carried
    # only the candidate holding k 95-99 gets a DV (5 rows); the
    # hit-free candidate and the non-candidates get none
    assert {p for p, e in after.items() if e.get("dv")} < cand
    assert _dv_cards(t20) == [5]
    got = {r.k: r.v for r in eng.sql(
        "SELECT k, v FROM t20 WHERE k BETWEEN 90 AND 110").collect()}
    if stmt.startswith("DELETE"):
        want = {k: 2 * k for k in range(90, 111) if not 95 <= k <= 99}
    else:
        want = {k: -1 if 95 <= k <= 99 else 2 * k for k in range(90, 111)}
    assert got == want
    assert eng.sql("SELECT count(*) AS n FROM t20").first()["n"] == (
        1995 if stmt.startswith("DELETE") else 2000)


def test_gate_zero_probes_and_carries_hit_free_candidate(eng, spark, t20):
    before = _paths(t20)
    assert _jobs(spark, eng, f"DELETE FROM t20 WHERE {_TWO_CAND}") == 1
    # the k 100-199 candidate has no pred-TRUE row: carried without a DV
    after = _entries(t20)
    assert set(after) == before
    hit_free = [p for p, e in after.items()
                if e["stats"]["k"] == [100, 199]]
    assert len(hit_free) == 1 and "dv" not in after[hit_free[0]]
    assert _dv_cards(t20) == [5]
    assert eng.sql("SELECT count(*) AS n FROM t20").first()["n"] == 1995


def test_gate_all_candidates_is_full_rewrite(eng, spark, t20):
    before = _paths(t20)
    # opaque to the stats cut: every file is a candidate and hit, yet no
    # file is rewritten — 20 DVs and one file of the 286 postimages
    assert _jobs(spark, eng, "UPDATE t20 SET v = 0 WHERE k % 7 = 0") == 2
    after = _entries(t20)
    assert before < set(after)
    assert sum(_dv_cards(t20)) == len(range(0, 2000, 7))
    assert len(_dv_cards(t20)) == 20
    assert [e["rows"] for p, e in after.items() if p not in before] == \
        [len(range(0, 2000, 7))]
    assert eng.sql("SELECT count(*) AS n FROM t20 WHERE v = 0") \
        .first()["n"] == len(range(0, 2000, 7))
    assert eng.sql("SELECT count(*) AS n FROM t20").first()["n"] == 2000


# --- deletion vectors across the table's life ------------------------------

def _kv(eng, sql):
    return {r.k: r.v for r in eng.sql(sql).collect()}


def test_dv_history_replays_every_version(eng, t20):
    """DELETE, UPDATE and MERGE stack deletion vectors (a second vector
    on a file is the union with the first); every version reads back
    exactly the rows it had."""
    model = {1: {k: 2 * k for k in range(2000)}}
    eng.sql("DELETE FROM t20 WHERE k BETWEEN 10 AND 14")
    model[2] = {k: v for k, v in model[1].items() if not 10 <= k <= 14}
    eng.sql("UPDATE t20 SET v = -v WHERE k BETWEEN 15 AND 16")
    model[3] = {k: -v if k in (15, 16) else v for k, v in model[2].items()}
    eng.sql("""
MERGE INTO t20 t USING
  (SELECT * FROM VALUES (17, CAST(0 AS LONG)), (4000, CAST(4 AS LONG)) AS x(k, v)) s
ON t.k = s.k
WHEN MATCHED THEN UPDATE SET v = s.v
WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
""")
    model[4] = {**model[3], 17: 0, 4000: 4}
    eng.sql("DELETE FROM t20 WHERE k = 18 OR k = 4000")
    model[5] = {k: v for k, v in model[4].items() if k not in (18, 4000)}
    # one vector on the k 0-99 file, the union of four statements' nine
    # rows, and one on the MERGE's file for k=4000
    assert _dv_cards(t20) == [1, 9]
    for v, want in model.items():
        assert _kv(eng, f"SELECT k, v FROM t20 VERSION AS OF {v}") == want
    assert _kv(eng, "SELECT k, v FROM t20") == model[5]


def test_dv_fully_masked_file_leaves_manifest(eng, spark, tmp_path):
    d = str(tmp_path / "t2f")
    eng.write_versioned(spark.range(0, 20).withColumnRenamed("id", "k")
                        .repartitionByRange(2, "k"), d)
    eng.register_versioned("t2f", d)
    eng.sql("DELETE FROM t2f WHERE k < 10")
    assert len(_entries(d)) == 1 and _dv_cards(d) == []
    # every row gone: the same empty overwrite an unconditional DELETE
    # commits, and the table keeps its schema
    eng.sql("DELETE FROM t2f WHERE k >= 10")
    assert eng.table("t2f").columns == ["k"]
    assert eng.sql("SELECT count(*) AS n FROM t2f").first()["n"] == 0
    assert eng.sql("SELECT count(*) AS n FROM t2f VERSION AS OF 2"
                   ).first()["n"] == 10


def test_dv_change_feed_delete_and_restore(eng, t20):
    """A DELETE writes no sidecar; its feed (and RESTORE's, across DV
    states) is the live-row diff of the manifests."""
    eng.sql("DELETE FROM t20 WHERE k BETWEEN 95 AND 105")
    assert snapshots.read_log(t20)[-1].cdc is None

    def feed(a, b):
        return sorted((r._commit_version, r._change_type, r.k, r.v)
                      for r in eng.table_changes("t20", a, b).collect())

    assert feed(2, 2) == [(2, "delete", k, 2 * k) for k in range(95, 106)]
    eng.sql("DELETE FROM t20 WHERE k = 150")
    eng.sql("RESTORE TABLE t20 TO VERSION AS OF 2")
    # v4 brings k=150 back, and only it
    assert feed(4, 4) == [(4, "insert", 150, 300)]
    eng.sql("RESTORE TABLE t20 TO VERSION AS OF 1")
    assert feed(5, 5) == [(5, "insert", k, 2 * k) for k in range(95, 106)]
    assert eng.sql("SELECT count(*) AS n FROM t20").first()["n"] == 2000


def test_unique_insert_after_delete_of_key(eng, spark, tmp_path):
    df = (spark.range(0, 2000).withColumnRenamed("id", "k")
          .withColumn("v", F.col("k")).repartitionByRange(20, "k"))
    d = str(tmp_path / "uqd")
    eng.write_versioned(df, d)
    eng.register_versioned("uqd", d)
    eng.sql("CREATE UNIQUE INDEX uq_k ON uqd (k)")
    with pytest.raises(ValueError, match="key already present"):
        eng.sql("INSERT INTO uqd VALUES (150, 1)")
    eng.sql("DELETE FROM uqd WHERE k = 150")
    # the probe reads the candidate file through its deletion vector
    eng.sql("INSERT INTO uqd VALUES (150, 1)")
    assert _kv(eng, "SELECT k, v FROM uqd WHERE k = 150") == {150: 1}
    with pytest.raises(ValueError, match="key already present"):
        eng.sql("INSERT INTO uqd VALUES (151, 1)")


def test_optimize_purges_deletion_vectors(eng, t20):
    eng.sql("DELETE FROM t20 WHERE k BETWEEN 95 AND 105")
    eng.sql("UPDATE t20 SET v = 0 WHERE k = 1500")
    want = _kv(eng, "SELECT k, v FROM t20")
    row = eng.sql("OPTIMIZE t20").first()
    assert row["rewritten_files"] == 21
    assert _dv_cards(t20) == []
    assert _kv(eng, "SELECT k, v FROM t20") == want
    # row-preserving: no change feed
    v = snapshots.read_log(t20)[-1].version
    assert eng.table_changes("t20", v, v).count() == 0


def test_vacuum_reaps_deletion_vector_files(eng, t20):
    import glob
    import os

    def dv_files():
        return sorted(glob.glob(os.path.join(t20, "deletion_vector_*.bin")))

    eng.sql("DELETE FROM t20 WHERE k = 5")
    first = dv_files()
    eng.sql("DELETE FROM t20 WHERE k = 6")   # union → a second file
    assert len(dv_files()) == 2
    # an orphan, as a commit that lost its O_EXCL race leaves behind
    from duckdb_read_spark import deltalog

    deltalog.write_dv(t20, [1, 2])
    assert len(dv_files()) == 3
    eng.vacuum_table("t20", keep_last=1)
    kept = dv_files()
    assert len(kept) == 1 and kept != first
    assert eng.sql("SELECT count(*) AS n FROM t20").first()["n"] == 1998


def test_clone_of_dv_table(eng, t20, tmp_path):
    eng.sql("DELETE FROM t20 WHERE k BETWEEN 95 AND 105")
    want = _kv(eng, "SELECT k, v FROM t20")
    eng.sql("CREATE TABLE t20c CLONE t20")
    assert _kv(eng, "SELECT k, v FROM t20c") == want
    dvs = [e["dv"] for e in _entries(eng._versioned["t20c"]).values()
           if e.get("dv")]
    assert sorted(dv["storageType"] for dv in dvs) == ["p", "p"]
    # a DML on the clone unions with the referenced source vector into
    # a clone-owned one; the source is untouched
    eng.sql("DELETE FROM t20c WHERE k = 94")
    assert eng.sql("SELECT count(*) AS n FROM t20c").first()["n"] == 1988
    assert _kv(eng, "SELECT k, v FROM t20") == want
    assert sorted(e["dv"]["storageType"] for e in _entries(
        eng._versioned["t20c"]).values() if e.get("dv")) == ["p", "u"]


def test_subqueries_see_the_whole_target(eng, t20):
    """The statement reads its candidate files through a private view;
    the target's name still means the whole table inside a subquery."""
    eng.sql("DELETE FROM t20 WHERE k = (SELECT max(k) FROM t20)")
    assert eng.sql("SELECT max(k) AS m FROM t20").first()["m"] == 1998
    eng.sql("UPDATE t20 SET v = (SELECT count(*) FROM t20) WHERE k = 5")
    assert _kv(eng, "SELECT k, v FROM t20 WHERE k = 5") == {5: 1999}
    eng.sql("DELETE FROM t20 WHERE k IN (SELECT k + 1 FROM t20 WHERE k = 5)")
    assert eng.sql("SELECT count(*) AS n FROM t20").first()["n"] == 1998
    assert _kv(eng, "SELECT k, v FROM t20 WHERE k BETWEEN 5 AND 7") == \
        {5: 1999, 7: 14}


def test_insert_values_commits_one_file(eng, t20):
    before = _paths(t20)
    eng.sql("INSERT INTO t20 VALUES (5000, 1), (5001, 2), (5002, 3)")
    new = [e for p, e in _entries(t20).items() if p not in before]
    assert [e["rows"] for e in new] == [3]


def test_dv_table_path_with_space(eng, spark, tmp_path):
    """Vectors are keyed by the decoded ``_metadata.file_path``: a table
    dir whose path Spark percent-encodes still masks its rows."""
    d = str(tmp_path / "with space+plus")
    eng.write_versioned(spark.range(0, 100).withColumnRenamed("id", "k")
                        .repartitionByRange(2, "k"), d)
    eng.register_versioned("tsp", d)
    eng.sql("DELETE FROM tsp WHERE k IN (3, 70)")
    eng.sql("UPDATE tsp SET k = -k WHERE k = 4")
    assert _dv_cards(d) == [1, 2]
    got = {r.k for r in eng.sql("SELECT k FROM tsp").collect()}
    assert got == (set(range(100)) - {3, 4, 70}) | {-4}
