"""Delta-protocol commit-log mirror (VERDICT r4 item 2): every versioned-
table commit is mirrored into a spec-shaped ``_delta_log/`` (protocol /
metaData / add-with-stats / remove actions, 0-based O_EXCL commit files),
and a directory holding ONLY a delta log is readable — the open-table-
format interop the reference's metadata notes center on
(/root/reference/metadata:1-5)."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from duckdb_read_spark import deltalog, snapshots
from duckdb_read_spark.engine import Engine


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))


@pytest.fixture()
def tbl(eng, spark, tmp_path):
    """A 10-file versioned table with one append and one file-level
    UPDATE on top (3 commits)."""
    d = str(tmp_path / "tdl")
    df = (spark.range(0, 1000).withColumnRenamed("id", "k")
          .withColumn("v", (F.col("k") * 2).cast("long"))
          .repartitionByRange(10, "k"))
    eng.write_versioned(df, d)
    eng.register_versioned("tdl", d)
    eng.sql("INSERT INTO tdl VALUES (5000, 1)")
    eng.sql("UPDATE tdl SET v = -1 WHERE k = 150")
    return d


def _delta_files(d):
    # commit files only — truncation also leaves a checkpoint parquet +
    # _last_checkpoint sidecar for external readers
    return sorted(f for f in os.listdir(os.path.join(d, "_delta_log"))
                  if re.fullmatch(r"\d{20}\.json", f))


def _actions(d, fname):
    with open(os.path.join(d, "_delta_log", fname)) as f:
        return [json.loads(line) for line in f if line.strip()]


def test_action_shapes_match_delta_protocol(tbl):
    files = _delta_files(tbl)
    assert files[0] == "00000000000000000000.json"  # 0-based, 20-digit
    assert len(files) == 3
    first = _actions(tbl, files[0])
    protocols = [a["protocol"] for a in first if "protocol" in a]
    metas = [a["metaData"] for a in first if "metaData" in a]
    assert protocols == [{"minReaderVersion": 1, "minWriterVersion": 2}]
    assert len(metas) == 1
    meta = metas[0]
    for key in ("id", "format", "schemaString", "partitionColumns",
                "configuration", "createdTime"):
        assert key in meta
    assert meta["format"] == {"provider": "parquet", "options": {}}
    schema = json.loads(meta["schemaString"])  # Spark StructType JSON
    assert {f["name"] for f in schema["fields"]} == {"k", "v"}
    adds = [a["add"] for f in files for a in _actions(tbl, f) if "add" in a]
    assert adds
    for add in adds:
        for key in ("path", "partitionValues", "size", "modificationTime",
                    "dataChange", "stats"):
            assert key in add
        assert add["partitionValues"] == {}
        assert add["size"] > 0
        stats = json.loads(add["stats"])
        assert set(stats) == {"numRecords", "minValues", "maxValues"}
        assert stats["numRecords"] >= 1
        assert "k" in stats["minValues"] and "k" in stats["maxValues"]
    # the file-level UPDATE commit: exactly one remove + adds re-stating
    # the snapshot (self-contained overwrite)
    last = _actions(tbl, files[-1])
    removes = [a["remove"] for a in last if "remove" in a]
    assert len(removes) == 1
    for rm in removes:
        assert {"path", "deletionTimestamp", "dataChange"} <= set(rm)


def test_delta_replay_matches_private_log_every_version(eng, spark, tbl):
    # a DELETE and a MERGE on top: vectors on two files, one unioned
    eng.sql("DELETE FROM tdl WHERE k BETWEEN 148 AND 152")
    eng.sql("MERGE INTO tdl t USING (SELECT 500 AS k, CAST(7 AS LONG) AS v) s "
            "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v")
    for c in snapshots.read_log(tbl):
        entries = snapshots.snapshot_file_entries(tbl, c.version)
        want = {e["path"].replace(os.sep, "/"): e.get("dv") for e in entries}
        got_version, got = deltalog.delta_snapshot(tbl, c.version)
        assert got_version == c.version
        assert {p: a.get("deletionVector") for p, a in got.items()} == want
        private = sorted(snapshots.read_table(spark, tbl, c.version)
                         .collect())
        assert sorted(deltalog.read_delta_table(spark, tbl, c.version)
                      .collect()) == private
    last = deltalog._read_actions(tbl, deltalog._list_versions(tbl)[-1])
    proto = deltalog._latest(tbl)[1]
    assert proto["minReaderVersion"] == 3 and proto["minWriterVersion"] == 7
    assert "deletionVectors" in proto["readerFeatures"]
    # the MERGE re-adds the file it masks only after removing the old
    # (path, DV) pair
    rm = [a["remove"] for a in last if "remove" in a]
    assert len(rm) == 1 and "deletionVector" not in rm[0]


def test_version_as_of_replays_from_delta_only(eng, spark, tbl, tmp_path):
    """Interop direction: the private _log deleted, the table reads from
    _delta_log alone — current version AND an earlier VERSION AS OF."""
    import shutil

    expect_now = {(r["k"], r["v"]) for r in eng.table("tdl").collect()}
    d2 = str(tmp_path / "delta_only")
    shutil.copytree(tbl, d2)
    shutil.rmtree(os.path.join(d2, "_log"))
    eng.register_versioned("tdl2", d2)
    got = {(r["k"], r["v"])
           for r in eng.sql("SELECT k, v FROM tdl2").collect()}
    assert got == expect_now
    assert (5000, 1) in got and (150, -1) in got
    v1 = {(r["k"], r["v"]) for r in
          eng.sql("SELECT k, v FROM tdl2 VERSION AS OF 1").collect()}
    assert (5000, 1) not in v1 and (150, 300) in v1
    assert len(v1) == 1000


def test_backfill_pre_mirror_table(eng, spark, tmp_path):
    """A table whose early commits predate the mirror gets a full
    0-based backfill on its next commit."""
    import shutil

    d = str(tmp_path / "tbf")
    eng.write_versioned(spark.range(10).coalesce(2), d)
    eng.write_versioned(spark.range(10, 20).coalesce(1), d, mode="append")
    shutil.rmtree(os.path.join(d, "_delta_log"))  # simulate pre-mirror
    eng.write_versioned(spark.range(20, 30).coalesce(1), d, mode="append")
    files = _delta_files(d)
    assert files[0] == "00000000000000000000.json" and len(files) == 3
    for c in snapshots.read_log(d):
        want = {e["path"].replace(os.sep, "/")
                for e in snapshots.snapshot_file_entries(d, c.version)}
        _, got = deltalog.delta_snapshot(d, c.version)
        assert set(got) == want


def test_vacuum_truncates_delta_log_consistently(eng, spark, tmp_path):
    d = str(tmp_path / "tvc")
    eng.write_versioned(spark.range(10).coalesce(2), d)
    eng.write_versioned(spark.range(20).coalesce(2), d)  # overwrite
    eng.write_versioned(spark.range(20, 25).coalesce(1), d, mode="append")
    snapshots.vacuum(d, keep_last=2)
    # private log kept versions 2,3 → delta files 1,2 remain
    assert _delta_files(d) == [f"{v:020d}.json" for v in (1, 2)]
    _, got = deltalog.delta_snapshot(d)
    want = {e["path"].replace(os.sep, "/")
            for e in snapshots.snapshot_file_entries(d)}
    assert set(got) == want


def test_backfilled_filelevel_overwrite_survives_vacuum(eng, spark, tmp_path):
    """Review finding r5: backfilled overwrite commits were differential
    (carried files not re-added), so vacuum's delta truncation dropped
    them from the public log. Scenario: pre-mirror table → file-level
    DELETE (carries most files by reference) triggers backfill → vacuum
    — the surviving delta log must still replay every carried file and
    keep protocol/metaData actions."""
    import shutil

    d = str(tmp_path / "tbf")
    df = (spark.range(0, 1000).withColumnRenamed("id", "k")
          .withColumn("v", F.col("k") * 2)
          .repartitionByRange(10, "k"))
    eng.write_versioned(df, d)
    eng.register_versioned("tbf", d)
    shutil.rmtree(os.path.join(d, "_delta_log"))  # simulate pre-mirror age

    eng.sql("DELETE FROM tbf WHERE k = 150")  # file-level: 9 files carried
    before = {r.k for r in snapshots.read_table(spark, d).collect()}
    snapshots.vacuum(d, keep_last=1)

    got = {r.k for r in deltalog.read_delta_table(spark, d).collect()}
    assert got == before and len(got) == 999
    # the truncated log's base commit still carries protocol + metaData
    base = deltalog._list_versions(d)[0]
    kinds = {k for a in deltalog._read_actions(d, base) for k in a}
    assert {"protocol", "metaData"} <= kinds


def test_vacuum_truncation_writes_checkpoint(eng, spark, tmp_path):
    """ADVICE r5: a _delta_log whose lowest JSON commit is N>0 is rejected
    by external Delta readers unless a checkpoint lets replay start there.
    After vacuum truncation a spec-shaped checkpoint parquet +
    _last_checkpoint must exist at the surviving base, and the checkpoint's
    add-set must equal the current snapshot's file set."""
    import pyarrow.parquet as pq

    d = str(tmp_path / "tck")
    eng.write_versioned(spark.range(10).coalesce(2), d)
    eng.write_versioned(spark.range(20).coalesce(2), d)       # overwrite
    eng.write_versioned(spark.range(20, 25).coalesce(1), d, mode="append")
    snapshots.vacuum(d, keep_last=2)

    log = os.path.join(d, "_delta_log")
    base = deltalog._list_versions(d)[0]
    assert base > 0  # truncation actually happened
    ckpt = os.path.join(log, f"{base:020d}.checkpoint.parquet")
    assert os.path.exists(ckpt)
    with open(os.path.join(log, "_last_checkpoint")) as f:
        last = json.load(f)
    assert last["version"] == base

    t = pq.read_table(ckpt).to_pylist()
    kinds = {k for row in t for k, v in row.items() if v is not None}
    assert {"protocol", "metaData", "add"} <= kinds
    ckpt_adds = {row["add"]["path"] for row in t if row["add"] is not None}
    # checkpoint state at base == replaying the base JSON commit alone
    _, base_files = deltalog.delta_snapshot(d, base + 1)
    assert ckpt_adds == set(base_files)
    # and a reader starting at the checkpoint + later JSON commits sees
    # the current snapshot
    _, now = deltalog.delta_snapshot(d)
    later_adds, later_removes = set(), set()
    for v in deltalog._list_versions(d):
        if v <= base:
            continue
        for a in deltalog._read_actions(d, v):
            if "add" in a:
                later_adds.add(a["add"]["path"])
            elif "remove" in a:
                later_removes.add(a["remove"]["path"])
    assert (ckpt_adds - later_removes) | later_adds == set(now)


def test_checkpoint_replay_after_json_cleanup(eng, spark, tmp_path):
    """A real delta-spark table cleans up old JSON commits after
    retention; state then lives in the checkpoint parquet. Replaying only
    the JSON tail would silently MISS files — the reader must seed replay
    from _last_checkpoint."""
    d = str(tmp_path / "tcp")
    eng.write_versioned(spark.range(10).coalesce(2), d)
    eng.write_versioned(spark.range(10, 20).coalesce(1), d, mode="append")
    eng.write_versioned(spark.range(20, 25).coalesce(1), d, mode="append")
    _, want = deltalog.delta_snapshot(d)
    assert len(want) == 4
    # checkpoint at delta version 1 (private v2), then clean up JSON <= 1
    deltalog.write_checkpoint(d, 1)
    for v in (0, 1):
        os.remove(os.path.join(d, "_delta_log", f"{v:020d}.json"))

    _, got = deltalog.delta_snapshot(d)
    assert set(got) == set(want)
    rows = {r.id for r in deltalog.read_delta_table(spark, d).collect()}
    assert rows == set(range(25))
    # version at the checkpoint itself resolves to checkpoint state
    _, at_ckpt = deltalog.delta_snapshot(d, version=2)
    assert len(at_ckpt) == 3
    # versions before the cleaned-up prefix fail cleanly, not wrongly
    with pytest.raises(LookupError):
        deltalog.delta_snapshot(d, version=1)


def test_unsupported_reader_features_raise(eng, spark, tmp_path):
    """Reader features the replay cannot honor must refuse.
    (deletionVectors moved OUT of this guard when the DV read path
    landed; columnMapping in r10 with the physical→logical projection;
    v2Checkpoint in r11 with the UUID-manifest + sidecar reader.)"""
    d = str(tmp_path / "tdv")
    eng.write_versioned(spark.range(5).coalesce(1), d)
    v = deltalog._list_versions(d)[-1] + 1
    with open(deltalog._delta_path(d, v), "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["typeWidening"],
            "writerFeatures": ["typeWidening"]}}) + "\n")
    with pytest.raises(NotImplementedError, match="typeWidening"):
        deltalog.delta_snapshot(d)
    # v2Checkpoint feature alone no longer refuses (r11)
    d3 = str(tmp_path / "tdv3")
    eng.write_versioned(spark.range(5).coalesce(1), d3)
    v3 = deltalog._list_versions(d3)[-1] + 1
    with open(deltalog._delta_path(d3, v3), "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["v2Checkpoint"],
            "writerFeatures": ["v2Checkpoint"]}}) + "\n")
    assert deltalog.read_delta_table(spark, d3).count() == 5
    # deletionVectors feature alone no longer refuses
    d2 = str(tmp_path / "tdv2")
    eng.write_versioned(spark.range(5).coalesce(1), d2)
    v2 = deltalog._list_versions(d2)[-1] + 1
    with open(deltalog._delta_path(d2, v2), "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"]}}) + "\n")
    assert deltalog.read_delta_table(spark, d2).count() == 5


def test_stale_last_checkpoint_falls_back_to_json(eng, spark, tmp_path):
    """Review r6: a _last_checkpoint whose parquet was cleaned up (or
    never copied) must not make the table unreadable when the complete
    JSON log is still there — fall back to full replay."""
    d = str(tmp_path / "tstale")
    eng.write_versioned(spark.range(10).coalesce(1), d)
    eng.write_versioned(spark.range(10, 20).coalesce(1), d, mode="append")
    deltalog.write_checkpoint(d, 1)
    for f in os.listdir(os.path.join(d, "_delta_log")):
        if f.endswith(".checkpoint.parquet"):
            os.remove(os.path.join(d, "_delta_log", f))
    rows = {r.id for r in deltalog.read_delta_table(spark, d).collect()}
    assert rows == set(range(20))


def test_truncated_log_missing_checkpoint_refuses(eng, spark, tmp_path):
    """A log whose early JSON commits were cleaned AND whose checkpoint
    is unreadable must refuse loudly — a tail-only replay would silently
    miss every file added before the surviving base."""
    d = str(tmp_path / "ttrunc")
    eng.write_versioned(spark.range(10).coalesce(1), d)
    eng.write_versioned(spark.range(10, 20).coalesce(1), d, mode="append")
    eng.write_versioned(spark.range(20, 30).coalesce(1), d, mode="append")
    ddir = os.path.join(d, "_delta_log")
    os.remove(os.path.join(ddir, f"{0:020d}.json"))
    for f in os.listdir(ddir):
        if "checkpoint" in f:
            os.remove(os.path.join(ddir, f))
    with pytest.raises(LookupError, match="checkpoint"):
        deltalog.delta_snapshot(d)


def _write_foreign_partitioned(spark, d, hive=True):
    """Hand-build a foreign partitioned Delta table: data files lack the
    partition column, values live in the log (spec behavior)."""
    import json as _json

    schema = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "v", "type": "double", "nullable": True, "metadata": {}},
        {"name": "p", "type": "integer", "nullable": True, "metadata": {}},
    ]}
    adds = []
    for p in (1, 2):
        rel_dir = f"p={p}" if hive else f"bucket{p}"
        full = os.path.join(d, rel_dir)
        (spark.range(p * 10, p * 10 + 3)
         .withColumn("v", F.col("id") * 1.0)
         .coalesce(1).write.mode("overwrite").parquet(full))
        for f in os.listdir(full):
            if f.endswith(".parquet"):
                adds.append({"add": {
                    "path": f"{rel_dir}/{f}", "partitionValues": {"p": str(p)},
                    "size": 1, "modificationTime": 0, "dataChange": True}})
    ddir = os.path.join(d, "_delta_log")
    os.makedirs(ddir)
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": _json.dumps(schema),
                      "partitionColumns": ["p"], "configuration": {},
                      "createdTime": 0}},
    ] + adds
    with open(os.path.join(ddir, f"{0:020d}.json"), "w") as f:
        f.write("\n".join(_json.dumps(a) for a in actions) + "\n")


def test_read_partitioned_delta_hive_layout(eng, spark, tmp_path):
    """Partitioned foreign Delta tables (review r6 gap): hive layout →
    one basePath scan, partition column restored with its declared type,
    and a partition predicate PRUNES at the scan."""
    d = str(tmp_path / "dpart")
    _write_foreign_partitioned(spark, d, hive=True)
    df = deltalog.read_delta_table(spark, d)
    assert dict(df.dtypes)["p"] == "int"
    got = {(r.id, r.p) for r in df.collect()}
    assert got == {(10, 1), (11, 1), (12, 1), (20, 2), (21, 2), (22, 2)}
    pruned = df.filter("p = 2")
    assert {r.id for r in pruned.collect()} == {20, 21, 22}
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "p#" in plan


def test_read_partitioned_delta_nonhive_layout(eng, spark, tmp_path):
    """Non-hive paths: values come from the log (authoritative), typed
    from schemaString, via the per-partition union fallback."""
    d = str(tmp_path / "dflat")
    _write_foreign_partitioned(spark, d, hive=False)
    df = deltalog.read_delta_table(spark, d)
    assert dict(df.dtypes)["p"] == "int"
    got = {(r.id, r.p) for r in df.collect()}
    assert got == {(10, 1), (11, 1), (12, 1), (20, 2), (21, 2), (22, 2)}


def test_partitioned_delta_register_and_clone_guard(eng, spark, tmp_path):
    """A foreign partitioned Delta dir registers and queries through the
    engine; CLONE refuses (a file-reference fork would silently drop the
    log-resident partition columns)."""
    d = str(tmp_path / "dreg")
    _write_foreign_partitioned(spark, d, hive=True)
    eng.register_versioned("dpart", d)
    got = {(r.id, r.p) for r in eng.sql(
        "SELECT id, p FROM dpart WHERE p = 2").collect()}
    assert got == {(20, 2), (21, 2), (22, 2)}
    with pytest.raises(NotImplementedError, match="partition"):
        eng.sql("CREATE TABLE dclone CLONE dpart")


# --- deletion vectors ------------------------------------------------------

def _dv_descriptor(d, positions, inline=False):
    """Spec-shaped deletionVector descriptor + on-disk DV file ('u'
    storage, version byte + size/CRC framing) or inline Z85 ('i')."""
    import uuid as _uuid

    from duckdb_read_spark import roaring

    data = roaring.serialize_bitmap_array(list(positions))
    if inline:
        padded = data + b"\x00" * (-len(data) % 4)
        return {"storageType": "i",
                "pathOrInlineDv": roaring.z85_encode(padded),
                "sizeInBytes": len(data), "cardinality": len(positions)}
    u = _uuid.uuid4()
    with open(os.path.join(d, f"deletion_vector_{u}.bin"), "wb") as f:
        f.write(b"\x01" + roaring.frame_dv(data))
    return {"storageType": "u",
            "pathOrInlineDv": roaring.z85_encode(u.bytes),
            "offset": 1, "sizeInBytes": len(data),
            "cardinality": len(positions)}


def _write_foreign_dv_table(spark, d, inline=False):
    """Foreign Delta dir: file A (k=0..9) with DV deleting positions
    {1,3,7}, file B (k=100..104) with DV deleting {0} — protocol
    declares the deletionVectors reader feature."""
    import json as _json

    adds = []
    for i, (lo, hi, dels) in enumerate(
            ((0, 10, {1, 3, 7}), (100, 105, {0}))):
        full = os.path.join(d, f"f{i}")
        (spark.range(lo, hi).withColumnRenamed("id", "k")
         .coalesce(1).sortWithinPartitions("k")
         .write.mode("overwrite").parquet(full))
        for f in os.listdir(full):
            if f.endswith(".parquet"):
                adds.append({"add": {
                    "path": f"f{i}/{f}", "partitionValues": {},
                    "size": 1, "modificationTime": 0, "dataChange": True,
                    "deletionVector": _dv_descriptor(d, dels,
                                                     inline=inline)}})
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}}]}
    ddir = os.path.join(d, "_delta_log")
    os.makedirs(ddir)
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": _json.dumps(schema),
                      "partitionColumns": [], "configuration": {},
                      "createdTime": 0}},
    ] + adds
    with open(os.path.join(ddir, f"{0:020d}.json"), "w") as f:
        f.write("\n".join(_json.dumps(a) for a in actions) + "\n")


def test_roaring_bitmap_array_roundtrip():
    from duckdb_read_spark import roaring

    vals = ([1, 3, 70_000] + list(range(200_000, 205_000))
            + [(5 << 32) | 9])          # array + bitset-adjacent + 2 keys
    data = roaring.serialize_bitmap_array(vals)
    assert roaring.deserialize_bitmap_array(data) == sorted(set(vals))
    # a dense block exceeding 4096 per 16-bit container → bitset payload
    dense = list(range(10_000))
    assert roaring.deserialize_bitmap_array(
        roaring.serialize_bitmap_array(dense)) == dense
    # run-container DECODE (cookie 12347), as real writers emit
    import struct
    run = (struct.pack("<i", 12347 | (0 << 16)) + b"\x01"   # 1 ctr, run
           + struct.pack("<HH", 0, 5 - 1)                   # key 0, card 5
           + struct.pack("<HHH", 1, 10, 4))                 # 1 run: 10..14
    arr = struct.pack("<iqi", 1681511377, 1, 0) + run
    assert roaring.deserialize_bitmap_array(arr) == [10, 11, 12, 13, 14]
    # z85 round-trip
    blob = bytes(range(32))
    assert roaring.z85_decode(roaring.z85_encode(blob)) == blob


@pytest.mark.parametrize("inline", [False, True])
def test_delta_deletion_vectors_apply(eng, spark, tmp_path, inline):
    """A foreign Delta table whose adds carry deletion vectors reads
    merge-on-read: deleted positions vanish, everything else survives;
    CLONE refuses (files-by-reference would resurrect rows)."""
    from duckdb_read_spark import deltalog

    d = str(tmp_path / "dvt")
    _write_foreign_dv_table(spark, d, inline=inline)
    got = {r.k for r in deltalog.read_delta_table(spark, d).collect()}
    assert got == ({0, 2, 4, 5, 6, 8, 9} | {101, 102, 103, 104})
    eng.register_versioned("dvt", d)
    assert eng.sql("SELECT count(*) AS n FROM dvt").first()["n"] == 11
    with pytest.raises(NotImplementedError, match="resurrect"):
        eng.sql(f"CREATE TABLE dvc CLONE '{d}'")


def test_dv_driver_expand_matches_executor_path(spark, tmp_path, monkeypatch):
    """r13: small deletion vectors expand driver-side (no mapInPandas
    stage in the plan); rows must be IDENTICAL to the executor-side
    expansion, and the threshold must route large/unknown cardinalities
    back to the executor path."""
    from duckdb_read_spark import deltalog

    d = str(tmp_path / "dvx")
    _write_foreign_dv_table(spark, d)

    monkeypatch.setattr(deltalog, "_DV_DRIVER_EXPAND_MAX", 128 * 1024)
    fast = deltalog.read_delta_table(spark, d)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" not in plan and "EvalPython" not in plan
    fast_rows = {r.k for r in fast.collect()}

    monkeypatch.setattr(deltalog, "_DV_DRIVER_EXPAND_MAX", 0)
    slow = deltalog.read_delta_table(spark, d)
    assert "InPandas" in slow._jdf.queryExecution().executedPlan().toString()
    assert fast_rows == {r.k for r in slow.collect()}


@pytest.mark.parametrize("n_deleted", [200_000, 100])
def test_dv_declared_cardinality_mismatch_takes_executor_path(
        spark, tmp_path, n_deleted):
    """A descriptor declaring cardinality 1 over a larger bitmap must not
    steer the expansion onto the driver: the gate counts the bitmap
    itself, so both a 200k-entry bitmap (over the gate) and a 100-entry
    one (under it, but disagreeing) take the executor path, and the
    deleted rows still vanish."""
    d = str(tmp_path / "dvm")
    full = os.path.join(d, "f0")
    (spark.range(0, n_deleted + 5).withColumnRenamed("id", "k")
     .coalesce(1).sortWithinPartitions("k")
     .write.mode("overwrite").parquet(full))
    (f,) = [f for f in os.listdir(full) if f.endswith(".parquet")]
    dv = _dv_descriptor(d, range(n_deleted))
    dv["cardinality"] = 1
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}}]}
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": json.dumps(schema),
                      "partitionColumns": [], "configuration": {},
                      "createdTime": 0}},
        {"add": {"path": f"f0/{f}", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": dv}},
    ]
    os.makedirs(os.path.join(d, "_delta_log"))
    with open(os.path.join(d, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")

    df = deltalog.read_delta_table(spark, d)
    assert "InPandas" in df._jdf.queryExecution().executedPlan().toString()
    assert sorted(r.k for r in df.collect()) == list(
        range(n_deleted, n_deleted + 5))


def test_delta_dv_clone_guard_direct(spark, tmp_path):
    from duckdb_read_spark import deltalog, snapshots

    d = str(tmp_path / "dvg")
    _write_foreign_dv_table(spark, d)
    with pytest.raises(NotImplementedError, match="resurrect"):
        snapshots.clone(d, str(tmp_path / "dvg2"))


def test_delta_dv_hive_partitioned(spark, tmp_path):
    """DVs compose with hive-partitioned foreign tables (the layout
    every real Delta writer emits): partition restore + DV anti-join in
    one scan relation."""
    import json as _json

    from duckdb_read_spark import deltalog

    d = str(tmp_path / "dvp")
    adds = []
    for p in (1, 2):
        full = os.path.join(d, f"p={p}")
        (spark.range(p * 10, p * 10 + 4).withColumnRenamed("id", "k")
         .coalesce(1).sortWithinPartitions("k")
         .write.mode("overwrite").parquet(full))
        for f in os.listdir(full):
            if f.endswith(".parquet"):
                adds.append({"add": {
                    "path": f"p={p}/{f}",
                    "partitionValues": {"p": str(p)},
                    "size": 1, "modificationTime": 0, "dataChange": True,
                    "deletionVector": _dv_descriptor(d, {0})}})
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}},
        {"name": "p", "type": "integer", "nullable": True,
         "metadata": {}}]}
    ddir = os.path.join(d, "_delta_log")
    os.makedirs(ddir)
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": _json.dumps(schema),
                      "partitionColumns": ["p"], "configuration": {},
                      "createdTime": 0}},
    ] + adds
    with open(os.path.join(ddir, f"{0:020d}.json"), "w") as f:
        f.write("\n".join(_json.dumps(a) for a in actions) + "\n")
    got = {(r.k, r.p) for r in deltalog.read_delta_table(spark, d).collect()}
    # position 0 of each partition file (k=10, k=20) deleted
    assert got == {(11, 1), (12, 1), (13, 1), (21, 2), (22, 2), (23, 2)}


def test_attach_dv_merges_removes_and_unions_protocol(spark, tmp_path):
    """Review r6 triple: a second attach merges the existing DV's
    positions (no resurrection), the commit carries a remove for the
    old (path, dv) entry so spec-keyed readers don't see two live
    entries, and the protocol upgrade UNIONS pre-existing features."""
    import json as _json

    from duckdb_read_spark import deltalog

    d = str(tmp_path / "dvm")
    adds = []
    full = os.path.join(d, "f0")
    (spark.range(0, 8).withColumnRenamed("id", "k")
     .coalesce(1).sortWithinPartitions("k")
     .write.mode("overwrite").parquet(full))
    rel = next(f"f0/{f}" for f in os.listdir(full)
               if f.endswith(".parquet"))
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}}]}
    ddir = os.path.join(d, "_delta_log")
    os.makedirs(ddir)
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                      "writerFeatures": ["appendOnly"]}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": _json.dumps(schema),
                      "partitionColumns": [], "configuration": {},
                      "createdTime": 0}},
        {"add": {"path": rel, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ]
    with open(os.path.join(ddir, f"{0:020d}.json"), "w") as f:
        f.write("\n".join(_json.dumps(a) for a in actions) + "\n")

    deltalog.attach_deletion_vector(d, rel, [1])
    v = deltalog.attach_deletion_vector(d, rel, [3])
    got = {r.k for r in deltalog.read_delta_table(spark, d).collect()}
    assert got == {0, 2, 4, 5, 6, 7}      # BOTH 1 and 3 stay deleted
    acts = deltalog._read_actions(d, v)
    kinds = [next(iter(a)) for a in acts]
    assert kinds == ["protocol", "remove", "add"]
    assert acts[1]["remove"]["path"] == rel
    assert "deletionVector" in acts[1]["remove"]   # identifies old entry
    proto = acts[0]["protocol"]
    assert "appendOnly" in proto["writerFeatures"]       # unioned
    assert "deletionVectors" in proto["writerFeatures"]
    assert acts[2]["add"]["dataChange"] is True


def test_dv_path_with_space_still_applies(spark, tmp_path):
    """Review r6: Spark percent-encodes _metadata.file_path; a table dir
    containing a space must still match the anti-join keys — otherwise
    DVs are silently NOT applied."""
    from duckdb_read_spark import deltalog

    d = str(tmp_path / "dv dir")   # space on purpose
    _write_foreign_dv_table(spark, d)
    got = {r.k for r in deltalog.read_delta_table(spark, d).collect()}
    assert got == ({0, 2, 4, 5, 6, 8, 9} | {101, 102, 103, 104})


# ---------------------------------------------------------------- r10:
# columnMapping read (the r9 verdict's "most common still-refused
# interop feature") — fixtures hand-built to the spec: parquet files
# carry PHYSICAL col-<uuid> names, the metaData schema carries
# delta.columnMapping.physicalName per field, partitionValues keys and
# hive path segments speak physical names too.

_CM = "delta.columnMapping.physicalName"
_CMID = "delta.columnMapping.id"


def _cm_field(name, typ, phys, fid, nullable=True):
    return {"name": name, "type": typ, "nullable": nullable,
            "metadata": {_CMID: fid, _CM: phys}}


def _write_cm_table(spark, d, mode="name"):
    """v0: columns (k → col-aaa, v → col-bbb); v1: appends a file;
    v2: RENAME COLUMN v TO val (metaData-only — same files)."""
    import json as _json

    os.makedirs(d)
    f1 = spark.createDataFrame(
        [(0, 1.0), (1, 2.0), (2, 3.0)], "`col-aaa` long, `col-bbb` double")
    f1.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "p1"))
    f2 = spark.createDataFrame(
        [(3, 4.0)], "`col-aaa` long, `col-bbb` double")
    f2.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "p2"))

    def one_parquet(sub):
        full = os.path.join(d, sub)
        return [f"{sub}/{f}" for f in os.listdir(full)
                if f.endswith(".parquet")]

    def meta(schema):
        return {"metaData": {
            "id": "cmt", "format": {"provider": "parquet", "options": {}},
            "schemaString": _json.dumps(schema), "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": mode,
                              "delta.columnMapping.maxColumnId": "2"},
            "createdTime": 0}}

    schema_v0 = {"type": "struct", "fields": [
        _cm_field("k", "long", "col-aaa", 1),
        _cm_field("v", "double", "col-bbb", 2)]}
    schema_v2 = {"type": "struct", "fields": [
        _cm_field("k", "long", "col-aaa", 1),
        _cm_field("val", "double", "col-bbb", 2)]}
    ddir = os.path.join(d, "_delta_log")
    os.makedirs(ddir)
    proto = {"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["columnMapping"],
        "writerFeatures": ["columnMapping"]}}
    commits = [
        [proto, meta(schema_v0)] + [
            {"add": {"path": p, "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}}
            for p in one_parquet("p1")],
        [{"add": {"path": p, "partitionValues": {}, "size": 1,
                  "modificationTime": 0, "dataChange": True}}
         for p in one_parquet("p2")],
        [meta(schema_v2)],
    ]
    import json as _json2
    for v, acts in enumerate(commits):
        with open(os.path.join(ddir, f"{v:020d}.json"), "w") as f:
            f.write("\n".join(_json2.dumps(a) for a in acts) + "\n")


@pytest.mark.parametrize("mode", ["name", "id"])
def test_column_mapping_read(spark, tmp_path, mode):
    """Physical col-<uuid> parquet names project to logical names in
    declared order; both 'name' and 'id' modes (delta-spark writes
    physical names in both)."""
    d = str(tmp_path / f"cm_{mode}")
    _write_cm_table(spark, d, mode=mode)
    df = deltalog.read_delta_table(spark, d)
    assert df.columns == ["k", "val"]
    got = sorted((r.k, r.val) for r in df.collect())
    assert got == [(0, 1.0), (1, 2.0), (2, 3.0), (3, 4.0)]


def test_column_mapping_time_travel_rename(spark, tmp_path):
    """Time travel across a RENAME COLUMN: the metaData AS OF the
    version drives the logical names — the same files read back under
    the OLD name at the old version."""
    d = str(tmp_path / "cmtt")
    _write_cm_table(spark, d)
    old = deltalog.read_delta_table(spark, d, version=2)
    assert old.columns == ["k", "v"]
    assert sorted(r.k for r in old.collect()) == [0, 1, 2, 3]
    v1 = deltalog.read_delta_table(spark, d, version=1)
    assert sorted(r.v for r in v1.collect()) == [1.0, 2.0, 3.0]


def test_column_mapping_hive_partitioned(spark, tmp_path):
    """Hive layout under mapping: path segments and partitionValues
    keys are PHYSICAL; the logical view restores names and the
    partition predicate still prunes."""
    import json as _json

    d = str(tmp_path / "cmp")
    os.makedirs(d)
    adds = []
    for p in (1, 2):
        sub = f"col-ppp={p}"
        full = os.path.join(d, sub)
        spark.createDataFrame(
            [(p * 10 + i,) for i in range(3)], "`col-aaa` long"
        ).coalesce(1).write.mode("overwrite").parquet(full)
        for f in os.listdir(full):
            if f.endswith(".parquet"):
                adds.append({"add": {
                    "path": f"{sub}/{f}",
                    "partitionValues": {"col-ppp": str(p)},
                    "size": 1, "modificationTime": 0,
                    "dataChange": True}})
    schema = {"type": "struct", "fields": [
        _cm_field("id", "long", "col-aaa", 1),
        _cm_field("p", "integer", "col-ppp", 2)]}
    ddir = os.path.join(d, "_delta_log")
    os.makedirs(ddir)
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "cmp", "format": {"provider": "parquet",
                                    "options": {}},
            "schemaString": _json.dumps(schema),
            "partitionColumns": ["p"],
            "configuration": {"delta.columnMapping.mode": "name"},
            "createdTime": 0}},
    ] + adds
    with open(os.path.join(ddir, f"{0:020d}.json"), "w") as f:
        f.write("\n".join(_json.dumps(a) for a in actions) + "\n")
    df = deltalog.read_delta_table(spark, d)
    assert df.columns == ["id", "p"]
    assert dict(df.dtypes)["p"] == "int"
    got = {(r.id, r.p) for r in df.collect()}
    assert got == {(10, 1), (11, 1), (12, 1), (20, 2), (21, 2), (22, 2)}
    assert {r.id for r in df.filter("p = 2").collect()} == {20, 21, 22}


def test_column_mapping_nested_struct(spark, tmp_path):
    """Nested struct fields are mapped too — the projection rebuilds
    structs recursively and keeps NULL structs NULL."""
    import json as _json

    d = str(tmp_path / "cmn")
    os.makedirs(d)
    rows = [(0, (1.5, "a")), (1, (2.5, "b")), (2, None)]
    spark.createDataFrame(
        rows,
        "`col-aaa` long, `col-sss` struct<`col-xxx`: double, "
        "`col-yyy`: string>",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "p1"))
    inner = {"type": "struct", "fields": [
        _cm_field("x", "double", "col-xxx", 3),
        _cm_field("y", "string", "col-yyy", 4)]}
    schema = {"type": "struct", "fields": [
        _cm_field("k", "long", "col-aaa", 1),
        _cm_field("s", inner, "col-sss", 2)]}
    ddir = os.path.join(d, "_delta_log")
    os.makedirs(ddir)
    adds = [{"add": {"path": f"p1/{f}", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}}
            for f in os.listdir(os.path.join(d, "p1"))
            if f.endswith(".parquet")]
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "cmn", "format": {"provider": "parquet",
                                    "options": {}},
            "schemaString": _json.dumps(schema),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name"},
            "createdTime": 0}},
    ] + adds
    with open(os.path.join(ddir, f"{0:020d}.json"), "w") as f:
        f.write("\n".join(_json.dumps(a) for a in actions) + "\n")
    df = deltalog.read_delta_table(spark, d)
    assert df.columns == ["k", "s"]
    assert df.schema["s"].dataType.fieldNames() == ["x", "y"]
    got = {(r.k, None if r.s is None else (r.s.x, r.s.y))
           for r in df.collect()}
    assert got == {(0, (1.5, "a")), (1, (2.5, "b")), (2, None)}


def test_column_mapping_clone_refuses(eng, spark, tmp_path):
    """A file-reference CLONE of a mapping table would expose physical
    col-<uuid> names — refuse loudly."""
    d = str(tmp_path / "cmc")
    _write_cm_table(spark, d)
    with pytest.raises(NotImplementedError, match="columnMapping"):
        snapshots.clone(d, str(tmp_path / "cmc_clone"))


def test_column_mapping_with_v2checkpoint_feature_reads(spark, tmp_path):
    """A columnMapping table that also declares the v2Checkpoint reader
    feature reads normally since r11 (it used to refuse)."""
    import json as _json

    d = str(tmp_path / "cmv2")
    _write_cm_table(spark, d)
    before = deltalog.read_delta_table(spark, d).count()
    v = deltalog._list_versions(d)[-1] + 1
    with open(deltalog._delta_path(d, v), "w") as f:
        f.write(_json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["columnMapping", "v2Checkpoint"],
            "writerFeatures": ["columnMapping", "v2Checkpoint"]}})
            + "\n")
    assert deltalog.read_delta_table(spark, d).count() == before


# --- V2 checkpoints (spec §V2 Checkpoint Spec, r11) -----------------------

_SCHEMA_A = ('{"type":"struct","fields":[{"name":"a","type":"long",'
             '"nullable":true,"metadata":{}}]}')


def _v2_add_row(d: str, name: str, values: list[int]) -> dict:
    """Write a one-column data parquet and return its add action."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    full = os.path.join(d, name)
    pq.write_table(pa.table({"a": pa.array(values, pa.int64())}), full)
    return {"path": name, "partitionValues": {},
            "size": os.path.getsize(full),
            "modificationTime": 0, "dataChange": True, "stats": None}


def _v2_action_schema():
    import pyarrow as pa

    str_map = pa.map_(pa.string(), pa.string())
    add_t = pa.struct([
        ("path", pa.string()), ("partitionValues", str_map),
        ("size", pa.int64()), ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()), ("stats", pa.string())])
    return pa.schema([
        ("protocol", pa.struct([
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string()))])),
        ("metaData", pa.struct([
            ("id", pa.string()), ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", str_map)])),
        ("add", add_t),
        ("remove", pa.struct([("path", pa.string()),
                              ("dataChange", pa.bool_())])),
        ("sidecar", pa.struct([("path", pa.string()),
                               ("sizeInBytes", pa.int64())])),
        ("checkpointMetadata", pa.struct([("version", pa.int64())])),
    ])


def _v2_write_rows(path: str, rows: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = _v2_action_schema()
    cols = {f.name: [r.get(f.name) for r in rows] for f in schema}
    # map-typed nested fields need (k, v) tuples
    for c in ("metaData", "add"):
        for r in cols[c]:
            if r and isinstance(r.get("partitionValues"
                                      if c == "add"
                                      else "configuration"), dict):
                k = "partitionValues" if c == "add" else "configuration"
                r[k] = list(r[k].items())
    pq.write_table(pa.Table.from_pydict(cols, schema=schema), path)


def test_v2_checkpoint_parquet_manifest_with_sidecars(spark, tmp_path):
    """Checkpoint-only table (every JSON commit cleaned up) whose state
    lives in a UUID-named V2 manifest + two _sidecars/ parquet files —
    the naive reader returned nothing or refused; now it reads."""
    d = str(tmp_path / "v2pq")
    log = os.path.join(d, "_delta_log")
    os.makedirs(os.path.join(log, "_sidecars"))
    a1 = _v2_add_row(d, "part-0.parquet", [1, 2, 3])
    a2 = _v2_add_row(d, "part-1.parquet", [4, 5])
    _v2_write_rows(os.path.join(log, "_sidecars", "sc-aaaa.parquet"),
                   [{"add": a1}])
    _v2_write_rows(os.path.join(log, "_sidecars", "sc-bbbb.parquet"),
                   [{"add": a2}])
    _v2_write_rows(
        os.path.join(
            log, "00000000000000000002.checkpoint.0aa0-uuid.parquet"),
        [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                       "readerFeatures": ["v2Checkpoint"],
                       "writerFeatures": ["v2Checkpoint"]}},
         {"metaData": {"id": "m-1", "schemaString": _SCHEMA_A,
                       "partitionColumns": [], "configuration": {}}},
         {"checkpointMetadata": {"version": 2}},
         {"sidecar": {"path": "sc-aaaa.parquet", "sizeInBytes": 1}},
         {"sidecar": {"path": "sc-bbbb.parquet", "sizeInBytes": 1}}])
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 2}, f)
    df = deltalog.read_delta_table(spark, d)
    assert sorted(r.a for r in df.collect()) == [1, 2, 3, 4, 5]
    # _meta_at resolves the manifest metaData on the checkpoint-only log
    assert (deltalog._meta_at(d) or {}).get("id") == "m-1"


def test_v2_checkpoint_json_manifest_inline_and_tail(spark, tmp_path):
    """JSON-format V2 manifest with INLINE add actions (no sidecars),
    plus a surviving JSON commit after the checkpoint: replay starts at
    the manifest state and applies the tail."""
    d = str(tmp_path / "v2js")
    log = os.path.join(d, "_delta_log")
    os.makedirs(log)
    a1 = _v2_add_row(d, "part-0.parquet", [10, 20])
    a2 = _v2_add_row(d, "part-1.parquet", [30])
    manifest = os.path.join(
        log, "00000000000000000001.checkpoint.1bb1-uuid.json")
    with open(manifest, "w") as f:
        for action in (
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["v2Checkpoint"],
                          "writerFeatures": ["v2Checkpoint"]}},
            {"metaData": {"id": "m-2", "schemaString": _SCHEMA_A,
                          "partitionColumns": [], "configuration": {}}},
            {"checkpointMetadata": {"version": 1}},
            {"add": a1},
        ):
            f.write(json.dumps(action) + "\n")
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 1}, f)
    with open(os.path.join(log, "00000000000000000002.json"),
              "w") as f:
        f.write(json.dumps({"add": a2}) + "\n")
    df = deltalog.read_delta_table(spark, d)
    assert sorted(r.a for r in df.collect()) == [10, 20, 30]
    # time travel to the checkpoint state itself (private version 2)
    df1 = deltalog.read_delta_table(spark, d, version=2)
    assert sorted(r.a for r in df1.collect()) == [10, 20]


def test_v2_checkpoint_missing_sidecar_is_loud(spark, tmp_path):
    """A sidecar named by the manifest but absent on disk must raise —
    silently dropping part of the table state is the one wrong answer."""
    d = str(tmp_path / "v2miss")
    log = os.path.join(d, "_delta_log")
    os.makedirs(log)
    _v2_write_rows(
        os.path.join(
            log, "00000000000000000000.checkpoint.2cc2-uuid.parquet"),
        [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                       "readerFeatures": ["v2Checkpoint"],
                       "writerFeatures": ["v2Checkpoint"]}},
         {"metaData": {"id": "m-3", "schemaString": _SCHEMA_A,
                       "partitionColumns": [], "configuration": {}}},
         {"checkpointMetadata": {"version": 0}},
         {"sidecar": {"path": "gone.parquet", "sizeInBytes": 1}}])
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 0}, f)
    with pytest.raises(Exception):
        deltalog.read_delta_table(spark, d)
