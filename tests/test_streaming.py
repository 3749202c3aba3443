"""Batch↔stream equivalence (SURVEY §5.4) + watermark late-data policy.

The same declarative window plans run once over the events parquet as a
batch DataFrame and once replayed as a file stream; outputs must be equal.
This is the T3 check from SURVEY §2.3 — streaming timing is nondeterministic
so the *stream* is never hash-oracled directly; equality with the batch
result (which IS oracled, Q45/Q46) transfers correctness.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from duckdb_read_spark.catalog import load_table
from duckdb_read_spark.oracle import normalize_rows
from duckdb_read_spark.streaming.source import events_stream
from duckdb_read_spark.streaming.windows import (
    run_to_memory,
    session_aggs,
    sliding_counts,
    tumbling_counts,
)
from tests.conftest import SF_SMOKE

EVENTS = os.path.join(SF_SMOKE, "events.parquet")


def _rows(df):
    return normalize_rows(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def batch_events(spark):
    return load_table(spark, SF_SMOKE, "events")


def test_tumbling_batch_stream_equivalence(spark, batch_events):
    batch = _rows(tumbling_counts(batch_events))
    stream = events_stream(spark, EVENTS)
    run_to_memory(tumbling_counts(stream), "t_tumbling", output_mode="complete")
    got = _rows(spark.table("t_tumbling"))
    assert got == batch


def test_tumbling_matches_q45_shape(spark, batch_events):
    """window('1 hour').start == date_trunc('hour', ts) — the Q45 oracle."""
    batch_events.createOrReplaceTempView("events")
    q45 = _rows(
        spark.sql(
            """
            SELECT date_trunc('hour', ts) AS w, event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS sv
            FROM events GROUP BY 1, 2
            """
        )
    )
    assert _rows(tumbling_counts(batch_events)) == q45


def test_session_batch_stream_equivalence(spark, batch_events):
    batch = _rows(session_aggs(batch_events))
    stream = events_stream(spark, EVENTS)
    run_to_memory(session_aggs(stream), "t_sessions", output_mode="complete")
    got = _rows(spark.table("t_sessions"))
    assert got == batch


def test_session_matches_operator_sessionize(spark, batch_events):
    """session_window partitions events identically to the Q46 lag/sum
    formulation (compared on session content, not ids)."""
    from duckdb_read_spark.operators import session_stats

    q46 = _rows(session_stats(batch_events).select("user_id", "n", "t0", "t1"))
    sw = _rows(session_aggs(batch_events))
    assert sw == q46


def test_watermark_drops_late_rows(spark, tmp_path):
    """Three-file replay: file 1 sets the frontier, file 2 advances it, and
    file 3's too-late row is dropped (the last_record_lsn frontier analog,
    /root/reference/neon:55). Three files because Spark applies the
    late-event filter with the watermark of the *previous* batch — the drop
    takes effect one micro-batch after the frontier passes the event."""
    import time

    d = str(tmp_path / "stream_in")
    os.makedirs(d)

    def write(sub, rows):
        spark.createDataFrame(rows, "id LONG, ts_s STRING, k STRING").selectExpr(
            "id", "CAST(ts_s AS TIMESTAMP) AS ts", "k"
        ).coalesce(1).write.parquet(os.path.join(d, sub))

    write("batch=0", [(1, "2024-01-01 10:00:00", "a"), (2, "2024-01-01 12:00:00", "a")])
    write("batch=1", [(3, "2024-01-01 13:00:00", "a")])
    write("batch=2", [(4, "2024-01-01 10:05:00", "a"), (5, "2024-01-01 12:55:00", "a")])
    # FileStreamSource orders files by modification time; pin the order.
    now = time.time()
    for i, sub in enumerate(("batch=0", "batch=1", "batch=2")):
        for f in os.listdir(os.path.join(d, sub)):
            os.utime(os.path.join(d, sub, f), (now - 60 + 30 * i,) * 2)

    schema = spark.read.parquet(os.path.join(d, "batch=0")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(d, "batch=*"))
        .withWatermark("ts", "10 minutes")
    )
    agg = stream.groupBy(F.window("ts", "1 hour")).count()
    q = (
        agg.writeStream.format("memory")
        .queryName("t_watermark")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {(r[0]["start"].hour, r[1]) for r in spark.table("t_watermark").collect()}
    # Frontier after file 1 = 11:50, after file 2 = 12:50. File 3's 10:05 row
    # is far below the frontier → dropped; its window already closed with
    # exactly the one on-time 10:00 row. The 12:55 row is accepted but its
    # window never closes (final frontier 12:50 < 13:00), so append emits
    # nothing for it.
    assert rows == {(10, 1)}


def test_session_merges_across_micro_batches(spark, tmp_path):
    """SURVEY §7 hard part (c): a session whose events arrive in different
    micro-batches must come out as ONE merged session."""
    import time

    d = str(tmp_path / "sess_in")
    os.makedirs(d)

    def write(sub, rows):
        spark.createDataFrame(rows, "user_id LONG, ts_s STRING").selectExpr(
            "user_id", "CAST(ts_s AS TIMESTAMP) AS ts"
        ).coalesce(1).write.parquet(os.path.join(d, sub))

    # user 1: 10:00 (batch 0) and 10:10 (batch 1) — within the 30-min gap.
    write("f0", [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 09:00:00")])
    write("f1", [(1, "2024-01-01 10:10:00")])
    now = time.time()
    for i, sub in enumerate(("f0", "f1")):
        for f in os.listdir(os.path.join(d, sub)):
            os.utime(os.path.join(d, sub, f), (now - 30 + 30 * i,) * 2)

    schema = spark.read.parquet(os.path.join(d, "f0")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(d, "f*"))
    )
    agg = (
        stream.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .count()
        .select("user_id", "count")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_sess_merge")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {(r["user_id"], r["count"]) for r in spark.table("t_sess_merge").collect()}
    assert rows == {(1, 2), (2, 1)}


def test_streaming_rollup_continuous_aggregate(spark, batch_events):
    """Continuous-aggregate path: 15-min bucket partials computed over the
    STREAM, then re-aggregated (batch) to 1h — equals the 1h rollup computed
    directly from batch raw events."""
    from duckdb_read_spark.operators import bucket_agg, reaggregate, time_bucket

    stream = events_stream(spark, EVENTS)
    fine_stream = (
        stream.groupBy(time_bucket("ts", 900).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("decimal(38,4)").alias("sv"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
    )
    q = (
        fine_stream.writeStream.format("memory")
        .queryName("t_rollup_fine")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    coarse_from_stream = reaggregate(spark.table("t_rollup_fine"), 3600)
    direct = bucket_agg(batch_events, width_seconds=3600)
    assert _rows(coarse_from_stream) == _rows(direct)


def test_sliding_batch_stream_equivalence(spark, batch_events):
    batch = _rows(sliding_counts(batch_events))
    stream = events_stream(spark, EVENTS)
    run_to_memory(sliding_counts(stream), "t_sliding", output_mode="complete")
    got = _rows(spark.table("t_sliding"))
    assert got == batch


def test_sliding_each_event_in_size_over_slide_windows(spark, batch_events):
    """1h/15m: every event contributes to exactly 4 windows."""
    n_events = batch_events.count()
    total = sliding_counts(batch_events).agg(F.sum("n").alias("t")).first()["t"]
    assert total == 4 * n_events


def test_stream_stream_interval_join_equals_batch(spark, batch_events):
    """T7: watermarked stream-stream interval join (purchases matched to
    signups within 1 day) must equal the identical plan in batch mode."""
    from duckdb_read_spark.streaming.windows import stream_stream_interval_join

    def split(df):
        p = df.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", F.col("event_id").alias("p_id"))
        s = df.filter(F.col("event_type") == "signup").select(
            "user_id", F.col("ts").alias("ts_r"), F.col("event_id").alias("s_id"))
        return p, s

    bp, bs = split(batch_events)
    batch = _rows(
        stream_stream_interval_join(bp, bs).select("p_id", "s_id"))
    sp, ss = split(events_stream(spark, EVENTS))
    joined = stream_stream_interval_join(sp, ss)
    run_to_memory(joined.select("p_id", "s_id"), "t_ssjoin", output_mode="append")
    got = _rows(spark.table("t_ssjoin"))
    assert got == batch and batch  # non-empty and identical


def test_stream_static_enrichment_equals_batch(spark, batch_events):
    """Stream-static join (enriching a stream with a dimension table) must
    equal the batch join — the standard streaming enrichment pattern; the
    static side is re-read per micro-batch, no state involved."""
    dims = spark.createDataFrame(
        [("purchase", "rev"), ("signup", "acq"), ("click", "eng")],
        "event_type string, bucket string",
    )
    batch = _rows(
        batch_events.join(dims, "event_type")
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    )
    stream = events_stream(spark, EVENTS)
    enriched = (
        stream.join(dims, "event_type")
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    )
    run_to_memory(enriched, "t_enrich", output_mode="complete")
    assert _rows(spark.table("t_enrich")) == batch


def test_create_stream_sql_statement(spark):
    """CREATE STREAM <name> AS SELECT ... (VERDICT r4 item 5): SQL text
    alone drives a streaming plan — the engine re-binds the FROM table
    (even aliased) to a file stream, drains availableNow into a memory
    sink, and the result equals the batch formulation."""
    import pytest as _pytest

    from duckdb_read_spark.engine import Engine

    eng = Engine(spark=spark)
    eng.register_fixture_dir(SF_SMOKE)
    eng.sql(
        "CREATE STREAM s_cs1 AS "
        "SELECT window.start AS w, e.event_type, COUNT(*) AS n "
        "FROM events e GROUP BY window(e.ts, '1 hour'), e.event_type"
    )
    got = normalize_rows(
        spark.table("s_cs1").orderBy("w", "event_type").collect())
    want = normalize_rows(
        spark.sql(
            "SELECT date_trunc('hour', ts) AS w, event_type, COUNT(*) AS n "
            "FROM events GROUP BY 1, 2 ORDER BY w, event_type").collect())
    assert got == want and len(got) > 0
    # no streamable source → loud error, not a silent batch run
    with _pytest.raises(ValueError, match="no streamable source"):
        eng.sql("CREATE STREAM s_cs2 AS SELECT 1 AS x")


def test_stream_into_versioned_table_exactly_once(spark, tmp_path):
    """Streaming sink (T10): micro-batches land as append commits in the
    snapshot log; a replayed batch id is skipped (exactly-once); the
    result is a normal versioned table (time travel works on batch
    boundaries)."""
    from duckdb_read_spark import snapshots
    from duckdb_read_spark.streaming import events_stream, write_stream_versioned

    src = events_stream(spark, "/root/testdata/sf0.001/events.parquet",
                        max_files_per_trigger=1)
    td = str(tmp_path / "ingest")
    ck = str(tmp_path / "ck")
    write_stream_versioned(src.select("event_id", "ts", "user_id"),
                           td, ck, available_now=True)
    total = spark.read.parquet("/root/testdata/sf0.001/events.parquet").count()
    out = snapshots.read_table(spark, td)
    assert out.count() == total
    commits = snapshots.read_log(td)
    assert all(c.stream_batch_id is not None for c in commits)
    app_expected = __import__("os").path.abspath(ck)
    assert snapshots.last_stream_batch_id(td, app_expected) == \
        commits[-1].stream_batch_id
    assert snapshots.last_stream_batch_id(td) == -1  # no legacy commits

    # the sink's guard skips an already-committed batch id (the
    # foreachBatch replay after checkpoint-recovery scenario) — keyed by
    # this stream's app identity (its checkpoint dir)
    import os

    from duckdb_read_spark.streaming.sink import commit_stream_batch

    app = os.path.abspath(ck)
    assert all(c.stream_app_id == app for c in commits)
    replay = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select("event_id", "ts", "user_id").limit(5)
    assert commit_stream_batch(
        replay, commits[-1].stream_batch_id, td, app) is False
    assert len(snapshots.read_log(td)) == len(commits)
    assert snapshots.read_table(spark, td).count() == total

    # a DIFFERENT stream (fresh checkpoint → batch ids restart at 0) into
    # the same table is NOT shadowed by the first stream's watermark
    src_b = events_stream(spark, "/root/testdata/sf0.001/events.parquet",
                          max_files_per_trigger=1)
    write_stream_versioned(src_b.select("event_id", "ts", "user_id"),
                           td, str(tmp_path / "ck_b"), available_now=True)
    assert snapshots.read_table(spark, td).count() == 2 * total

    # a fresh stream over the same checkpoint ingests nothing new
    src2 = events_stream(spark, "/root/testdata/sf0.001/events.parquet",
                         max_files_per_trigger=1)
    write_stream_versioned(src2.select("event_id", "ts", "user_id"),
                           td, ck, available_now=True)
    assert snapshots.read_table(spark, td).count() == 2 * total


def test_read_stream_table_incremental_and_refusals(spark, tmp_path):
    """T11 streaming SOURCE: a versioned table streams its appends
    exactly once across availableNow runs sharing a checkpoint; an
    overwrite (DML) history refuses."""
    import pytest as _pytest

    from duckdb_read_spark.engine import Engine

    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    eng.execute("CREATE TABLE src AS SELECT 1 AS k UNION ALL SELECT 2;"
                "INSERT INTO src VALUES (3);")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        q = (eng.read_stream("src").writeStream
             .format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return sorted(r.k for r in spark.read.parquet(out).collect())

    assert drain() == [1, 2, 3]
    eng.execute("INSERT INTO src VALUES (4), (5);")
    # same checkpoint → the second drain appends ONLY the new batch
    # (exactly-once: 1,2,3 are not re-emitted)
    assert drain() == [1, 2, 3, 4, 5]
    # batch == stream totality
    assert sorted(r.k for r in eng.table("src").collect()) == \
        [1, 2, 3, 4, 5]
    # an overwrite history refuses
    eng.execute("DELETE FROM src WHERE k = 1;")
    with _pytest.raises(ValueError, match="overwrite"):
        eng.read_stream("src")


def test_read_stream_table_refuses_orphan_dirs(spark, tmp_path):
    """Review r6: an uncommitted data dir (writer crash / lost commit
    race) holds rows the table never contained — batch reads skip it via
    the log manifest, so the file stream must refuse rather than emit."""
    import os

    import pytest as _pytest

    from duckdb_read_spark.engine import Engine

    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    eng.execute("CREATE TABLE osrc AS SELECT 1 AS k;")
    d = eng._versioned["osrc"]
    orphan = os.path.join(d, "data", "v99-deadbeef")
    spark.range(5).write.parquet(orphan)
    with _pytest.raises(ValueError, match="orphan"):
        eng.read_stream("osrc")
    # vacuum reclaims the orphan; the stream then starts
    from duckdb_read_spark import snapshots
    snapshots.vacuum(d, keep_last=1)
    eng._refresh_table("osrc")
    assert eng.read_stream("osrc").isStreaming


def test_schema_memo_keeps_one_entry_per_overwritten_file(spark, tmp_path):
    """Overwriting a stream source file re-infers its schema and replaces
    the session store's entry for that path rather than adding one per
    version."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_read_spark import catalog
    from duckdb_read_spark.streaming import source

    path = str(tmp_path / "src.parquet")
    real = os.path.realpath(path)
    store = catalog.session_state(spark).schemas
    n_before = len(store)
    for cols in (["a"], ["a", "b"], ["a", "b", "c"]):
        pq.write_table(pa.table({c: [1, 2] for c in cols}), path)
        assert source.events_stream(spark, path).columns == cols
        assert store[real].schema.fieldNames() == cols
    st = os.stat(real)
    assert len(store) == n_before + 1
    assert store[real].key[:3] == (st.st_ino, st.st_mtime_ns, st.st_size)
