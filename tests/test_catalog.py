"""The per-session parquet schema store (catalog.read_parquet) and the one
ns→µs timestamp shim rule.

Schema-less parquet reads of an unchanged single file infer its schema
once per session; a rewritten file, a changed schema-affecting conf or a
new session infer again, and directories infer on every read. Spark jobs
are counted per job group on the calling thread, as in
tests/test_file_level_dml.py.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_read_spark import catalog
from duckdb_read_spark.engine import Engine
from duckdb_read_spark.streaming.source import events_stream
from duckdb_read_spark.streaming.windows import run_to_memory


def _jobs(spark, fn):
    """Run ``fn()`` in its own Spark job group; return (its result, the
    number of Spark jobs it ran on the calling thread)."""
    sc = spark.sparkContext
    group = f"catalog-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog store test")
    try:
        out = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_unchanged_file_infers_once(spark, tmp_path):
    pq.write_table(pa.table({"a": [1, 2, 3]}), str(tmp_path / "t.parquet"))
    state = catalog.session_state(spark)
    df1, jobs1 = _jobs(spark, lambda: catalog.load_table(spark, str(tmp_path), "t"))
    hits = state.hits
    df2, jobs2 = _jobs(spark, lambda: catalog.load_table(spark, str(tmp_path), "t"))
    assert (jobs1, jobs2) == (1, 0)
    assert state.hits == hits + 1
    assert df1.schema == df2.schema
    assert sorted(r.a for r in df2.collect()) == [1, 2, 3]


def test_rewritten_file_reinfers_and_replaces_its_entry(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    store = catalog.session_state(spark).schemas
    n_before = len(store)
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert catalog.load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df, jobs = _jobs(spark, lambda: catalog.load_table(spark, str(tmp_path), "t"))
    assert jobs == 1
    assert df.columns == ["a", "b"]
    assert sorted(map(tuple, df.collect())) == [(1, "x"), (2, "y")]
    assert len(store) == n_before + 1
    assert store[os.path.realpath(path)].schema.fieldNames() == ["a", "b"]


def test_schema_conf_change_reinfers(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), path)
    conf = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(conf)
    try:
        for flag, kind in (("false", "binary"), ("true", "string"),
                           ("false", "binary")):
            spark.conf.set(conf, flag)
            df, jobs = _jobs(spark, lambda: catalog.read_parquet(spark, path))
            assert jobs == 1
            assert df.schema["b"].dataType.simpleString() == kind
    finally:
        spark.conf.set(conf, old)


def test_directory_is_inferred_on_every_read(spark, tmp_path):
    d = tmp_path / "ds"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "p1.parquet"))
    assert [r.a for r in catalog.read_parquet(spark, str(d)).collect()] == [1]
    pq.write_table(pa.table({"a": [2]}), str(d / "p2.parquet"))
    got = sorted(r.a for r in catalog.read_parquet(spark, str(d)).collect())
    assert got == [1, 2]
    assert os.path.realpath(str(d)) not in catalog.session_state(spark).schemas


def test_new_session_starts_with_empty_state(spark, tmp_path):
    pq.write_table(pa.table({"a": [1]}), str(tmp_path / "t.parquet"))
    catalog.load_table(spark, str(tmp_path), "t")
    fresh = spark.newSession()
    state = catalog.session_state(fresh)
    assert (state.schemas, state.hits, state.misses, state.registered) \
        == ({}, 0, 0, None)
    _, jobs = _jobs(fresh, lambda: catalog.load_table(fresh, str(tmp_path), "t"))
    assert jobs == 1


def test_register_tables_is_per_session(spark, tmp_path):
    """A new session registers its own views even when another session
    already registered the same directory."""
    pq.write_table(pa.table({"r_regionkey": [7]}), str(tmp_path / "region.parquet"))
    catalog.register_tables(spark, str(tmp_path), force=True)
    fresh = spark.newSession()
    catalog.register_tables(fresh, str(tmp_path))
    assert [r[0] for r in fresh.table("region").collect()] == [7]
    assert catalog.session_state(fresh).registered == os.path.abspath(str(tmp_path))


def test_engine_read_parquet_reuses_the_store(spark, tmp_path):
    path = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"k": [1, 2, 3]}), path)
    eng = Engine(spark=spark)
    stmt = f"SELECT sum(k) AS s FROM read_parquet('{path}')"
    first, jobs1 = _jobs(spark, lambda: eng.sql(stmt))
    second, jobs2 = _jobs(spark, lambda: eng.sql(stmt))
    assert (jobs1, jobs2) == (1, 0)
    assert first.first()["s"] == second.first()["s"] == 6


def test_concurrent_reads_count_every_lookup(spark, tmp_path):
    """Threads sharing one session lose no counter update and leave one
    entry per path."""
    import sys
    import threading

    paths = []
    for i in range(3):
        paths.append(str(tmp_path / f"c{i}.parquet"))
        pq.write_table(pa.table({"a": [i]}), paths[-1])
    state = catalog.session_state(spark)
    before = state.hits + state.misses
    n_threads, per_thread = 8, 6
    errors: list[BaseException] = []

    def work():
        try:
            for j in range(per_thread):
                catalog.parquet_schema(spark, paths[j % len(paths)])
        except BaseException as e:  # noqa: BLE001 - reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not errors and not any(t.is_alive() for t in threads)
    assert state.hits + state.misses - before == n_threads * per_thread
    assert all(state.schemas[os.path.realpath(p)].schema.fieldNames() == ["a"]
               for p in paths)


# --- the one ns→µs shim rule: the parquet footer says timestamp[ns] ------

_NS = [1_700_000_000_123_456_789, -1_999, 0, None]


@pytest.fixture
def ns_file(tmp_path):
    path = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({
        "id": [1, 2, 3, 4],
        # a ns timestamp under a name the old name-based rules did not know
        "seen": pa.array(_NS, pa.timestamp("ns")),
        "n": pa.array([5, 6, 7, 8], pa.int64()),
    }), path)
    return path


def test_ns_timestamps_read_alike_on_every_path(spark, tmp_path, ns_file):
    import duckdb

    want = duckdb.sql(
        f"SELECT id, CAST(seen AS TIMESTAMP) AS seen, n "
        f"FROM read_parquet('{ns_file}') ORDER BY id").fetchall()
    eng = Engine(spark=spark)
    eng.register_parquet("ns_reg", ns_file)  # the store miss; the rest hit

    def rows(df):
        assert df.schema["seen"].dataType.simpleString() == "timestamp"
        assert df.schema["n"].dataType.simpleString() == "bigint"
        return sorted((tuple(r) for r in df.select("id", "seen", "n").collect()),
                      key=lambda t: t[0])

    sd, name = os.path.split(ns_file)
    for _ in range(2):
        assert rows(catalog.load_table(spark, sd, name[:-len(".parquet")])) == want
        assert rows(eng.table("ns_reg")) == want
        assert rows(eng.sql(f"SELECT * FROM read_parquet('{ns_file}')")) == want
    sink = f"ns_stream_{uuid.uuid4().hex[:8]}"
    run_to_memory(events_stream(spark, ns_file), sink)
    try:
        assert rows(spark.table(sink)) == want
    finally:
        spark.catalog.dropTempView(sink)
