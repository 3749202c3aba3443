"""Table registration — names → relations in the session catalog.

Mirrors the reference binder's name resolution step (the binder resolves
table names/types at bind time, /root/reference/duckdb:34-37): we register
each parquet file as a temp view once, and every query thereafter resolves
against the catalog.

Every schema-less parquet read of a path goes through ``read_parquet``,
which keeps one per-session schema store. Spark infers a parquet schema
with a job that reads the footer; for a single file whose identity
(inode, mtime, size) and schema-affecting confs are unchanged, the store
hands the inferred schema back and the read skips that job. The store
holds metadata only, never rows, and at most one entry per path: a
rewritten file, or a changed conf, replaces that path's entry.
Directories and globs are never stored — a directory's stat does not
change when a file inside it is rewritten in place — and are inferred on
every read.

The one shim is for ns timestamps (SURVEY §2.4.4): a parquet INT64
TIMESTAMP(NANOS) column, which vanilla Spark refuses to read. With
``spark.sql.legacy.parquet.nanosAsLong`` the column arrives as LongType
nanoseconds and we rebuild a microsecond TIMESTAMP in the view itself, so
every downstream query sees a normal timestamp column. Which columns are
ns timestamps is read from the parquet footer (pyarrow), once per stored
file identity. DuckDB reads the same column natively as TIMESTAMP_NS and
truncates to µs via CAST(ts AS TIMESTAMP) — the two agree exactly.
"""

from __future__ import annotations

import glob
import os
import threading
import weakref
from typing import NamedTuple

# Imported with the package, on the importing thread: a first import
# inside local_frame could run on any thread that builds a frame, and two
# threads first-importing the same modules can each be handed the other's
# half-initialized module.
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .conf import TABLES, apply_runtime_confs

# Session confs that change the schema Spark infers from a parquet footer
# (the arguments of Spark 4.1's ParquetToSparkSchemaConverter).
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
)

# Paths held per session; the oldest entry goes first past this.
_MAX_ENTRIES = 4096


class SchemaEntry(NamedTuple):
    """One file's inferred schema. ``key`` is (st_ino, st_mtime_ns,
    st_size, conf fingerprint), or None for an unstored directory/glob;
    ``ns_columns`` are the footer's INT64 TIMESTAMP(NANOS) columns."""

    key: tuple | None
    schema: StructType
    ns_columns: tuple[str, ...]


class SessionState:
    """Everything the library memoizes per session: the parquet schema
    store (realpath → SchemaEntry) with its hit/miss counters, the
    fixture directory ``register_tables`` last registered, the session
    UDFs ``udfs.register_fuzzy_udfs`` registered, the full-text score
    views by indexed file (``Engine`` match_bm25), and the cached inputs
    of the last recursive query (``plans.recursive``)."""

    def __init__(self) -> None:
        self.schemas: dict[str, SchemaEntry] = {}
        self.hits = 0
        self.misses = 0
        self.registered: str | None = None
        self.udfs: dict | None = None
        self.fts_views: dict[tuple, str] = {}
        self.recursive_inputs: list = []


# Keyed weakly on the Python session object: a collected session takes
# its state with it, and a new session — even one reusing the old one's
# id() — starts empty.
_SESSIONS: "weakref.WeakKeyDictionary[SparkSession, SessionState]" = \
    weakref.WeakKeyDictionary()
# Guards _SESSIONS and every SessionState: one session may be used from
# several threads.
_LOCK = threading.Lock()


def session_state(spark: SparkSession) -> SessionState:
    with _LOCK:
        state = _SESSIONS.get(spark)
        if state is None:
            state = _SESSIONS[spark] = SessionState()
    return state


def _footer_ns_columns(path: str) -> tuple[str, ...]:
    """Top-level INT64 TIMESTAMP(NANOS) columns of the parquet footer of
    ``path`` (a file, a Spark dataset directory, or a glob)."""
    try:
        import pyarrow.parquet as pq

        target = (sorted(glob.glob(path)) or [path])[0]
        if os.path.isdir(target):
            # Spark-written dataset directory: read the footer of any part
            # file (all parts share one schema)
            parts = sorted(glob.glob(os.path.join(target, "*.parquet")))
            if not parts:
                return ()
            target = parts[0]
        arrow_schema = pq.read_schema(target)
    except Exception:
        return ()
    return tuple(f.name for f in arrow_schema if str(f.type) == "timestamp[ns]")


def _resolve(spark: SparkSession, path: str) -> tuple[SchemaEntry, DataFrame | None]:
    """The store lookup behind ``read_parquet``/``parquet_schema``: the
    entry for ``path``, plus the DataFrame whose creation inferred it (None
    on a store hit, where no inference ran)."""
    real = os.path.realpath(path)
    key = None
    if os.path.isfile(real):
        # The key is taken before inference: a file rewritten in between
        # leaves a stale key, which the next read re-infers.
        st = os.stat(real)
        key = (st.st_ino, st.st_mtime_ns, st.st_size,
               tuple(spark.conf.get(c) for c in _SCHEMA_CONFS))
        state = session_state(spark)
        with _LOCK:
            entry = state.schemas.get(real)
            if entry is not None and entry.key == key:
                state.hits += 1
                return entry, None
            state.misses += 1
    df = spark.read.parquet(path)  # Spark's footer-inference job
    entry = SchemaEntry(key, df.schema, _footer_ns_columns(path))
    if key is not None:
        with _LOCK:
            state.schemas.pop(real, None)
            if len(state.schemas) >= _MAX_ENTRIES:
                del state.schemas[next(iter(state.schemas))]
            state.schemas[real] = entry
    return entry, df


def parquet_schema(spark: SparkSession, path: str) -> SchemaEntry:
    """The raw (unshimmed) inferred schema of ``path`` and its ns-timestamp
    columns, from the session store when the file is unchanged."""
    return _resolve(spark, path)[0]


def shim_ns_timestamps(df: DataFrame, ns_columns: tuple[str, ...]) -> DataFrame:
    """Rebuild µs timestamps from the LongType nanoseconds that
    ``nanosAsLong`` reads ``ns_columns`` as."""
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for col in ns_columns:
        if types.get(col) == "bigint":
            # ns → µs: DIV truncation matches DuckDB's CAST(ts AS TIMESTAMP).
            df = df.withColumn(col, F.expr(f"timestamp_micros(`{col}` DIV 1000)"))
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """The one schema-less parquet reader: ``spark.read.parquet(path)``
    with the ns-timestamp shim, skipping schema inference when the session
    store already holds this unchanged file."""
    entry, df = _resolve(spark, path)
    if df is None:
        df = spark.read.schema(entry.schema).parquet(path)
    return shim_ns_timestamps(df, entry.ns_columns)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame, with schema shims applied."""
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def local_frame(spark: SparkSession, rows: list[tuple],
                schema: StructType | str) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order; a StructType or a DDL
    string) as a DataFrame over a JVM LocalRelation. Fed a Python list,
    ``createDataFrame`` scans a PythonRDD, so every read of the frame
    starts a Spark job whose tasks pass through Python workers; a
    LocalRelation is collected on the driver without a job. Values first
    go through their field type's ``toInternal``, as on the list path, so
    dates and timestamps convert exactly as they did there."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array([f.dataType.toInternal(v) for v in col]
                  if f.dataType.needConversion() else col, type=a.type)
         for col, f, a in zip(columns, schema.fields, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema=schema)


def register_tables(spark: SparkSession, sf_dir: str, force: bool = False) -> None:
    """Register every fixture table in ``sf_dir`` as a temp view.

    Idempotent per (session, dir); ``force=True`` re-registers (used when
    switching scale factors inside one session).
    """
    state = session_state(spark)
    sf_dir = os.path.abspath(sf_dir)
    if not force and state.registered == sf_dir:
        return
    apply_runtime_confs(spark)
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    state.registered = sf_dir
