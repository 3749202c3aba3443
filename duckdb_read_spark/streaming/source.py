"""Streaming sources: replay the events parquet as a file stream.

A parquet file stream needs an explicit schema (streaming readers never
infer); it comes from the session's parquet schema store
(catalog.parquet_schema), and the same footer-driven ns→µs shim used for
batch reads (catalog.shim_ns_timestamps) is applied on the streaming
DataFrame, so batch and stream pipelines see the identical schema. That
batch/stream schema equality is what makes the equivalence tests
(tests/test_streaming.py) meaningful.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .. import catalog
from ..conf import apply_runtime_confs


def events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` over an events parquet file/directory.

    ``path`` may be a single file, a directory, or a glob. INT64
    TIMESTAMP(NANOS) columns arrive as LongType nanoseconds (nanosAsLong)
    and are rebuilt as µs timestamps.
    """
    apply_runtime_confs(spark)
    # Streaming sources need the schema up front; take it from the
    # session's parquet schema store (inferred once per file identity).
    entry = catalog.parquet_schema(spark, path)
    reader = spark.readStream.schema(entry.schema)
    if os.path.isfile(path):
        # FileStreamSource requires a directory (its basePath must be one);
        # expose a single file through a symlink in a scratch directory.
        path = _file_as_dir(path)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return catalog.shim_ns_timestamps(reader.parquet(path), entry.ns_columns)


def fixture_events_stream(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
    return events_stream(spark, os.path.join(sf_dir, "events.parquet"), **kw)


_FILE_DIRS: dict[str, str] = {}


def _file_as_dir(path: str) -> str:
    """Scratch directory containing a symlink to ``path`` (cached per file)."""
    import tempfile

    real = os.path.realpath(path)
    if real not in _FILE_DIRS:
        d = tempfile.mkdtemp(prefix="events_stream_")
        os.symlink(real, os.path.join(d, os.path.basename(real)))
        _FILE_DIRS[real] = d
    return _FILE_DIRS[real]


def read_stream_table(spark: SparkSession, table_dir: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming reads FROM a versioned table — the other half of the
    lakehouse loop (T10 streams in; this streams out): a file stream over
    the table's append history, so a versioned table doubles as a durable
    message log (the Delta streaming-source idea, public protocol).

    Contract (same one Delta enforces): the history must be APPEND-ONLY
    past its first commit — an overwrite (UPDATE/DELETE/MERGE/RESTORE)
    changes rows a past micro-batch already emitted, which a file stream
    cannot retract, so non-append histories refuse loudly; the change
    feed (snapshots.table_changes) is the incremental surface for
    DML-capable tables. Tables with ALTER-ledger schema patches also
    refuse (a file stream pins one schema). Orphan data dirs (a writer
    crash between the data write and the O_EXCL commit, or a lost commit
    race) hold rows the table never contained; batch reads replay the
    log manifest and skip them, but a raw file stream would emit them —
    so their presence refuses at start (VACUUM reclaims them).

    CAVEAT (checked at start, unenforceable mid-stream): DML committed
    WHILE the stream runs writes an overwrite dir the running file
    stream will pick up as if it were an append — the operator must not
    run DML against a table being streamed. Delta fails such a stream at
    runtime; a plain file source has no hook to.

    Scale: each micro-batch lists only NEW files under data/ (driver-side
    listing bounded by file count; ``max_files_per_trigger`` bounds batch
    size) and the checkpoint tracks consumed files for exactly-once — no
    extra shuffle beyond the reader query's own plan.
    """
    from .. import snapshots

    commits = snapshots.read_log(table_dir)
    if not commits:
        raise FileNotFoundError(f"no versioned table at {table_dir!r}")
    for c in commits[1:]:
        if c.mode != "append":
            raise ValueError(
                f"read_stream_table: version {c.version} is an overwrite "
                f"— a file stream cannot retract rows a previous batch "
                f"already emitted; stream only append-only tables, or "
                f"consume table_changes() for DML-capable ones")
    if snapshots.read_schema_patches(table_dir):
        raise ValueError(
            "read_stream_table: table carries ALTER-ledger schema "
            "patches; a file stream pins one schema — start the stream "
            "from a materialized (patch-applied) copy instead")
    data_root = os.path.join(table_dir, "data")
    committed: set[str] = set()
    for c in commits:
        batch = ([e["path"] for e in c.files] if c.files is not None
                 else list(c.dirs))
        for p in batch:
            rel = os.path.relpath(
                os.path.abspath(os.path.join(table_dir, p)),
                os.path.abspath(data_root))
            if not rel.startswith(".."):
                committed.add(rel.split(os.sep)[0])
    if os.path.isdir(data_root):
        orphans = sorted(d for d in os.listdir(data_root)
                         if d not in committed)
        if orphans:
            raise ValueError(
                f"read_stream_table: uncommitted/orphaned data dirs "
                f"{orphans[:3]} under {data_root!r} — a file stream "
                f"would emit rows the table never contained; run VACUUM "
                f"to reclaim them first")
    schema = snapshots.read_table(spark, table_dir).schema
    reader = (spark.readStream
              .schema(schema)
              .option("recursiveFileLookup", "true"))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    return reader.parquet(os.path.join(table_dir, "data"))
