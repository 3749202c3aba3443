"""Versioned tables: a minimal metadata-log table format with time travel.

The reference's metadata notes are entirely about open table formats and
data-lake metadata management (/root/reference/metadata:1-17 — Iceberg /
Delta / Hudi studies): the core idea those formats share is that the LOG of
small metadata files, not the directory listing, is the source of truth —
a snapshot is the file list a log replay yields, so readers get atomic
commits, schema evolution, and time travel without touching the data files.

This module is that idea in miniature, Spark-first and dependency-free
(no delta-spark jars in this environment):

* layout::

      <table_dir>/
        _log/00000001.json  00000002.json ...   (one entry per commit)
        data/v1-<uuid>/part-*.parquet           (normal Spark parquet writes)
        deletion_vector_<uuid>.bin              (rows DML deleted from a file)

* each log entry: ``{"version", "timestamp_ms", "mode": "overwrite"|
  "append", "dirs": [relative data dirs]}``. A snapshot at version N =
  the dirs of the latest overwrite ≤ N plus every append after it.
* commits are atomic: the entry is written with O_EXCL create — two
  concurrent writers race on the version file name and exactly one wins
  (the Delta commit protocol, minus the retry loop).
* reads list ONLY the dirs the chosen snapshot names — stale data files
  from overwritten versions stay on disk for older snapshots (vacuum is a
  policy decision, not implemented).

Row-level DML is merge-on-read: DELETE, UPDATE and MERGE mark the rows
that leave with a Delta-format deletion vector per hit file (positions
by ``_metadata.row_index``) and write only the rows that arrive; every
read applies the vectors (``read_files``).

Scale shape: data writes are ordinary distributed ``df.write.parquet``;
the log entry is one small driver-side JSON (same asymmetry as
Delta/Iceberg — metadata ops are O(commits), not O(data)). Reads hand
Spark an explicit file-dir list, so partition pruning / pushdown inside
each dir work exactly as for any parquet scan.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from . import sqltext

_LOG_DIR = "_log"
_DATA_DIR = "data"
_CDC_DIR = "_change_data"


@dataclass(frozen=True)
class Commit:
    version: int
    timestamp_ms: int
    mode: str            # "overwrite" | "append"
    dirs: tuple[str, ...]  # data dirs relative to table_dir
    # file-level manifest (Iceberg-manifest analog): each entry is
    # {"path": rel file path, "rows": int|None, "stats": {col: [min, max]},
    # "dv"?: Delta deletionVector descriptor of the rows deleted from the
    # file}; ``rows`` is the file's physical count. None → dir-granular
    # commit (pre-file-level, or plain writes).
    files: tuple[dict, ...] | None = None
    # streaming-sink idempotence (the Delta txn-action idea): the
    # micro-batch id that produced this commit and the app/checkpoint
    # identity it belongs to, None for batch commits. The watermark is
    # PER APP — two different streams (fresh checkpoints restart batch
    # ids at 0) into one table must not shadow each other.
    stream_batch_id: int | None = None
    stream_app_id: str | None = None
    # change-data-feed sidecar (the Delta ``_change_data`` idea): rel dir
    # of parquet holding this commit's row-level changes with a
    # ``_change_type`` column, written at DML time. None → no sidecar
    # (derivable commits: appends, full overwrites; or pre-CDC history).
    cdc: str | None = None
    # False for row-preserving rewrites (OPTIMIZE/compaction/clustering):
    # table content is unchanged, so table_changes emits nothing for them
    # (the Delta ``dataChange=false`` flag).
    data_change: bool = True
    # the snapshot's PHYSICAL schema (its data files' columns, before the
    # ALTER ledger) as Spark JSON with every field nullable — what a
    # mergeSchema footer scan would infer, recorded so reads skip that
    # Spark job. None → unknown (older logs, or the files disagree).
    schema: str | None = None


def _log_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, _LOG_DIR, f"{version:08d}.json")


def read_log(table_dir: str) -> list[Commit]:
    """All commits in version order; [] for a non-table directory."""
    log_dir = os.path.join(table_dir, _LOG_DIR)
    if not os.path.isdir(log_dir):
        return []
    commits = []
    for fname in sorted(os.listdir(log_dir)):
        # commit files only (8-digit version names) — sidecars like
        # _stream_watermarks.json live in the same dir
        if not re.fullmatch(r"\d{8}\.json", fname):
            continue
        with open(os.path.join(log_dir, fname)) as f:
            d = json.load(f)
        files = tuple(d["files"]) if d.get("files") is not None else None
        commits.append(Commit(d["version"], d["timestamp_ms"], d["mode"],
                              tuple(d["dirs"]), files,
                              d.get("stream_batch_id"),
                              d.get("stream_app_id"),
                              d.get("cdc"),
                              d.get("data_change", True),
                              d.get("schema")))
    return commits


class Manifest(list):
    """A snapshot's file entries (a plain list) plus its physical schema
    (``Commit.schema`` of the snapshot's version), from one log replay."""

    schema: str | None = None


def _physical_schema(schema: StructType) -> str:
    """``schema`` as stored in the log: Spark JSON with every field,
    array element and map value nullable, as Spark reads parquet back."""
    def nullable(t):
        if not isinstance(t, dict):
            return t
        t = dict(t)
        if t["type"] == "struct":
            t["fields"] = [dict(f, nullable=True, type=nullable(f["type"]))
                           for f in t["fields"]]
        elif t["type"] == "array":
            t.update(elementType=nullable(t["elementType"]),
                     containsNull=True)
        elif t["type"] == "map":
            t.update(keyType=nullable(t["keyType"]),
                     valueType=nullable(t["valueType"]),
                     valueContainsNull=True)
        return t

    return json.dumps(nullable(json.loads(schema.json())))


def _columns(schema: str) -> list[tuple]:
    """The ordered (name, type) list of a stored schema."""
    return [(f["name"], f["type"]) for f in json.loads(schema)["fields"]]


def read_files(spark: SparkSession, table_dir: str, entries: list[dict],
               schema: str | None, row_ids: bool = False) -> DataFrame:
    """Read manifest ``entries`` (paths relative to ``table_dir``, or
    absolute) with their deletion vectors applied — the one reader of
    snapshot data. With the log's recorded physical schema Spark reads no
    footers up front; without one it falls back to a ``mergeSchema``
    footer scan (one Spark job), which also reconciles files that
    disagree (additive appends, post-RENAME generations). ``row_ids``
    keeps ``deltalog.ROW_ID_COLS``, each row's (file, row index), as two
    trailing columns."""
    from . import catalog, deltalog

    if not entries:
        # every file of the snapshot was deleted
        return catalog.local_frame(
            spark, [], StructType.fromJson(json.loads(schema)))
    reader = (spark.read.option("mergeSchema", "true") if schema is None
              else spark.read.schema(StructType.fromJson(json.loads(schema))))
    df = reader.parquet(*[os.path.join(table_dir, e["path"]) for e in entries])
    dvs = {e["path"]: e["dv"] for e in entries if e.get("dv")}
    if not (dvs or row_ids):
        return df
    return deltalog.mask_rows(spark, df, table_dir, dvs, row_ids)


def mark_deleted(table_dir: str, entries: list[dict],
                 positions: dict[str, "list[int]"]) -> list[dict]:
    """``entries`` with the row indexes in ``positions`` ({path: [row
    index]}) marked deleted: each hit file gets a deletion-vector file
    (the union with the vector it already has), a file whose every row
    is marked leaves the manifest, the rest are unchanged. No data file
    is read or written."""
    from . import deltalog

    out = []
    for e in entries:
        pos = set(positions.get(e["path"]) or ())
        if not pos:
            out.append(e)
            continue
        if e.get("dv"):
            pos.update(deltalog.dv_positions(table_dir, e["dv"]))
        if e.get("rows") is not None and len(pos) >= e["rows"]:
            continue
        out.append(dict(e, dv=deltalog.write_dv(table_dir, sorted(pos))))
    return out


def _json_stat(v):
    """A parquet footer statistic as a JSON-storable, order-preserving
    value — ISO strings for temporal types order lexicographically."""
    import datetime
    import decimal

    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, datetime.datetime):
        # sep=' ' so the stored string orders lexicographically against
        # SQL timestamp literals ('2024-01-01 05:00:00'); isoformat()'s
        # default 'T' separator sorts AFTER ' ', which made same-day
        # comparisons wrongly infeasible in prune_by_stats.
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    return None


def file_entry(table_dir: str, rel_path: str) -> dict:
    """One data file → manifest entry with per-column min/max from the
    parquet footer (driver-side footer read — the same metadata a format
    manifest stores; O(1) per file, never touches row data)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(os.path.join(table_dir, rel_path)).metadata
    stats: dict[str, list] = {}
    ok: dict[str, bool] = {}
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for i in range(rg.num_columns):
            col = rg.column(i)
            name = col.path_in_schema
            if "." in name:          # nested — no scalar stats
                continue
            s = col.statistics
            if s is None or not s.has_min_max:
                ok[name] = False
                continue
            try:
                lo, hi = _json_stat(s.min), _json_stat(s.max)
            except NotImplementedError:
                # pyarrow cannot decode stats for some physical types
                # (e.g. DECIMAL backed by FIXED_LEN_BYTE_ARRAY) — the
                # column just loses pruning, the commit must not fail
                ok[name] = False
                continue
            if lo is None or hi is None:
                ok[name] = False
                continue
            if name not in stats:
                stats[name] = [lo, hi]
                ok.setdefault(name, True)
            else:
                cur = stats[name]
                try:
                    cur[0] = min(cur[0], lo)
                    cur[1] = max(cur[1], hi)
                except TypeError:
                    ok[name] = False
    return {
        "path": rel_path,
        "rows": md.num_rows,
        "stats": {k: v for k, v in stats.items() if ok.get(k, True)},
    }


def _dir_file_entries(table_dir: str, rel_dir: str) -> list[dict]:
    """Expand a dir-granular commit dir into per-file manifest entries."""
    full = os.path.join(table_dir, rel_dir)
    out = []
    for root, _dirs, fnames in os.walk(full):
        for fname in sorted(fnames):
            if not fname.endswith(".parquet"):
                continue
            rel = os.path.relpath(os.path.join(root, fname), table_dir)
            out.append(file_entry(table_dir, rel))
    return out


def snapshot_file_entries(
    table_dir: str, version: int | None = None
) -> Manifest:
    """The file-level manifest of a snapshot: replayed from the log when
    commits carry file lists, expanded from dirs (footer reads) otherwise.
    Paths are relative to ``table_dir``; ``.schema`` is the snapshot's
    physical schema (None if unknown)."""
    commits = read_log(table_dir)
    if not commits:
        raise FileNotFoundError(f"no versioned table at {table_dir!r}")
    if version is None:
        version = commits[-1].version
    chain = [c for c in commits if c.version <= version]
    entries = Manifest()
    for c in chain:
        batch = (list(c.files) if c.files is not None
                 else [e for d in c.dirs for e in _dir_file_entries(table_dir, d)])
        if c.mode == "overwrite":
            entries[:] = batch
        else:
            entries.extend(batch)
    entries.schema = chain[-1].schema if chain else None
    return entries


def write_table(
    df: DataFrame | None,
    table_dir: str,
    mode: str = "overwrite",
    timestamp_ms: int | None = None,
    carry_files: list[dict] | None = None,
    stream_batch_id: int | None = None,
    stream_app_id: str | None = None,
    cdc_df: DataFrame | None = None,
    data_change: bool = True,
) -> Commit:
    """Commit ``df`` as the next version of the table at ``table_dir``.

    ``mode='append'`` adds files to the current snapshot; ``'overwrite'``
    starts a fresh one. ``carry_files`` (file-level DML): manifest entries
    from the previous snapshot carried into this one BY REFERENCE — the
    commit then records an explicit file list (carried + newly written,
    with footer min/max stats), so an UPDATE that touches one file writes
    one file, not the table; carried entries may carry new deletion
    vectors (``mark_deleted``). ``df=None`` writes no data file: the
    commit only carries ``carry_files`` (a DELETE marks its rows that
    way). ``cdc_df`` (change data feed): the commit's
    row-level changes — data columns plus ``_change_type`` — written as a
    ``_change_data/`` sidecar read back by ``table_changes()``; its plan
    is evaluated HERE, before the caller repoints any views, so it must
    read the pre-commit snapshot. ``data_change=False`` marks
    row-preserving rewrites (compaction/clustering). Returns the
    committed entry.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    os.makedirs(os.path.join(table_dir, _LOG_DIR), exist_ok=True)
    if df is None and carry_files is None:
        raise ValueError("a commit without data must carry files")
    commits = read_log(table_dir)
    version = (commits[-1].version + 1) if commits else 1
    rel = os.path.join(_DATA_DIR, f"v{version}-{uuid.uuid4().hex[:8]}")
    cdc_rel = None
    cdc_err: list[BaseException] = []
    cdc_thread = None
    if cdc_df is not None:
        if "_change_type" not in cdc_df.columns:
            raise ValueError("cdc_df must carry a _change_type column")
        cdc_rel = os.path.join(_CDC_DIR, f"v{version}-{uuid.uuid4().hex[:8]}")

        # The CDC sidecar and the data rewrite are independent jobs over
        # the same (cached) source — run them CONCURRENTLY so the commit
        # pays max(write, write) wall-clock instead of the sum (r13,
        # guide §1.2; Spark job submission is thread-safe). Both are
        # still written BEFORE the commit file: a failure on either side
        # leaves only an orphan dir no commit references — harmless,
        # vacuumable (same guarantee the sequential order gave).
        def _write_cdc() -> None:
            try:
                cdc_df.write.mode("overwrite").parquet(
                    os.path.join(table_dir, cdc_rel))
            except BaseException as exc:  # re-raised on the caller thread
                cdc_err.append(exc)

        import threading

        cdc_thread = threading.Thread(target=_write_cdc, daemon=True)
        cdc_thread.start()
    try:
        if df is not None:
            df.write.mode("overwrite").parquet(os.path.join(table_dir, rel))
    finally:
        # join on the failure path too: an un-joined sidecar job racing
        # past the caller's cleanup (view repoint, cache unpersist) would
        # waste work and interleave with the next commit's jobs
        if cdc_thread is not None:
            cdc_thread.join()
    if cdc_thread is not None and cdc_err:
        raise cdc_err[0]
    new_entries = [] if df is None else _dir_file_entries(table_dir, rel)
    files = None
    if carry_files is not None:
        files = tuple(list(carry_files) + new_entries)
    # the new snapshot's physical schema: df's own when df is all of it;
    # when it joins earlier files, the previous snapshot's — only if df
    # matches it column for column, else the files disagree (unknown)
    prev = commits[-1].schema if commits else None
    if df is None:
        schema = prev
    else:
        schema = _physical_schema(df.schema)
        if (mode == "append" or carry_files) and commits:
            schema = (prev if prev is not None
                      and _columns(prev) == _columns(schema) else None)
    entry = Commit(
        version=version,
        timestamp_ms=int(time.time() * 1000) if timestamp_ms is None else timestamp_ms,
        mode=mode,
        dirs=() if df is None else (rel,),
        files=files,
        stream_batch_id=stream_batch_id,
        stream_app_id=stream_app_id,
        cdc=cdc_rel,
        data_change=data_change,
        schema=schema,
    )
    # O_EXCL: exactly one writer can create this version file.
    with open(_log_path(table_dir, version), "x") as f:
        json.dump({"version": entry.version, "timestamp_ms": entry.timestamp_ms,
                   "mode": entry.mode, "dirs": list(entry.dirs),
                   "files": list(entry.files) if entry.files is not None else None,
                   "stream_batch_id": entry.stream_batch_id,
                   "stream_app_id": entry.stream_app_id,
                   "cdc": entry.cdc,
                   "data_change": entry.data_change,
                   "schema": entry.schema},
                  f)
    # Mirror into the Delta-protocol-shaped public log (interop surface;
    # best-effort — the private commit above is the source of truth).
    from . import deltalog

    cdc_entries = None
    if cdc_rel is not None:
        cdc_abs = os.path.join(table_dir, cdc_rel)
        cdc_entries = [
            {"path": os.path.join(cdc_rel, f),
             "size": os.path.getsize(os.path.join(cdc_abs, f))}
            for f in sorted(os.listdir(cdc_abs)) if f.endswith(".parquet")]
    try:
        deltalog.mirror_commit(
            table_dir, version, mode,
            new_entries=new_entries,
            carried_entries=list(carry_files or []),
            schema_json=None if df is None else df.schema.json(),
            timestamp_ms=entry.timestamp_ms,
            cdc_entries=cdc_entries,
            data_change=data_change,
        )
    except FileExistsError:
        pass  # lost a mirror race; the winning writer recorded this version
    except Exception as exc:  # pragma: no cover - corrupt/foreign mirror
        # the PRIVATE commit above already succeeded and is the source of
        # truth; a broken _delta_log (crashed earlier mirror write,
        # foreign junk) must not make a durable commit look failed
        import warnings

        warnings.warn(f"delta-log mirror failed for v{version}: {exc}")
    return entry


_SCHEMA_PATCH_FILE = "_schema_patch.json"


def read_schema_patches(table_dir: str) -> list[dict]:
    """The table's persisted schema-evolution ops (ALTER TABLE ledger),
    oldest first. Each op: {"op": "add", "name", "type"} |
    {"op": "drop", "name"} | {"op": "rename", "old", "new"}."""
    path = os.path.join(table_dir, _LOG_DIR, _SCHEMA_PATCH_FILE)
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return []


def append_schema_patch(table_dir: str, patch: dict) -> None:
    """Persist one ALTER op (atomic replace — the ledger is tiny). Each
    op is stamped with the snapshot version it was issued at, so
    time-travel reads to EARLIER versions see the pre-ALTER schema."""
    commits = read_log(table_dir)
    patch = dict(patch)
    patch["as_of_version"] = commits[-1].version if commits else 0
    patches = read_schema_patches(table_dir)
    patches.append(patch)
    path = os.path.join(table_dir, _LOG_DIR, _SCHEMA_PATCH_FILE)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(patches, f)
    os.replace(tmp, path)


def clear_schema_patches(table_dir: str) -> None:
    """Reset the ALTER ledger (CREATE OR REPLACE starts a fresh table —
    stale patches must not apply to the replacement's columns)."""
    path = os.path.join(table_dir, _LOG_DIR, _SCHEMA_PATCH_FILE)
    if os.path.exists(path):
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump([], f)
        os.replace(tmp, path)


def apply_schema_patches(df: DataFrame, table_dir: str,
                         version: int | None = None) -> DataFrame:
    """Apply the ALTER ledger to a freshly-read snapshot: adds become
    NULL-filled typed columns (existing files are never rewritten — the
    Delta/Iceberg metadata-only ADD COLUMN idea), drops/renames are plain
    projections. Idempotent per op (an add whose column already exists in
    the files, e.g. written by a post-ALTER INSERT, is skipped)."""
    from pyspark.sql import functions as F

    for p in read_schema_patches(table_dir):
        if version is not None and p.get("as_of_version", 0) > version:
            continue  # ALTER issued after the requested snapshot
        if p["op"] == "add":
            if p["name"] not in df.columns:
                df = df.withColumn(
                    p["name"], F.lit(None).cast(p["type"]))
        elif p["op"] == "drop":
            if p["name"] in df.columns:
                df = df.drop(p["name"])
        elif p["op"] == "rename":
            if p["old"] in df.columns and p["new"] in df.columns:
                # file generations written AFTER the rename already carry
                # the new name; mergeSchema surfaces BOTH columns (each
                # row has exactly one non-NULL side) — coalesce them INTO
                # THE OLD NAME'S POSITION. withColumn+drop would move the
                # column to the end, silently changing the table's
                # declared column order (and with it every positional
                # INSERT/SELECT * binding).
                df = df.select(*[
                    F.coalesce(F.col(p["new"]), F.col(p["old"]))
                    .alias(p["new"]) if c == p["old"] else F.col(c)
                    for c in df.columns if c != p["new"]])
            elif p["old"] in df.columns:
                df = df.withColumnRenamed(p["old"], p["new"])
    return df


_CONSTRAINTS_FILE = "_constraints.json"


def read_constraints(table_dir: str) -> list[dict]:
    """The table's declared constraints (NOT NULL / CHECK / UNIQUE,
    PRIMARY KEY expanded into both) — enforced by the engine on INSERT."""
    path = os.path.join(table_dir, _LOG_DIR, _CONSTRAINTS_FILE)
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return []


def write_constraints(table_dir: str, cons: list[dict]) -> None:
    path = os.path.join(table_dir, _LOG_DIR, _CONSTRAINTS_FILE)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(cons, f)
    os.replace(tmp, path)


_STATS_FILE = "_stats.json"


def read_stats(table_dir: str) -> dict | None:
    """The table's ANALYZE stats sidecar ({version, rows, est_bytes,
    columns: {col: {ndv, avg_len}}}) or None. Stats are stamped with the
    snapshot version they were computed at — consumers must treat a
    version mismatch as stale (the table changed since ANALYZE)."""
    path = os.path.join(table_dir, _LOG_DIR, _STATS_FILE)
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def write_stats(table_dir: str, stats: dict) -> None:
    path = os.path.join(table_dir, _LOG_DIR, _STATS_FILE)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f)
    os.replace(tmp, path)


_WATERMARKS_FILE = "_stream_watermarks.json"


def _merge_stream_watermarks(table_dir: str, marks: dict[str, int]) -> None:
    """Persist per-app batch-id high-water marks that are about to lose
    their carrying log entries (vacuum truncation). Keys are app ids
    ('' for legacy app-less commits); merge keeps the max per app."""
    path = os.path.join(table_dir, _LOG_DIR, _WATERMARKS_FILE)
    existing: dict[str, int] = {}
    try:
        with open(path) as f:
            existing = json.load(f)
    except (OSError, ValueError):
        pass
    for k, v in marks.items():
        existing[k] = max(existing.get(k, -1), v)
    # tmp + os.replace (same pattern as write_constraints): a crash
    # mid-write must not corrupt the sidecar — _sidecar_watermark would
    # read -1 and a post-vacuum checkpoint-recovery replay would
    # double-append, the exact failure this sidecar exists to prevent
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(existing, f)
    os.replace(tmp, path)


def _sidecar_watermark(table_dir: str, app_id: str | None) -> int:
    path = os.path.join(table_dir, _LOG_DIR, _WATERMARKS_FILE)
    try:
        with open(path) as f:
            return int(json.load(f).get(app_id or "", -1))
    except (OSError, ValueError):
        return -1


def last_stream_batch_id(table_dir: str, app_id: str | None = None) -> int:
    """Highest micro-batch id committed to this table BY THIS APP
    (checkpoint identity), -1 if none — the streaming sink's idempotence
    watermark (Delta's txn-action idea: the log records which source
    batches landed per application, so a replayed foreachBatch after a
    checkpoint recovery skips, while a DIFFERENT stream with a fresh
    checkpoint — whose batch ids restart at 0 — is not shadowed).
    ``app_id=None`` matches legacy commits written before app identities
    existed."""
    ids = [c.stream_batch_id for c in read_log(table_dir)
           if c.stream_batch_id is not None and c.stream_app_id == app_id]
    live = max(ids) if ids else -1
    # vacuum truncation folds dropped commits' watermarks into a sidecar
    return max(live, _sidecar_watermark(table_dir, app_id))


def restore(
    table_dir: str,
    to_version: int,
    schema_json: str | None = None,
    timestamp_ms: int | None = None,
) -> Commit:
    """RESTORE (the Delta RESTORE statement idea): commit a NEW version
    whose content is exactly snapshot ``to_version`` — every file carried
    by reference, zero data rewritten. History is preserved (restore is
    itself a commit, so it can be time-traveled past or re-restored);
    cost is O(files) metadata. Fails if ``to_version`` is no longer in the
    log (e.g. vacuumed away)."""
    commits = read_log(table_dir)
    if not commits:
        raise FileNotFoundError(f"no versioned table at {table_dir!r}")
    if to_version not in [c.version for c in commits]:
        raise LookupError(
            f"RESTORE: version {to_version} not in log "
            f"(have {[c.version for c in commits]})")
    entries = snapshot_file_entries(table_dir, to_version)
    version = commits[-1].version + 1
    entry = Commit(
        version=version,
        timestamp_ms=int(time.time() * 1000) if timestamp_ms is None else timestamp_ms,
        mode="overwrite",
        dirs=(),
        files=tuple(entries),
        schema=entries.schema,
    )
    with open(_log_path(table_dir, version), "x") as f:
        json.dump({"version": entry.version, "timestamp_ms": entry.timestamp_ms,
                   "mode": entry.mode, "dirs": [],
                   "files": list(entry.files), "schema": entry.schema}, f)
    from . import deltalog

    try:
        deltalog.mirror_commit(
            table_dir, version, "overwrite",
            new_entries=[],
            carried_entries=entries,
            schema_json=schema_json,
            timestamp_ms=entry.timestamp_ms,
        )
    except FileExistsError:
        pass
    except Exception as exc:  # pragma: no cover - corrupt/foreign mirror
        import warnings

        warnings.warn(f"delta-log mirror failed for v{version}: {exc}")
    return entry


def clone(
    src_dir: str,
    dst_dir: str,
    version: int | None = None,
    as_of_ms: int | None = None,
    schema_json: str | None = None,
    timestamp_ms: int | None = None,
) -> Commit:
    """Zero-copy table fork (the Neon branch-creation motif [ref
    neon:2–7]; Delta SHALLOW CLONE shape): the clone's first commit is a
    file-level manifest carrying the SOURCE snapshot's data files BY
    ABSOLUTE REFERENCE — no data copied or rewritten, cost O(files)
    metadata. The two tables then have fully independent histories:
    commits on either side never touch the other, and the clone's vacuum
    can never delete source files (absolute paths live outside the
    clone's ``data/`` root, which is the only place vacuum removes).

    The source's ALTER ledger (ops at-or-before the cloned version,
    re-stamped to apply from the fork point) and constraints sidecar are
    copied so the fork preserves the source's logical schema and
    enforcement. Fails if ``dst_dir`` already holds a table.

    Shallow-clone caveat (same as Delta's): the clone REFERENCES source
    files, and their deletion vectors by absolute path, so dropping the
    source table or vacuuming away the cloned snapshot's files breaks
    the clone's reads of pre-fork data. Post-fork
    commits on the clone own their files and are unaffected; OPTIMIZE on
    the clone rewrites referenced data into clone-owned files if full
    independence is needed."""
    if read_log(dst_dir):
        raise ValueError(f"CLONE target {dst_dir!r} already holds a table")
    from . import deltalog

    commits = read_log(src_dir)
    patches: list[dict] = []
    cons: list[dict] = []
    schema = None  # foreign sources: inferred on read
    if commits:
        resolved, _ = resolve_snapshot(src_dir, version, as_of_ms)
        src_entries = snapshot_file_entries(src_dir, resolved)
        schema = src_entries.schema
        entries = [
            dict(e, path=os.path.abspath(os.path.join(src_dir, e["path"])),
                 **({"dv": deltalog.absolute_dv(src_dir, e["dv"])}
                    if e.get("dv") else {}))
            for e in src_entries
        ]
        # schema-evolution ledger: ops issued at-or-before the cloned
        # version apply to the fork from its first version on
        patches = [dict(p, as_of_version=0)
                   for p in read_schema_patches(src_dir)
                   if p.get("as_of_version", 0) <= resolved]
        cons = read_constraints(src_dir)
    else:
        # foreign source: a dir readable only through its Iceberg/Delta
        # log still clones zero-copy — the fork is how a foreign table
        # enters this engine's DML/time-travel surface without a rewrite
        from . import iceberglog

        if iceberglog.is_iceberg_table(src_dir):
            flat, _n = iceberglog._renamed_field_ids(
                iceberglog.table_metadata(src_dir))
            if flat:
                raise NotImplementedError(
                    "CLONE of an Iceberg table with renamed columns is "
                    "not supported: the clone would be read name-based "
                    "(no field-id projection on private manifests), "
                    "splitting the renamed column into two half-NULL "
                    "columns — read it via register/ATTACH instead")
            files_abs = iceberglog.snapshot_data_files(
                src_dir, version, as_of_ms)
        else:
            _, fmap = deltalog.delta_snapshot(src_dir, version)
            if deltalog.column_mapping_mode(
                    deltalog._meta_at(src_dir, version)) != "none":
                raise NotImplementedError(
                    "CLONE of a Delta columnMapping table is not "
                    "supported: the data files carry PHYSICAL "
                    "col-<uuid> names and a file-reference clone has "
                    "no metaData to project them back — read it via "
                    "register/ATTACH instead")
            if deltalog.live_deletion_vectors(fmap):
                raise NotImplementedError(
                    "CLONE of a Delta table with live deletion vectors "
                    "is not supported: carrying the base files by "
                    "reference would resurrect the deleted rows — read "
                    "the table (DVs applied) and re-materialize instead")
            if any(a.get("partitionValues") for a in fmap.values()):
                raise NotImplementedError(
                    "CLONE of a partitioned Delta table is not supported: "
                    "partition values live in the Delta log, not the data "
                    "files, so a file-reference clone would silently DROP "
                    "the partition columns — read it via the Delta log "
                    "instead (register/ATTACH)")
            files_abs = [os.path.join(src_dir, p) for p in sorted(fmap)]
        entries = []
        for p in files_abs:
            e = file_entry(src_dir, os.path.relpath(p, src_dir))
            e["path"] = os.path.abspath(p)
            entries.append(e)
    os.makedirs(os.path.join(dst_dir, _LOG_DIR), exist_ok=True)
    entry = Commit(
        version=1,
        timestamp_ms=(int(time.time() * 1000)
                      if timestamp_ms is None else timestamp_ms),
        mode="overwrite",
        dirs=(),
        files=tuple(entries),
        schema=schema,
    )
    with open(_log_path(dst_dir, 1), "x") as f:
        json.dump({"version": 1, "timestamp_ms": entry.timestamp_ms,
                   "mode": "overwrite", "dirs": [],
                   "files": list(entry.files), "schema": entry.schema}, f)
    if patches:
        path = os.path.join(dst_dir, _LOG_DIR, _SCHEMA_PATCH_FILE)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(patches, f)
        os.replace(tmp, path)
    if cons:
        write_constraints(dst_dir, cons)
    try:
        deltalog.mirror_commit(
            dst_dir, 1, "overwrite",
            new_entries=[],
            carried_entries=entries,
            schema_json=schema_json,
            timestamp_ms=entry.timestamp_ms,
        )
    except Exception as exc:  # pragma: no cover - best-effort mirror
        import warnings

        warnings.warn(f"delta-log mirror failed for clone: {exc}")
    return entry


def resolve_snapshot(
    table_dir: str,
    version: int | None = None,
    as_of_ms: int | None = None,
) -> tuple[int, list[str]]:
    """(version, absolute data paths) for a snapshot.

    ``version=None, as_of_ms=None`` → latest. ``as_of_ms`` picks the last
    commit at-or-before the timestamp (time travel by wall clock).
    """
    resolved, entries, _ = _resolve(table_dir, version, as_of_ms)
    return resolved, [os.path.join(table_dir, e["path"]) for e in entries]


def _resolve(
    table_dir: str, version: int | None, as_of_ms: int | None,
) -> tuple[int, list[dict], str | None]:
    """The snapshot's version, entries (file entries, or ``{"path":
    dir}`` for dir-granular commits) and physical schema, from one log
    replay."""
    commits = read_log(table_dir)
    if not commits:
        raise FileNotFoundError(f"no versioned table at {table_dir!r}")
    if version is not None and as_of_ms is not None:
        raise ValueError("pass version OR as_of_ms, not both")
    if as_of_ms is not None:
        eligible = [c for c in commits if c.timestamp_ms <= as_of_ms]
        if not eligible:
            raise LookupError(
                f"no snapshot at or before timestamp {as_of_ms} "
                f"(earliest is {commits[0].timestamp_ms})")
        version = eligible[-1].version
    if version is None:
        version = commits[-1].version
    chosen = [c for c in commits if c.version <= version]
    if not chosen or chosen[-1].version != version:
        known = [c.version for c in commits]
        raise LookupError(f"version {version} not in log (have {known})")
    entries: list[dict] = []
    for c in chosen:
        batch = (list(c.files) if c.files is not None
                 else [{"path": d} for d in c.dirs])
        if c.mode == "overwrite":
            entries = batch
        else:
            entries.extend(batch)
    return version, entries, chosen[-1].schema


def read_table(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    as_of_ms: int | None = None,
) -> DataFrame:
    """Read a snapshot as a DataFrame with the physical schema its log
    entry records — or, when that is unknown, the schema merged across
    its data dirs, so appends may evolve it additively — and its
    deletion vectors applied. A directory with only a FOREIGN
    table-format log (Delta ``_delta_log``, or Iceberg
    ``metadata/*.metadata.json`` — e.g. written by another engine) is
    read by replaying that format's log instead."""
    try:
        resolved, entries, schema = _resolve(table_dir, version, as_of_ms)
    except FileNotFoundError:
        from . import deltalog, hudilog, iceberglog

        if iceberglog.is_iceberg_table(table_dir):
            return iceberglog.read_iceberg_table(
                spark, table_dir, version, as_of_ms)
        if hudilog.is_hudi_table(table_dir):
            if as_of_ms is not None:
                raise
            return hudilog.read_hudi_table(spark, table_dir, version)
        if as_of_ms is not None:
            raise
        return deltalog.read_delta_table(spark, table_dir, version)
    df = read_files(spark, table_dir, entries, schema)
    # ALTER TABLE ledger (metadata-only schema evolution), filtered to
    # ops issued at or before the snapshot being read
    return apply_schema_patches(df, table_dir, version=resolved)


def table_changes(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level change feed between two versions (the Delta CDF
    ``table_changes('t', v1, v2)`` surface): every row the table gained or
    lost in commits ``from_version .. to_version`` (inclusive), with
    ``_change_type`` (``insert`` / ``delete`` / ``update_preimage`` /
    ``update_postimage``), ``_commit_version`` and ``_commit_timestamp``
    columns appended — the Delta CDF column contract.

    Sources per commit, cheapest first:
    - a ``_change_data/`` sidecar written at DML time (UPDATE/MERGE —
      precise pre/postimages, no diffing);
    - append commits: the commit's own new files, read as inserts;
    - the table's first commit: all rows as inserts;
    - full (non-file-level) overwrites: previous snapshot as deletes +
      new snapshot as inserts — precise, since every prior row left;
    - commits that write no data (a DELETE's deletion vectors,
      RESTORE): rows live before and not after are deletes, rows live
      after and not before inserts — precise, since no row was
      rewritten;
    - ``data_change=False`` commits (OPTIMIZE/clustering) emit nothing.

    A file-level rewrite commit from BEFORE CDC capture existed has no
    derivable feed and raises. Scale: reading the feed scans only change
    sidecars and the touched commits' files — never the whole table.
    """
    from pyspark.sql import functions as F

    commits = read_log(table_dir)
    if not commits:
        raise FileNotFoundError(f"no versioned table at {table_dir!r}")
    by_v = {c.version: c for c in commits}
    if to_version is None:
        to_version = commits[-1].version
    if from_version > to_version:
        raise ValueError(
            f"table_changes: from_version {from_version} > to_version "
            f"{to_version}")
    missing = [v for v in range(from_version, to_version + 1)
               if v not in by_v]
    if missing:
        raise LookupError(
            f"table_changes: version(s) {missing} not in log "
            f"(vacuumed or never written; have "
            f"{[c.version for c in commits]})")

    def _tagged(df: DataFrame, ctype: str, c: Commit) -> DataFrame:
        return df.select(
            "*",
            F.lit(ctype).alias("_change_type"),
            F.lit(c.version).alias("_commit_version"),
            F.expr(f"timestamp_millis({c.timestamp_ms})")
            .alias("_commit_timestamp"))

    first_version = commits[0].version
    pieces: list[DataFrame] = []
    for v in range(from_version, to_version + 1):
        c = by_v[v]
        if not c.data_change:
            continue                       # row-preserving rewrite
        if c.cdc is not None:
            cdc = spark.read.parquet(os.path.join(table_dir, c.cdc))
            pieces.append(cdc.select(
                "*",
                F.lit(c.version).alias("_commit_version"),
                F.expr(f"timestamp_millis({c.timestamp_ms})")
                .alias("_commit_timestamp")))
            continue
        if v == first_version:
            pieces.append(_tagged(read_table(spark, table_dir, version=v),
                                  "insert", c))
            continue
        if c.mode == "append":
            new = spark.read.option("mergeSchema", "true").parquet(
                *[os.path.join(table_dir, d) for d in c.dirs])
            pieces.append(_tagged(
                apply_schema_patches(new, table_dir, version=v), "insert", c))
            continue
        # overwrite without a sidecar
        if c.files is None:
            # full rewrite: every previous row left, every new row arrived
            pieces.append(_tagged(
                read_table(spark, table_dir, version=v - 1), "delete", c))
            pieces.append(_tagged(
                read_table(spark, table_dir, version=v), "insert", c))
            continue
        if not c.dirs or all(not _dir_has_files(table_dir, d)
                             for d in c.dirs):
            # no data written (a DELETE's deletion vectors, RESTORE): the
            # row-level change set is the live-row diff of the manifests
            prev = snapshot_file_entries(table_dir, version=v - 1)
            cur = snapshot_file_entries(table_dir, version=v)
            for a, b, ctype in ((prev, cur, "delete"), (cur, prev, "insert")):
                df = _rows_not_in(spark, table_dir, a, b)
                if df is not None:
                    pieces.append(_tagged(
                        apply_schema_patches(df, table_dir, version=v),
                        ctype, c))
            continue
        raise ValueError(
            f"table_changes: version {v} is a file-level rewrite with no "
            f"change-data sidecar (committed before CDC capture existed) "
            f"— its row-level feed is not derivable")
    if not pieces:
        # empty feed with the contract schema
        base = read_table(spark, table_dir, version=to_version).limit(0)
        return base.select(
            "*", F.lit("").alias("_change_type"),
            F.lit(0).alias("_commit_version"),
            F.expr("timestamp_millis(0)").alias("_commit_timestamp")
        ).limit(0)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    # pin the contract columns last, data columns in current-schema order
    meta = ["_change_type", "_commit_version", "_commit_timestamp"]
    data_cols = [col for col in out.columns if col not in meta]
    return out.select(*data_cols, *meta)


def _rows_not_in(spark: SparkSession, table_dir: str, a: Manifest,
                 b: Manifest) -> DataFrame | None:
    """The rows live in manifest ``a`` and not in manifest ``b``: every
    live row of a file ``b`` lacks, plus the rows ``b``'s deletion vector
    masks and ``a``'s does not. None when there are none."""
    from . import deltalog

    b_by = {e["path"]: e for e in b}
    gone = [e for e in a if e["path"] not in b_by]
    masked: dict[str, list[int]] = {}
    for e in a:
        dv_b = b_by.get(e["path"], {}).get("dv")
        if dv_b and dv_b != e.get("dv"):
            pos = set(deltalog.dv_positions(table_dir, dv_b))
            if e.get("dv"):
                pos -= set(deltalog.dv_positions(table_dir, e["dv"]))
            if pos:
                masked[e["path"]] = sorted(pos)
    parts = []
    if gone:
        parts.append(read_files(spark, table_dir, gone, a.schema))
    if masked:
        parts.append(read_files(
            spark, table_dir, [{"path": p} for p in masked], a.schema
        ).filter(deltalog.rows_at(table_dir, masked)))
    if not parts:
        return None
    return parts[0] if len(parts) == 1 else parts[0].unionByName(
        parts[1], allowMissingColumns=True)


def _dir_has_files(table_dir: str, rel: str) -> bool:
    """True iff the commit data dir holds at least one parquet part (an
    empty-DataFrame overwrite writes a dir with only _SUCCESS)."""
    p = os.path.join(table_dir, rel)
    return os.path.isdir(p) and any(
        f.endswith(".parquet") for f in os.listdir(p))


def compact(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    small_file_bytes: int | None = None,
) -> dict:
    """Bin-pack small data files into ~``target_file_bytes`` files as one
    new snapshot (the OPTIMIZE statement of the table formats the
    reference's metadata notes study, /root/reference/metadata:1-17).

    Only files below ``small_file_bytes`` (default: target/2), and
    every file with a deletion vector, are rewritten — right-sized files
    are carried BY REFERENCE, so the cost is O(small files), not
    O(table), and the new snapshot carries no deletion vectors. The commit is file-level (manifest
    with footer stats), time travel replays the pre-compaction snapshot,
    and vacuum can later reclaim the replaced small files.

    Scale note: the rewrite is one distributed coalesced write of the
    small-file subset; output file count = ceil(small bytes / target).
    """
    if small_file_bytes is None:
        small_file_bytes = target_file_bytes // 2
    entries = snapshot_file_entries(table_dir)
    sizes = {
        e["path"]: os.path.getsize(os.path.join(table_dir, e["path"]))
        for e in entries
    }
    small = [e for e in entries
             if sizes[e["path"]] < small_file_bytes or e.get("dv")]
    if len(small) <= 1 and not any(e.get("dv") for e in small):
        return {"rewritten_files": 0, "carried_files": len(entries),
                "new_files": 0, "version": read_log(table_dir)[-1].version}
    carried = [e for e in entries
               if sizes[e["path"]] >= small_file_bytes and not e.get("dv")]
    small_bytes = sum(sizes[e["path"]] for e in small)
    n_out = max(1, -(-small_bytes // target_file_bytes))  # ceil
    df = read_files(spark, table_dir, small, entries.schema).coalesce(n_out)
    entry = write_table(df, table_dir, mode="overwrite", carry_files=carried,
                        data_change=False)
    return {"rewritten_files": len(small), "carried_files": len(carried),
            "new_files": len(entry.files) - len(carried),
            "version": entry.version}


def vacuum(table_dir: str, keep_last: int = 1) -> dict:
    """Physically delete data dirs and deletion-vector files unreachable
    from the newest ``keep_last`` snapshots, and truncate their log entries (the Delta VACUUM analog —
    the policy decision the module docstring deferred).

    A data dir is retained iff some kept snapshot's replay references it.
    Log entries are truncated only BEFORE the oldest kept snapshot's base
    overwrite — replay of every kept snapshot starts at an overwrite (or
    the table's first commit), so kept reads replay identically after the
    vacuum; versions older than the kept window become unreadable cleanly
    ("version not in log"), never a missing-file read error. The newest
    snapshot is always kept. Returns ``{"removed_dirs": n,
    "removed_versions": m}``.

    Scale note: metadata-only decision (O(commits) log replay) plus local
    directory removals — never touches surviving data files.
    """
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    commits = read_log(table_dir)
    if not commits:
        raise FileNotFoundError(f"no versioned table at {table_dir!r}")
    oldest_kept = commits[-keep_last:][0].version
    # the replay chain of the oldest kept snapshot starts at its latest
    # overwrite (or the very first commit) — log entries from there on stay
    base = max(
        (c.version for c in commits
         if c.mode == "overwrite" and c.version <= oldest_kept),
        default=commits[0].version,
    )
    # kept snapshots may reference whole dirs OR individual files (file-
    # level DML carries) — a data dir survives iff any kept path is the
    # dir itself or lives inside it.
    from . import deltalog

    data_root = os.path.abspath(os.path.join(table_dir, _DATA_DIR))
    keep_dirs: set[str] = set()
    keep_dvs: set[str] = set()
    for c in commits[-keep_last:]:
        for e in _resolve(table_dir, c.version, None)[1]:
            rel = os.path.relpath(
                os.path.abspath(os.path.join(table_dir, e["path"])), data_root)
            if not rel.startswith(".."):
                keep_dirs.add(rel.split(os.sep)[0])
            if e.get("dv") and e["dv"].get("storageType") == "u":
                keep_dvs.add(os.path.basename(
                    deltalog._dv_file(table_dir, e["dv"])))
    removed_dirs = 0
    if os.path.isdir(data_root):
        for entry in sorted(os.listdir(data_root)):
            if entry not in keep_dirs:
                shutil.rmtree(os.path.join(data_root, entry),
                              ignore_errors=True)
                removed_dirs += 1
    # deletion-vector files no kept snapshot references — superseded by
    # a union, or orphaned by a commit that lost its O_EXCL race
    for fname in os.listdir(table_dir):
        if (fname.startswith("deletion_vector_") and fname.endswith(".bin")
                and fname not in keep_dvs):
            os.remove(os.path.join(table_dir, fname))
    # truncated commits may carry the streaming sink's per-app batch-id
    # watermarks — fold them into the sidecar BEFORE deleting, or a
    # post-vacuum checkpoint-recovery replay would double-append
    dropped_marks: dict[str, int] = {}
    for c in commits:
        if c.version < base and c.stream_batch_id is not None:
            key = c.stream_app_id or ""
            dropped_marks[key] = max(dropped_marks.get(key, -1),
                                     c.stream_batch_id)
    if dropped_marks:
        _merge_stream_watermarks(table_dir, dropped_marks)
    removed_versions = 0
    for c in commits:
        if c.version < base:
            if c.cdc:
                # the change-feed sidecar dies with its commit — after
                # truncation table_changes can't reach this version anyway
                shutil.rmtree(os.path.join(table_dir, c.cdc),
                              ignore_errors=True)
            try:
                os.remove(_log_path(table_dir, c.version))
                removed_versions += 1
            except FileNotFoundError:
                pass
    # mirror the truncation in the public delta log (safe: base is an
    # overwrite boundary and mirrored overwrite commits are self-contained)
    from . import deltalog

    deltalog.truncate(table_dir, before_version=base)
    return {"removed_dirs": removed_dirs, "removed_versions": removed_versions}


def history(table_dir: str) -> list[dict]:
    """Commit history, latest first (DESCRIBE HISTORY analog)."""
    return [
        {"version": c.version, "timestamp_ms": c.timestamp_ms, "mode": c.mode,
         "n_dirs": len(c.dirs),
         "n_files": len(c.files) if c.files is not None else None,
         "stream_batch_id": c.stream_batch_id}
        for c in reversed(read_log(table_dir))
    ]


# -- manifest-stats predicate pruning (file-level DML fast path) ----------

_CMP_RE = re.compile(
    r"^\(*\s*(?:[A-Za-z_]\w*\.)?(?P<col>[A-Za-z_]\w*)\s*"
    r"(?P<op><=|>=|<>|!=|=|<|>)\s*(?P<lit>'(?:[^']|'')*'|-?\d+(?:\.\d+)?)"
    r"\s*\)*$",
)
_CMP_REV_RE = re.compile(
    r"^\(*\s*(?P<lit>'(?:[^']|'')*'|-?\d+(?:\.\d+)?)\s*"
    r"(?P<op><=|>=|<>|!=|=|<|>)\s*(?:[A-Za-z_]\w*\.)?(?P<col>[A-Za-z_]\w*)"
    r"\s*\)*$",
)
_BETWEEN_RE = re.compile(
    r"^\(*\s*(?:[A-Za-z_]\w*\.)?(?P<col>[A-Za-z_]\w*)\s+BETWEEN\s+"
    r"(?P<lo>'(?:[^']|'')*'|-?\d+(?:\.\d+)?)\s+AND\s+"
    r"(?P<hi>'(?:[^']|'')*'|-?\d+(?:\.\d+)?)\s*\)*$",
    re.IGNORECASE,
)
_FLIP = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}


def _parse_lit(text: str):
    if text.startswith("'"):
        return text[1:-1].replace("''", "'")
    return float(text) if "." in text else int(text)


_ISO_T_RE = re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}")


def _norm_temporal(v):
    """Normalize ISO-timestamp strings to a ' ' separator so manifests
    written before the sep=' ' fix (or by external writers) compare
    correctly against SQL literals: 'T' > ' ' lexicographically, which
    otherwise breaks every same-day comparison."""
    if isinstance(v, str) and _ISO_T_RE.match(v):
        return v.replace("T", " ", 1)
    return v


def _conjunct_feasible(conj: str, stats: dict) -> bool:
    """Can any row in a file with these min/max stats satisfy the
    conjunct? Unrecognized shapes / missing stats → feasible (the prune
    must stay conservative; the exact probe refines it)."""
    m = _BETWEEN_RE.match(conj)
    if m:
        return (_conjunct_feasible(f"{m.group('col')} >= {m.group('lo')}", stats)
                and _conjunct_feasible(f"{m.group('col')} <= {m.group('hi')}", stats))
    m = _CMP_RE.match(conj.strip())
    op = None
    if m:
        op = m.group("op")
    else:
        m = _CMP_REV_RE.match(conj.strip())
        if m:
            op = _FLIP.get(m.group("op"), m.group("op"))
    if not m:
        return True
    rng = stats.get(m.group("col"))
    if not rng:
        return True
    lit = _parse_lit(m.group("lit"))
    lo, hi = rng
    lit, lo, hi = _norm_temporal(lit), _norm_temporal(lo), _norm_temporal(hi)
    try:
        if op == "=":
            return lo <= lit <= hi
        if op in ("!=", "<>"):
            return not (lo == lit == hi)
        if op == "<":
            return lo < lit
        if op == "<=":
            return lo <= lit
        if op == ">":
            return hi > lit
        if op == ">=":
            return hi >= lit
    except TypeError:
        return True      # stats/literal type mismatch — don't prune
    return True


def prune_by_stats(entries: list[dict], pred: str) -> list[dict]:
    """Manifest entries whose min/max stats can intersect ``pred`` — a
    pure-metadata candidate cut (no Spark job), the same skip a format's
    manifest gives a scan. Conservative: anything unparseable keeps the
    file."""
    if any(sqltext.find_top_level(pred, w) >= 0 for w in ("OR", "NOT")):
        return list(entries)  # not a conjunction: no per-conjunct cut
    conjuncts = sqltext.split_top_and(pred)
    out = []
    for e in entries:
        stats = e.get("stats") or {}
        if all(_conjunct_feasible(c, stats) for c in conjuncts):
            out.append(e)
    return out
