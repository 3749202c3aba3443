"""Apache Iceberg table-format read interop.

The reference's metadata notes' dominant theme is Iceberg metadata
management (/root/reference/metadata:1-2,38-39 — "Scalable Metadata
Management … Apache Iceberg", format-comparison studies); deltalog.py
covers the Delta direction, this module adds the read path for a foreign
Iceberg table directory (spec:
https://iceberg.apache.org/spec/):

* ``metadata/vN.metadata.json`` (+ optional ``version-hint.text``) —
  table metadata: schemas, snapshot list, current-snapshot-id;
* each snapshot points at a ``manifest-list`` Avro file; each manifest
  list row points at a manifest Avro file; each manifest row is one data
  file with status (ADDED/EXISTING/DELETED) and per-file stats.

A snapshot's manifest list FULLY describes it (manifests carry
``existing`` entries too), so reading snapshot S never replays other
snapshots — Iceberg's structural difference from Delta's log replay.

Scope (honest fences, mirrored from deltalog.py's): parquet data files;
v1 and v2 metadata; ``null``/``deflate`` Avro codecs. V2 row-level
deletes (merge-on-read) are SUPPORTED on the read path: positional
delete files apply as an anti-join on (target file, ``_metadata.
row_index``), equality delete files as null-safe anti-joins on their
equality columns, both scoped by data sequence number per the spec
(positional: delete.seq >= data.seq; equality: delete.seq > data.seq).
Files-by-reference consumers (CLONE, COPY export) still refuse tables
with live deletes — carrying the base files alone would resurrect
deleted rows. Partitioned tables read fine — data file paths are listed
explicitly, partition pruning happens via parquet row-group stats like
any explicit-file-list scan.

Scale shape: metadata files are O(files) driver-side artifacts (the
format's own design); data I/O is a normal distributed parquet scan of
the explicit file list, so pushdown/pruning inside files work untouched.
"""

from __future__ import annotations

import json
import os
import re

from . import avroio
from .catalog import local_frame

_META_DIR = "metadata"


def is_iceberg_table(table_dir: str) -> bool:
    """Does ``table_dir`` hold Iceberg metadata (a ``metadata/`` dir with
    at least one ``*.metadata.json``)?"""
    mdir = os.path.join(table_dir, _META_DIR)
    if not os.path.isdir(mdir):
        return False
    return any(f.endswith(".metadata.json") for f in os.listdir(mdir))


def _metadata_path(table_dir: str) -> str:
    """The CURRENT table-metadata file: ``version-hint.text`` if present
    (HadoopCatalog convention), else the highest-numbered
    ``vN.metadata.json`` / lexicographically-last ``*.metadata.json``
    (the rest-catalog ``00000-<uuid>`` naming sorts by sequence)."""
    mdir = os.path.join(table_dir, _META_DIR)
    hint = os.path.join(mdir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as f:
            v = f.read().strip()
        cand = os.path.join(mdir, f"v{v}.metadata.json")
        if os.path.exists(cand):
            return cand
    metas = sorted(f for f in os.listdir(mdir)
                   if f.endswith(".metadata.json"))
    if not metas:
        raise FileNotFoundError(f"no iceberg metadata at {table_dir!r}")
    numbered = [(int(m.group(1)), f) for f in metas
                if (m := re.fullmatch(r"v(\d+)\.metadata\.json", f))]
    if numbered:
        return os.path.join(mdir, max(numbered)[1])
    return os.path.join(mdir, metas[-1])


def table_metadata(table_dir: str) -> dict:
    with open(_metadata_path(table_dir)) as f:
        return json.load(f)


def _localize(path: str, meta: dict, table_dir: str) -> str:
    """Map a file URI from the metadata onto the local table dir. Iceberg
    stores ABSOLUTE locations (``file:///...``, ``s3://...``); a copied/
    moved table's paths still resolve by re-rooting everything under the
    recorded table ``location`` onto ``table_dir``."""
    p = re.sub(r"^[a-z][a-z0-9+.-]*:(//)?", "", path)  # strip scheme
    loc = re.sub(r"^[a-z][a-z0-9+.-]*:(//)?", "", meta.get("location", ""))
    if loc and p.startswith(loc.rstrip("/") + "/"):
        return os.path.join(table_dir, p[len(loc.rstrip("/")) + 1:])
    if os.path.isabs(p):
        return p
    return os.path.join(table_dir, p)


def snapshots_chrono(meta: dict) -> list[dict]:
    """Snapshots oldest→newest (sequence-number order, timestamp
    tie-break) — the basis for 1-based ``VERSION AS OF`` indexing."""
    snaps = list(meta.get("snapshots", []))
    snaps.sort(key=lambda s: (s.get("sequence-number", 0),
                              s.get("timestamp-ms", 0)))
    return snaps


def _pick_snapshot(meta: dict, version: int | None,
                   as_of_ms: int | None = None) -> dict:
    snaps = snapshots_chrono(meta)
    if not snaps:
        raise FileNotFoundError("iceberg table has no snapshots")
    if version is None and as_of_ms is None:
        cur = meta.get("current-snapshot-id")
        for s in snaps:
            if s["snapshot-id"] == cur:
                return s
        return snaps[-1]
    if as_of_ms is not None:
        eligible = [s for s in snaps if s.get("timestamp-ms", 0) <= as_of_ms]
        if not eligible:
            raise LookupError(
                f"no iceberg snapshot at or before timestamp {as_of_ms}")
        return eligible[-1]
    # exact snapshot-id match first (Iceberg's native addressing), else
    # 1-based chronological index (uniform with the private-log numbering)
    for s in snaps:
        if s["snapshot-id"] == version:
            return s
    if 1 <= version <= len(snaps):
        return snaps[version - 1]
    raise LookupError(
        f"iceberg snapshot {version} not found "
        f"(have ids {[s['snapshot-id'] for s in snaps]}, "
        f"or 1..{len(snaps)} chronological)")


def _renamed_field_ids(meta: dict) -> tuple[set[int], set[int]]:
    """(top-level renamed field ids, nested renamed field ids) across the
    metadata's schema history. Iceberg resolves columns by FIELD ID, so a
    rename leaves old data files carrying the old physical name."""
    top: dict[int, set[str]] = {}
    nested: dict[int, set[str]] = {}

    def walk_type(t, depth: int) -> None:
        if not isinstance(t, dict):
            return
        kind = t.get("type")
        if kind == "struct":
            for f in t.get("fields", []):
                tgt = top if depth == 0 else nested
                tgt.setdefault(f["id"], set()).add(f["name"])
                walk_type(f.get("type"), depth + 1)
        elif kind == "list":
            walk_type(t.get("element"), depth + 1)
        elif kind == "map":
            walk_type(t.get("key"), depth + 1)
            walk_type(t.get("value"), depth + 1)

    for sch in meta.get("schemas", []):
        walk_type(sch, 0)
    return ({i for i, ns in top.items() if len(ns) > 1},
            {i for i, ns in nested.items() if len(ns) > 1})


def _check_schema_evolution(meta: dict) -> None:
    """Nested renames still refuse (field-id projection below a struct
    would need recursive schema rewriting); TOP-LEVEL renames are handled
    by :func:`_read_with_field_id_projection` and pass through here."""
    _, nested = _renamed_field_ids(meta)
    if nested:
        raise NotImplementedError(
            f"iceberg NESTED column rename detected (field id(s) "
            f"{sorted(nested)} carry multiple names across schemas) — "
            f"field-id projection inside struct/list/map types is not "
            f"implemented")


def _current_top_fields(meta: dict) -> list[dict]:
    """Top-level fields of the current schema (id/name/type)."""
    sid = meta.get("current-schema-id", 0)
    for sch in meta.get("schemas", []):
        if sch.get("schema-id") == sid:
            return list(sch.get("fields", []))
    schemas = meta.get("schemas") or [meta.get("schema") or {}]
    return list(schemas[-1].get("fields", []))


_ICEBERG_SPARK_TYPES = {
    "boolean": "boolean", "int": "int", "long": "bigint",
    "float": "float", "double": "double", "string": "string",
    "date": "date", "timestamp": "timestamp_ntz",
    "timestamptz": "timestamp", "binary": "binary", "uuid": "string",
}


def _spark_type(t) -> str:
    if isinstance(t, str):
        if t.startswith("decimal"):
            return t
        return _ICEBERG_SPARK_TYPES.get(t, "string")
    return "string"


def _read_with_field_id_projection(spark, table_dir: str, meta: dict,
                                   files: list[str]):
    """Renamed-column read path: resolve each data file's physical
    columns to the CURRENT schema names via the ``PARQUET:field_id``
    metadata Iceberg writers stamp into parquet fields, then union the
    per-physical-schema groups.

    Cost shape: one driver-side footer read per data file — the same
    O(files) metadata class as the manifest replay itself; groups are
    one scan relation per physical schema generation (bounded by the
    number of ALTERs, not files). Files that LACK field ids for a
    renamed column refuse loudly — guessing by name would silently
    mis-assign data."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    cur = _current_top_fields(meta)
    cur_by_id = {f["id"]: f["name"] for f in cur}
    cur_names = {f["name"] for f in cur}

    groups: dict[tuple, list[str]] = {}
    for path in files:
        sch = pq.read_schema(path)
        sig = []
        for fld in sch:
            md = fld.metadata or {}
            fid = md.get(b"PARQUET:field_id")
            sig.append((fld.name, int(fid) if fid is not None else None))
        groups.setdefault(tuple(sig), []).append(path)

    parts = []
    for sig, fs in sorted(
            groups.items(),
            key=lambda kv: [(n, -1 if f is None else f) for n, f in kv[0]]):
        d = spark.read.option("mergeSchema", "true").parquet(*fs)
        cols = []
        for name, fid in sig:
            if fid is not None:
                if fid in cur_by_id:
                    cols.append(F.col(name).alias(cur_by_id[fid]))
                # else: field deleted from current schema — drop it
            elif name in cur_names:
                cols.append(F.col(name))  # no id, name still current
            else:
                raise NotImplementedError(
                    f"iceberg renamed-table read: data file column "
                    f"{name!r} has no PARQUET:field_id metadata and no "
                    f"current-schema name match — cannot project by "
                    f"field id (guessing by name would mis-assign data)")
        parts.append(d.select(*cols))
    out = parts[0]
    for d in parts[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    for f in cur:  # declared-but-never-written columns read back NULL
        if f["name"] not in out.columns:
            out = out.withColumn(
                f["name"], F.lit(None).cast(_spark_type(f["type"])))
    return out.select(*[f["name"] for f in cur])


def snapshot_files(table_dir: str, version: int | None = None,
                   as_of_ms: int | None = None) -> dict:
    """Full file inventory of a snapshot, v2-delete-aware.

    Returns ``{"data": [(local_path, recorded_uri, seq)],
    "pos_deletes": [(local_path, seq)],
    "eq_deletes": [(local_path, seq, equality_ids)]}``.

    Replay: manifest list → manifests → entries with status != DELETED
    (2). A null entry ``sequence_number`` inherits the carrying
    manifest's ``sequence_number`` (spec: sequence-number inheritance
    for entries written in the same snapshot). Data manifests
    (content=0) hold data files; delete manifests (content=1) hold
    positional (data_file.content=1) and equality (content=2) delete
    files."""
    meta = table_metadata(table_dir)
    _check_schema_evolution(meta)
    snap = _pick_snapshot(meta, version, as_of_ms)
    ml_path = _localize(snap["manifest-list"], meta, table_dir)
    _, manifests = avroio.read_container(ml_path)
    data: dict[str, tuple[str, int]] = {}
    pos_del: dict[str, int] = {}
    eq_del: dict[str, tuple[int, tuple[int, ...]]] = {}
    for mf in manifests:
        m_path = _localize(mf["manifest_path"], meta, table_dir)
        _, entries = avroio.read_container(m_path)
        for e in entries:
            if e.get("status") == 2:      # DELETED
                continue
            df_rec = e["data_file"]
            seq = e.get("sequence_number")
            if seq is None:
                seq = mf.get("sequence_number", 0)
            fmt = str(df_rec.get("file_format", "")).upper()
            if fmt != "PARQUET":
                raise NotImplementedError(
                    f"iceberg {fmt or 'unknown'} data files not supported "
                    f"(parquet only)")
            local = _localize(df_rec["file_path"], meta, table_dir)
            content = df_rec.get("content", 0)
            if content == 0:
                data[local] = (df_rec["file_path"], seq)
            elif content == 1:
                pos_del[local] = max(pos_del.get(local, 0), seq)
            elif content == 2:
                ids = tuple(df_rec.get("equality_ids") or ())
                if not ids:
                    raise NotImplementedError(
                        "iceberg equality delete file without "
                        "equality_ids — cannot determine match columns")
                part = df_rec.get("partition") or {}
                if any(v is not None for v in part.values()):
                    # spec: a delete file written under a partitioned
                    # spec applies only WITHIN its partition; this
                    # reader applies equality deletes globally, which
                    # would silently drop same-key rows from OTHER
                    # partitions (review r6) — refuse instead
                    raise NotImplementedError(
                        "iceberg PARTITION-SCOPED equality delete "
                        "files are not supported (this reader applies "
                        "equality deletes globally); only "
                        "unpartitioned-spec equality deletes read")
                eq_del[local] = (seq, ids)
            else:
                raise NotImplementedError(
                    f"iceberg data_file.content={content} not supported")
    return {
        "data": sorted((p, uri, seq) for p, (uri, seq) in data.items()),
        "pos_deletes": sorted(pos_del.items()),
        "eq_deletes": sorted((p, s, ids)
                             for p, (s, ids) in eq_del.items()),
    }


def snapshot_data_files(table_dir: str, version: int | None = None,
                        as_of_ms: int | None = None) -> list[str]:
    """Absolute local paths of the parquet data files in a snapshot —
    the FILES-BY-REFERENCE contract (clone, COPY export): refuses when
    the snapshot carries live row-level deletes, because consuming the
    base files alone would resurrect deleted rows. Row-accurate reads go
    through :func:`read_iceberg_table`, which applies the deletes."""
    info = snapshot_files(table_dir, version, as_of_ms)
    if info["pos_deletes"] or info["eq_deletes"]:
        raise NotImplementedError(
            "iceberg snapshot carries v2 row-level delete files — "
            "files-by-reference consumers (CLONE / COPY) cannot carry "
            "them; read the table (deletes applied) and re-materialize "
            "instead")
    return [p for p, _uri, _seq in info["data"]]


def _norm_uri_expr(col, percent_encoded: bool = False):
    """Normalize a file URI/path column to a bare absolute path: strip
    any ``scheme:`` prefix and collapse leading slashes (writers record
    ``file:///abs`` or ``s3://…``). ``percent_encoded=True`` for
    Spark's ``_metadata.file_path``, which percent-encodes the path
    (pathnorm.decoded_file_path) — manifest/delete-file URIs are stored
    raw and must NOT be url-decoded."""
    from pyspark.sql import functions as F

    if percent_encoded:
        from .pathnorm import decoded_file_path
        return decoded_file_path(col)
    return F.regexp_replace(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/")


def _apply_row_deletes(spark, info: dict, meta: dict, table_dir: str):
    """Merge-on-read: scan the data files with ``_metadata`` provenance,
    anti-join the delete files per spec scoping. All delete inputs are
    small relative to data (the format's own assumption) and broadcast;
    the data scan itself stays a normal distributed parquet scan —
    no shuffle is introduced on the data side."""
    from pyspark.sql import functions as F

    paths = [p for p, _uri, _seq in info["data"]]
    base = spark.read.option("mergeSchema", "true").parquet(*paths)
    data_cols = base.columns
    base = base.select(
        "*",
        _norm_uri_expr(F.col("_metadata.file_path"),
                       percent_encoded=True).alias("__ib_path"),
        F.col("_metadata.row_index").alias("__ib_pos"))
    # local-path → data sequence number (and the recorded URI positional
    # deletes reference, normalized the same way)
    seq_rows = [(re.sub(r"^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/",
                        os.path.abspath(p)),
                 re.sub(r"^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/", uri),
                 seq)
                for p, uri, seq in info["data"]]
    seq_df = local_frame(
        spark, seq_rows, "__ib_path string, __ib_uri string, __ib_seq bigint")
    base = base.join(F.broadcast(seq_df), "__ib_path", "left")

    if info["pos_deletes"]:
        dels = []
        for p, dseq in info["pos_deletes"]:
            d = spark.read.parquet(p).select(
                _norm_uri_expr(F.col("file_path")).alias("__ib_uri"),
                F.col("pos").cast("bigint").alias("__ib_pos"),
                F.lit(dseq).cast("bigint").alias("__ib_dseq"))
            dels.append(d)
        pos_df = dels[0]
        for d in dels[1:]:
            pos_df = pos_df.unionByName(d)
        base = base.join(
            F.broadcast(pos_df),
            on=[base["__ib_uri"] == pos_df["__ib_uri"],
                base["__ib_pos"] == pos_df["__ib_pos"],
                pos_df["__ib_dseq"] >= base["__ib_seq"]],
            how="left_anti")

    if info["eq_deletes"]:
        cur = {f["id"]: f["name"] for f in _current_top_fields(meta)}
        for p, dseq, ids in info["eq_deletes"]:
            try:
                names = [cur[i] for i in ids]
            except KeyError as exc:
                raise NotImplementedError(
                    f"iceberg equality delete references field id {exc} "
                    f"absent from the current schema") from None
            d = spark.read.parquet(p).select(*names).withColumn(
                "__ib_dseq", F.lit(dseq).cast("bigint"))
            cond = [base[n].eqNullSafe(d[n]) for n in names]
            cond.append(d["__ib_dseq"] > base["__ib_seq"])
            base = base.join(F.broadcast(d), on=cond, how="left_anti")

    return base.select(*data_cols)


def read_iceberg_table(spark, table_dir: str, version: int | None = None,
                       as_of_ms: int | None = None):
    """Read an Iceberg snapshot as a DataFrame — the interop direction: a
    directory holding Iceberg ``metadata/`` (e.g. written by another
    engine) is queryable with full time travel, no private ``_log``.
    Snapshots carrying v2 row-level deletes read merge-on-read (deletes
    applied via anti-joins)."""
    info = snapshot_files(table_dir, version, as_of_ms)
    if not info["data"]:
        raise FileNotFoundError(
            f"iceberg snapshot at {table_dir!r} lists no data files")
    meta = table_metadata(table_dir)
    flat_renamed, _ = _renamed_field_ids(meta)
    if info["pos_deletes"] or info["eq_deletes"]:
        if flat_renamed:
            raise NotImplementedError(
                "iceberg renamed columns combined with row-level "
                "deletes is not supported")
        return _apply_row_deletes(spark, info, meta, table_dir)
    files = [p for p, _uri, _seq in info["data"]]
    if flat_renamed:
        return _read_with_field_id_projection(spark, table_dir, meta, files)
    return spark.read.option("mergeSchema", "true").parquet(*files)


def history(table_dir: str) -> list[dict]:
    """Snapshot history, newest first (DESCRIBE HISTORY analog)."""
    meta = table_metadata(table_dir)
    return [
        {"version": i, "snapshot_id": s["snapshot-id"],
         "timestamp_ms": s.get("timestamp-ms"),
         "operation": (s.get("summary") or {}).get("operation")}
        for i, s in reversed(list(enumerate(snapshots_chrono(meta), 1)))
    ]


# ------------------------------------------------------------------ write
# Spec-shaped Avro schemas for the two metadata file kinds (Iceberg spec
# "Manifest Lists" / "Manifests"; field-ids are part of the spec shape).

MANIFEST_FILE_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}

MANIFEST_ENTRY_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"], "field-id": 3},
        {"name": "data_file", "field-id": 2, "type": {
            "type": "record", "name": "r2", "fields": [
                {"name": "content", "type": "int", "field-id": 134},
                {"name": "file_path", "type": "string", "field-id": 100},
                {"name": "file_format", "type": "string", "field-id": 101},
                {"name": "partition", "field-id": 102,
                 "type": {"type": "record", "name": "r102", "fields": []}},
                {"name": "record_count", "type": "long", "field-id": 103},
                {"name": "file_size_in_bytes", "type": "long",
                 "field-id": 104},
            ]}},
    ],
}

def _next_meta_version(mdir: str, at_least: int) -> int:
    """Metadata file number and sequence number are INDEPENDENT counters
    in Iceberg (metadata-only commits advance only the former); naming
    the new file v{seq} can clobber an existing version on foreign
    tables (review r6). Next free = max(existing vN, at_least-1) + 1."""
    existing = [int(m.group(1)) for f in os.listdir(mdir)
                if (m := re.fullmatch(r"v(\d+)\.metadata\.json", f))]
    return max(existing + [at_least - 1]) + 1


_ICE_TYPES = {
    "bigint": "long", "int": "int", "smallint": "int", "tinyint": "int",
    "double": "double", "float": "float", "string": "string",
    "boolean": "boolean", "date": "date", "timestamp": "timestamptz",
    "binary": "binary",
}


def _ice_type(simple: str) -> str:
    m = re.fullmatch(r"decimal\((\d+),(\d+)\)", simple)
    if m:
        return f"decimal({m.group(1)}, {m.group(2)})"
    return _ICE_TYPES.get(simple, "string")


def write_table(df, table_dir: str, mode: str = "overwrite",
                timestamp_ms: int | None = None) -> int:
    """Commit ``df`` as the next Iceberg snapshot of ``table_dir`` — the
    EXPORT direction of the interop: tables this writes are spec-shaped
    (v2 metadata, manifest-list/manifest Avro with field-ids,
    ``schema.name-mapping.default`` so readers that expect parquet
    field-ids can map by name). Data is one distributed parquet write;
    metadata is O(files) driver-side JSON/Avro, the format's own
    asymmetry. Appends carry previous files as EXISTING manifest entries
    (one self-contained manifest per snapshot). Returns the snapshot id.
    """
    import time
    import uuid as _uuid

    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    mdir = os.path.join(table_dir, _META_DIR)
    os.makedirs(mdir, exist_ok=True)
    try:
        meta = table_metadata(table_dir)
    except FileNotFoundError:
        meta = None
    # v1 foreign tables have no last-sequence-number (the key is a v2
    # addition) — treat missing as 0 so appends to a v1 table work
    # instead of raising KeyError; the table is upgraded to v2 keys on
    # this write (reader handles both).
    seq = (meta.get("last-sequence-number", 0) + 1) if meta else 1
    snap_id = int(_uuid.uuid4().int % (2**62)) + 1
    ts = int(time.time() * 1000) if timestamp_ms is None else timestamp_ms
    table_uri = f"file://{os.path.abspath(table_dir)}"

    ddir = os.path.join(table_dir, "data", f"s{seq}-{_uuid.uuid4().hex[:8]}")
    df.write.mode("overwrite").parquet(ddir)
    new = sorted(
        os.path.relpath(os.path.join(ddir, f), table_dir)
        for f in os.listdir(ddir) if f.endswith(".parquet"))
    # carried EXISTING entries keep their ORIGINAL data sequence number
    # (spec: the data sequence of the snapshot that ADDED the file) —
    # stamping the new seq would let a later delete snapshot's scoping
    # wrongly skip or hit them. snapshot_data_files (not snapshot_files)
    # so appends onto a table with live row-level deletes refuse.
    carried: list[tuple[str, int]] = []
    if mode == "append" and meta is not None:
        info = snapshot_files(table_dir)   # ONE replay (review r6 perf)
        if info["pos_deletes"] or info["eq_deletes"]:
            raise NotImplementedError(
                "iceberg snapshot carries v2 row-level delete files — "
                "append carries files by reference and cannot carry "
                "them; read the table (deletes applied) and "
                "re-materialize instead")
        carried = [
            (os.path.relpath(p, os.path.abspath(table_dir)), fseq)
            for p, _uri, fseq in info["data"]]

    entries = []
    for status, paths in ((1, [(r, seq) for r in new]), (0, carried)):
        for rel, fseq in paths:          # 1=ADDED, 0=EXISTING
            full = os.path.join(table_dir, rel)
            entries.append({
                "status": status, "snapshot_id": snap_id,
                "sequence_number": fseq,
                "data_file": {
                    "content": 0,
                    "file_path": f"{table_uri}/{rel.replace(os.sep, '/')}",
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": _parquet_rows(full),
                    "file_size_in_bytes": os.path.getsize(full),
                }})
    mpath = os.path.join(mdir, f"m{seq}-{_uuid.uuid4().hex[:8]}.avro")
    avroio.write_container(mpath, MANIFEST_ENTRY_SCHEMA, entries,
                           codec="deflate")
    ml_path = os.path.join(mdir, f"snap-{snap_id}-1-{_uuid.uuid4().hex[:8]}.avro")
    avroio.write_container(ml_path, MANIFEST_FILE_SCHEMA, [{
        "manifest_path": f"file://{mpath}",
        "manifest_length": os.path.getsize(mpath),
        "partition_spec_id": 0, "content": 0,
        "sequence_number": seq, "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_files_count": len(new),
        "existing_files_count": len(carried),
        "deleted_files_count": 0,
        "added_rows_count": sum(e["data_file"]["record_count"]
                                for e in entries if e["status"] == 1),
        "existing_rows_count": sum(e["data_file"]["record_count"]
                                   for e in entries if e["status"] == 0),
        "deleted_rows_count": 0,
    }], codec="deflate")

    fields = [{"id": i + 1, "name": f.name, "required": False,
               "type": _ice_type(f.dataType.simpleString())}
              for i, f in enumerate(df.schema.fields)]
    name_mapping = [{"field-id": fd["id"], "names": [fd["name"]]}
                    for fd in fields]
    snapshot = {
        "snapshot-id": snap_id, "sequence-number": seq,
        "timestamp-ms": ts,
        "manifest-list": f"file://{ml_path}",
        "summary": {"operation": mode if mode == "append" else "overwrite"},
    }
    snaps = (meta["snapshots"] if meta else []) + [snapshot]
    new_meta = {
        "format-version": 2,
        "table-uuid": meta["table-uuid"] if meta else str(_uuid.uuid4()),
        "location": table_uri,
        "last-sequence-number": seq,
        "last-updated-ms": ts,
        "last-column-id": len(fields),
        "schemas": [{"schema-id": 0, "type": "struct", "fields": fields}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {
            "schema.name-mapping.default": json.dumps(name_mapping)},
        "current-snapshot-id": snap_id,
        "snapshots": snaps,
        "snapshot-log": [{"snapshot-id": s["snapshot-id"],
                          "timestamp-ms": s["timestamp-ms"]}
                         for s in snaps],
    }
    mv = _next_meta_version(mdir, seq)
    tmp = os.path.join(mdir, f"v{mv}.metadata.json.tmp")
    with open(tmp, "w") as f:
        json.dump(new_meta, f)
    os.replace(tmp, os.path.join(mdir, f"v{mv}.metadata.json"))
    hint_tmp = os.path.join(mdir, "version-hint.text.tmp")
    with open(hint_tmp, "w") as f:
        f.write(str(mv))
    os.replace(hint_tmp, os.path.join(mdir, "version-hint.text"))
    return snap_id


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


# Delete-manifest entries carry the same spec shape plus the
# equality_ids list (field-id 135) naming the match columns of an
# equality delete file (null for positional deletes).
DELETE_MANIFEST_ENTRY_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"], "field-id": 3},
        {"name": "data_file", "field-id": 2, "type": {
            "type": "record", "name": "r2d", "fields": [
                {"name": "content", "type": "int", "field-id": 134},
                {"name": "file_path", "type": "string", "field-id": 100},
                {"name": "file_format", "type": "string", "field-id": 101},
                {"name": "partition", "field-id": 102,
                 "type": {"type": "record", "name": "r102d", "fields": []}},
                {"name": "record_count", "type": "long", "field-id": 103},
                {"name": "file_size_in_bytes", "type": "long",
                 "field-id": 104},
                {"name": "equality_ids",
                 "type": ["null", {"type": "array", "items": "int"}],
                 "field-id": 135},
            ]}},
    ],
}


def write_deletes(table_dir: str,
                  pos: dict[str, list[int]] | None = None,
                  eq_rows: "list[dict] | None" = None,
                  eq_ids: list[int] | None = None,
                  timestamp_ms: int | None = None) -> int:
    """Commit a v2 ROW-LEVEL DELETE snapshot onto an existing table —
    the merge-on-read write direction (spec "Row-level deletes").

    ``pos`` maps a live data file's LOCAL path → 0-based row positions
    to delete (written as one positional delete parquet: ``file_path``
    recorded-URI column + ``pos``). ``eq_rows``/``eq_ids`` write one
    equality delete parquet whose columns are the current-schema names
    of ``eq_ids``; each row deletes every OLDER-sequence data row
    matching it null-safely. Existing data files (and previously
    committed delete files) are carried as EXISTING entries with their
    original sequence numbers — one self-contained snapshot, the same
    shape :func:`write_table` appends use. Returns the snapshot id.

    Metadata is O(files) driver-side like every other commit; the
    delete parquet files are written with pyarrow (they are small by
    the format's own merge-on-read assumption)."""
    import time
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    meta = table_metadata(table_dir)
    info = snapshot_files(table_dir)
    uri_by_path = {p: uri for p, uri, _seq in info["data"]}
    seq = meta.get("last-sequence-number", 0) + 1
    snap_id = int(_uuid.uuid4().int % (2**62)) + 1
    ts = int(time.time() * 1000) if timestamp_ms is None else timestamp_ms
    table_uri = f"file://{os.path.abspath(table_dir)}"
    ddir = os.path.join(table_dir, "data", f"d{seq}-{_uuid.uuid4().hex[:8]}")
    os.makedirs(ddir, exist_ok=True)

    new_deletes: list[dict] = []   # data_file records for ADDED deletes
    if pos:
        fps, poss = [], []
        for local, positions in sorted(pos.items()):
            local_abs = os.path.abspath(local)
            if local_abs not in uri_by_path:
                raise LookupError(
                    f"positional delete targets {local!r}, not a live "
                    f"data file of the current snapshot")
            for p in sorted(positions):
                fps.append(uri_by_path[local_abs])
                poss.append(int(p))
        path = os.path.join(ddir, "pos-delete-00000.parquet")
        pq.write_table(pa.table(
            {"file_path": pa.array(fps, pa.string()),
             "pos": pa.array(poss, pa.int64())}), path)
        new_deletes.append({
            "content": 1, "file_path": f"file://{path}",
            "file_format": "PARQUET", "partition": {},
            "record_count": len(poss),
            "file_size_in_bytes": os.path.getsize(path),
            "equality_ids": None})
    if eq_rows:
        if not eq_ids:
            raise ValueError("eq_rows requires eq_ids (field ids)")
        cur = {f["id"]: f["name"] for f in _current_top_fields(meta)}
        names = [cur[i] for i in eq_ids]
        path = os.path.join(ddir, "eq-delete-00000.parquet")
        pq.write_table(pa.table(
            {n: [r.get(n) for r in eq_rows] for n in names}), path)
        new_deletes.append({
            "content": 2, "file_path": f"file://{path}",
            "file_format": "PARQUET", "partition": {},
            "record_count": len(eq_rows),
            "file_size_in_bytes": os.path.getsize(path),
            "equality_ids": list(eq_ids)})
    if not new_deletes:
        raise ValueError("write_deletes called with nothing to delete")

    # data manifest: every live data file carried EXISTING at its seq
    data_entries = [{
        "status": 0, "snapshot_id": snap_id, "sequence_number": fseq,
        "data_file": {
            "content": 0, "file_path": uri, "file_format": "PARQUET",
            "partition": {}, "record_count": _parquet_rows(p),
            "file_size_in_bytes": os.path.getsize(p)}}
        for p, uri, fseq in info["data"]]
    # delete manifest: carried deletes (original seq) + the new ones
    del_entries = [{
        "status": 0, "snapshot_id": snap_id, "sequence_number": dseq,
        "data_file": {
            "content": 1, "file_path": f"file://{os.path.abspath(p)}",
            "file_format": "PARQUET", "partition": {},
            "record_count": _parquet_rows(p),
            "file_size_in_bytes": os.path.getsize(p),
            "equality_ids": None}}
        for p, dseq in info["pos_deletes"]]
    del_entries += [{
        "status": 0, "snapshot_id": snap_id, "sequence_number": dseq,
        "data_file": {
            "content": 2, "file_path": f"file://{os.path.abspath(p)}",
            "file_format": "PARQUET", "partition": {},
            "record_count": _parquet_rows(p),
            "file_size_in_bytes": os.path.getsize(p),
            "equality_ids": list(ids)}}
        for p, dseq, ids in info["eq_deletes"]]
    del_entries += [{"status": 1, "snapshot_id": snap_id,
                     "sequence_number": seq, "data_file": rec}
                    for rec in new_deletes]

    mdir = os.path.join(table_dir, _META_DIR)
    m_data = os.path.join(mdir, f"m{seq}-data-{_uuid.uuid4().hex[:8]}.avro")
    avroio.write_container(m_data, MANIFEST_ENTRY_SCHEMA, data_entries,
                           codec="deflate")
    m_del = os.path.join(mdir, f"m{seq}-del-{_uuid.uuid4().hex[:8]}.avro")
    avroio.write_container(m_del, DELETE_MANIFEST_ENTRY_SCHEMA, del_entries,
                           codec="deflate")
    ml_path = os.path.join(
        mdir, f"snap-{snap_id}-1-{_uuid.uuid4().hex[:8]}.avro")

    def _mf(path_, content, n_added, n_existing, rows_added):
        return {
            "manifest_path": f"file://{path_}",
            "manifest_length": os.path.getsize(path_),
            "partition_spec_id": 0, "content": content,
            "sequence_number": seq, "min_sequence_number": 1,
            "added_snapshot_id": snap_id,
            "added_files_count": n_added,
            "existing_files_count": n_existing,
            "deleted_files_count": 0,
            "added_rows_count": rows_added,
            "existing_rows_count": 0, "deleted_rows_count": 0,
        }

    avroio.write_container(ml_path, MANIFEST_FILE_SCHEMA, [
        _mf(m_data, 0, 0, len(data_entries), 0),
        _mf(m_del, 1, len(new_deletes),
            len(del_entries) - len(new_deletes),
            sum(r["record_count"] for r in new_deletes)),
    ], codec="deflate")

    snapshot = {
        "snapshot-id": snap_id, "sequence-number": seq,
        "timestamp-ms": ts, "manifest-list": f"file://{ml_path}",
        "summary": {"operation": "delete"},
    }
    new_meta = dict(meta)
    new_meta["location"] = table_uri
    new_meta["last-sequence-number"] = seq
    new_meta["last-updated-ms"] = ts
    new_meta["current-snapshot-id"] = snap_id
    new_meta["snapshots"] = list(meta.get("snapshots", [])) + [snapshot]
    new_meta["snapshot-log"] = list(meta.get("snapshot-log", [])) + [
        {"snapshot-id": snap_id, "timestamp-ms": ts}]
    mv = _next_meta_version(mdir, seq)
    tmp = os.path.join(mdir, f"v{mv}.metadata.json.tmp")
    with open(tmp, "w") as f:
        json.dump(new_meta, f)
    os.replace(tmp, os.path.join(mdir, f"v{mv}.metadata.json"))
    hint_tmp = os.path.join(mdir, "version-hint.text.tmp")
    with open(hint_tmp, "w") as f:
        f.write(str(mv))
    os.replace(hint_tmp, os.path.join(mdir, "version-hint.text"))
    return snap_id
