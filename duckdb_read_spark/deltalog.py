"""Delta-protocol-shaped commit log for versioned tables.

The reference's metadata notes center on open table formats
(/root/reference/metadata:1-5 — Delta/Iceberg/Hudi): their key property
is that the commit log is a PUBLIC, engine-neutral contract. snapshots.py
implements the same ideas (atomic commits, file manifests, min/max stats,
time travel) in a private JSON format; this module mirrors every commit
into a ``_delta_log/`` directory shaped like the open-source Delta Lake
protocol (https://github.com/delta-io/delta/blob/master/PROTOCOL.md), so

* any Delta-protocol reader can list a table's current files, schema and
  per-file stats straight from ``_delta_log/*.json``;
* this engine can conversely READ a table that has only a ``_delta_log``
  (e.g. written by another engine) — see :func:`delta_snapshot` /
  :func:`read_delta_table`.

Action shapes written (one JSON object per line, spec §Actions):

* ``{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}``,
  lifted to 3/7 with the ``deletionVectors`` feature by the first
  deletion vector
* ``{"metaData": {"id", "format": {"provider": "parquet", "options"},
  "schemaString", "partitionColumns", "configuration", "createdTime"}}``
* ``{"add": {"path", "partitionValues", "size", "modificationTime",
  "dataChange", "stats", "deletionVector"?}}`` — stats is the spec's
  JSON string with ``numRecords`` / ``minValues`` / ``maxValues``; the
  deletion vector is the private manifest's ``dv`` descriptor.
* ``{"remove": {"path", "deletionTimestamp", "dataChange",
  "deletionVector"?}}``
* ``{"commitInfo": {...}}`` (free-form provenance, first line)

Commit files are ``{version:020d}.json`` (0-based like Delta; private log
version N ↔ delta file N-1) created with O_EXCL — the same
exactly-one-writer-wins atomicity as the private log.

Scale shape: like Delta itself, the log is O(commits) small driver-side
JSON files; data I/O stays distributed. Replay cost is O(commits × files)
line parsing — the thing checkpoints bound in full Delta, out of scope
here.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

_DELTA_DIR = "_delta_log"


def _delta_path(table_dir: str, version0: int) -> str:
    return os.path.join(table_dir, _DELTA_DIR, f"{version0:020d}.json")


def _list_versions(table_dir: str) -> list[int]:
    d = os.path.join(table_dir, _DELTA_DIR)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.endswith(".json") and f[:-5].isdigit():
            out.append(int(f[:-5]))
    return sorted(out)


def _read_actions(table_dir: str, version0: int) -> list[dict]:
    with open(_delta_path(table_dir, version0)) as f:
        return [json.loads(line) for line in f if line.strip()]


def _stats_str(entry: dict) -> str:
    """Manifest entry → the spec's stats JSON string (numRecords /
    minValues / maxValues)."""
    stats = entry.get("stats") or {}
    return json.dumps({
        "numRecords": entry.get("rows"),
        "minValues": {c: v[0] for c, v in stats.items()},
        "maxValues": {c: v[1] for c, v in stats.items()},
    })


def _add_action(table_dir: str, entry: dict, ts_ms: int,
                data_change: bool = True) -> dict:
    full = os.path.join(table_dir, entry["path"])
    try:
        size = os.path.getsize(full)
        mtime = int(os.path.getmtime(full) * 1000)
    except OSError:
        size, mtime = 0, ts_ms
    return {"add": {
        "path": entry["path"].replace(os.sep, "/"),
        "partitionValues": {},
        "size": size,
        "modificationTime": mtime,
        "dataChange": data_change,
        "stats": _stats_str(entry),
        **({"deletionVector": entry["dv"]} if entry.get("dv") else {}),
    }}


def _latest(table_dir: str) -> tuple[dict | None, dict]:
    """The latest metaData action already in the delta log (it carries
    the stable table id) and the latest protocol, from one pass."""
    meta = None
    proto = {"minReaderVersion": 1, "minWriterVersion": 2}
    for v in _list_versions(table_dir):
        for a in _read_actions(table_dir, v):
            if "metaData" in a:
                meta = a["metaData"]
            if "protocol" in a:
                proto = dict(a["protocol"])
    return meta, proto


def _lift_protocol(proto: dict, dv: bool, cdf: bool) -> dict:
    """``proto`` with the deletionVectors (reader 3 / writer 7) and
    change-data-feed (writer 4) features a commit needs. Features are
    UNIONED, never dropped: overwriting would silently downgrade what a
    foreign writer declared."""
    out = dict(proto)
    if cdf:
        out["minWriterVersion"] = max(out.get("minWriterVersion", 2), 4)
    if dv:
        out["minReaderVersion"] = max(out.get("minReaderVersion", 1), 3)
        out["minWriterVersion"] = max(out.get("minWriterVersion", 2), 7)
        out["readerFeatures"] = sorted(
            set(out.get("readerFeatures") or []) | {"deletionVectors"})
        out["writerFeatures"] = sorted(
            set(out.get("writerFeatures") or []) | {"deletionVectors"})
    if cdf and out["minWriterVersion"] >= 7:
        # feature-table protocols activate ONLY listed features —
        # without the name, compliant clients treat CDF as off
        out["writerFeatures"] = sorted(
            set(out.get("writerFeatures") or []) | {"changeDataFeed"})
    return out


def _meta_at(table_dir: str, version: int | None = None) -> dict | None:
    """The metaData action in effect AT the requested (private 1-based)
    version — under columnMapping, renames only touch the metaData, so
    time travel must read the schema as of the version, not the latest
    (r10). Falls back to the checkpoint's metaData when the JSON prefix
    was cleaned up."""
    versions0 = _list_versions(table_dir)
    ckpt = _read_checkpoint(table_dir)
    if version is None:
        # mirror delta_snapshot's newest computation: a checkpoint-only
        # table (every JSON commit cleaned up) still has a newest
        # version — the checkpoint's (ADVICE r10: last0 = -1 here made
        # `ckpt[0] <= last0` false, silently dropping the checkpoint
        # metaData and reading columnMapping tables with cm_mode='none')
        if versions0:
            last0 = versions0[-1]
        elif ckpt is not None:
            last0 = ckpt[0]
        else:
            return None
    else:
        last0 = version - 1
    meta = None
    meta_v = -1
    for v in versions0:
        if v > last0:
            break
        for a in _read_actions(table_dir, v):
            if "metaData" in a:
                meta = a["metaData"]
                meta_v = v
    # prefer the checkpoint metaData when it is NEWER than the newest
    # surviving JSON commit that carried one (the rename could live in
    # a cleaned-up commit the checkpoint has absorbed)
    if (ckpt is not None and ckpt[0] <= last0 and ckpt[2] is not None
            and ckpt[0] > meta_v):
        meta = ckpt[2]
    return meta


def _check_protocol(action: dict) -> None:
    """Refuse reader features this replay cannot honor — a table with
    deletion vectors or column mapping read naively would RETURN DELETED
    ROWS / wrong columns, which is strictly worse than failing."""
    p = action.get("protocol")
    if not p:
        return
    feats = set(p.get("readerFeatures") or [])
    # deletionVectors left out: read_delta_table applies DVs (roaring.py)
    # columnMapping left out since r10: read_delta_table projects
    # physical→logical names from the metaData schema (files-by-
    # reference consumers like CLONE refuse separately — a bare file
    # reference would expose the physical col-uuid names)
    # v2Checkpoint left out since r11: _read_checkpoint reads UUID-named
    # manifests (json or parquet) and their _sidecars/ files
    unsupported = feats & {"typeWidening", "variantType"}
    if p.get("minReaderVersion", 1) > 3 or unsupported:
        raise NotImplementedError(
            f"delta reader features not supported: "
            f"{sorted(unsupported) or 'minReaderVersion=' + str(p.get('minReaderVersion'))} "
            f"— refusing to read (naive replay would return wrong rows)")


def _v2_checkpoint_paths(table_dir: str, v: int) -> list[str]:
    """UUID-named V2 checkpoint manifests for version ``v`` (spec §V2
    Checkpoint: ``<version>.checkpoint.<uniqueStr>.{json|parquet}``),
    excluding classic multipart names (two zero-padded numeric
    segments)."""
    import glob as _glob

    out: list[str] = []
    for ext in ("parquet", "json"):
        pat = os.path.join(table_dir, _DELTA_DIR,
                           f"{v:020d}.checkpoint.*.{ext}")
        for p in sorted(_glob.glob(pat)):
            mid = os.path.basename(p).split(".checkpoint.")[1]
            mid = mid.rsplit(".", 1)[0]
            if re.fullmatch(r"\d{10}\.\d{10}", mid):
                continue  # classic multipart part-file
            out.append(p)
    return out


def _read_checkpoint(
        table_dir: str
) -> tuple[int, dict[str, dict], dict | None] | None:
    """(version, files, metaData) from ``_last_checkpoint`` + its
    checkpoint parquet, or None.

    A real delta-spark table cleans up old JSON commits after retention;
    the surviving state lives in the checkpoint — replaying only the JSON
    tail would silently MISS every file added before it.

    r11: V2 checkpoints (spec §V2 Checkpoint Spec) read too — a
    UUID-named manifest (parquet or json) carrying checkpointMetadata
    plus ``sidecar`` actions whose files (under ``_delta_log/_sidecars/``)
    hold the add/remove state; the manifest may also carry actions
    inline. The v2Checkpoint reader feature no longer refuses."""
    last = os.path.join(table_dir, _DELTA_DIR, "_last_checkpoint")
    try:
        with open(last) as f:
            info = json.load(f)
    except (OSError, ValueError):
        return None
    v = int(info["version"])
    parts = info.get("parts")
    if parts:
        paths = [os.path.join(
            table_dir, _DELTA_DIR,
            f"{v:020d}.checkpoint.{i:010d}.{parts:010d}.parquet")
            for i in range(1, parts + 1)]
    else:
        paths = [os.path.join(table_dir, _DELTA_DIR,
                              f"{v:020d}.checkpoint.parquet")]
    import pyarrow.parquet as pq

    def _load_rows(p: str) -> list[dict]:
        if p.endswith(".json"):
            with open(p) as f:
                return [json.loads(ln) for ln in f if ln.strip()]
        return pq.read_table(p).to_pylist()

    # Read every part up front: a stale _last_checkpoint whose parquet was
    # cleaned up (or never copied) must FALL BACK to full JSON replay, not
    # make the table unreadable. Protocol refusals below stay loud.
    try:
        rows = [row for p in paths for row in _load_rows(p)]
    except Exception:
        rows = None
    if rows is None:
        v2 = _v2_checkpoint_paths(table_dir, v)
        if not v2:
            return None
        try:
            # a single manifest is authoritative; multiple candidates
            # (retried writes) are interchangeable per spec — take the
            # first readable one
            rows = _load_rows(v2[0])
        except Exception:
            return None

    files: dict[str, dict] = {}
    meta: dict | None = None

    def _apply(row: dict) -> None:
        nonlocal meta
        if row.get("protocol") is not None:
            proto = dict(row["protocol"])
            if isinstance(proto.get("readerFeatures"), (list, tuple)):
                proto["readerFeatures"] = list(proto["readerFeatures"])
            _check_protocol({"protocol": proto})
        if row.get("metaData") is not None:
            meta = dict(row["metaData"])
        add = row.get("add")
        if add is not None:
            a = dict(add)
            pv = a.get("partitionValues")
            if isinstance(pv, list):  # map type → list of (k, v)
                a["partitionValues"] = dict(pv)
            files[a["path"]] = a
        rm = row.get("remove")
        if rm is not None:
            files.pop(rm["path"], None)

    sidecars: list[str] = []
    for row in rows:
        sc = row.get("sidecar")
        if sc is not None:
            sidecars.append(sc["path"])
            continue
        _apply(row)
    for sc_path in sidecars:
        full = os.path.join(table_dir, _DELTA_DIR, "_sidecars", sc_path)
        # a sidecar named in the manifest MUST exist — a missing one
        # means silently dropping part of the table state; stay loud
        for row in _load_rows(full):
            _apply(row)
    return v, files, meta


def delta_snapshot(table_dir: str, version: int | None = None
                   ) -> tuple[int, dict[str, dict]]:
    """Replay the delta log → (private-log version, {path: add action}).

    ``version`` uses the PRIVATE log's 1-based numbering (delta file
    version-1) so callers address snapshots uniformly. When a
    ``_last_checkpoint`` exists and the requested version is at or after
    it, replay starts from the checkpoint state (JSON commits before it
    may have been cleaned up — spec §Checkpoints); earlier versions
    require their JSON commits to survive. Reader features this replay
    cannot honor (deletion vectors, column mapping) raise instead of
    returning wrong rows.
    """
    versions0 = _list_versions(table_dir)
    ckpt = _read_checkpoint(table_dir)
    if not versions0 and ckpt is None:
        raise FileNotFoundError(f"no _delta_log at {table_dir!r}")
    newest = versions0[-1] if versions0 else ckpt[0]
    last0 = newest if version is None else version - 1
    files: dict[str, dict] = {}
    start = 0
    if ckpt is not None and last0 >= ckpt[0]:
        start = ckpt[0] + 1
        files = dict(ckpt[1])
    elif last0 not in versions0:
        raise LookupError(
            f"delta version {last0} not in log (have {versions0})")
    elif versions0[0] != 0:
        # JSON-only replay needs the complete 0..last0 prefix; a log whose
        # early commits were cleaned up (and whose checkpoint is absent or
        # unreadable) would replay to a state silently missing every file
        # added before the surviving base.
        raise LookupError(
            f"delta log at {table_dir!r} starts at {versions0[0]} with no "
            f"readable checkpoint — cannot replay version {last0}")
    if last0 > newest:
        raise LookupError(
            f"delta version {last0} not in log (have {versions0})")
    for v in versions0:
        if v < start or v > last0:
            continue
        for a in _read_actions(table_dir, v):
            if "protocol" in a:
                _check_protocol(a)
            if "add" in a:
                files[a["add"]["path"]] = a["add"]
            elif "remove" in a:
                files.pop(a["remove"]["path"], None)
    return last0 + 1, files


def _dv_file(table_dir: str, dv: dict) -> str:
    """The file a 'u' (UUID-named under the table dir) or 'p' (path)
    deletionVector descriptor lives in."""
    from . import roaring

    p = dv["pathOrInlineDv"]
    if dv.get("storageType") == "p":
        return p if os.path.isabs(p) else os.path.join(table_dir, p)
    prefix, enc = p[:-20], p[-20:]   # optional random prefix
    u = uuid.UUID(bytes=roaring.z85_decode(enc))
    parts = [table_dir] + ([prefix] if prefix else [])
    return os.path.join(*parts, f"deletion_vector_{u}.bin")


def _load_dv_bytes(table_dir: str, dv: dict) -> bytes:
    """A deletionVector descriptor → its portable RoaringBitmapArray
    bytes (PROTOCOL.md storage types: 'i' inline Z85, 'u' UUID-named
    file under the table dir, 'p' absolute path)."""
    from . import roaring

    st = dv.get("storageType")
    size = dv.get("sizeInBytes")
    if st == "i":
        data = roaring.z85_decode(dv["pathOrInlineDv"])
        return data[:size] if size else data   # Z85 pads to 4 bytes
    if st in ("u", "p"):
        with open(_dv_file(table_dir, dv), "rb") as f:
            buf = f.read()
        off = dv.get("offset")
        return roaring.unframe_dv(buf, 1 if off is None else off, size)
    raise NotImplementedError(
        f"deletion vector storageType {st!r} not supported")


def dv_positions(table_dir: str, dv: dict) -> list[int]:
    """The row indexes a deletionVector descriptor marks deleted."""
    from . import roaring

    return roaring.deserialize_bitmap_array(_load_dv_bytes(table_dir, dv))


def write_dv(table_dir: str, positions: "list[int]") -> dict:
    """Write ``positions`` as a deletion-vector file at the table root
    ('u' storage: version byte, then size/CRC framing) and return its
    ``deletionVector`` descriptor."""
    from . import roaring

    positions = sorted(positions)
    data = roaring.serialize_bitmap_array(positions)
    u = uuid.uuid4()
    with open(os.path.join(table_dir, f"deletion_vector_{u}.bin"),
              "wb") as f:
        f.write(b"\x01" + roaring.frame_dv(data))
    return {"storageType": "u", "pathOrInlineDv": roaring.z85_encode(u.bytes),
            "offset": 1, "sizeInBytes": len(data),
            "cardinality": len(positions)}


def absolute_dv(table_dir: str, dv: dict) -> dict:
    """``dv`` as a descriptor that resolves from any table dir: file
    storage becomes 'p' with an absolute path (a shallow clone
    references the source's vectors this way)."""
    if dv.get("storageType") not in ("u", "p"):
        return dv
    return dict(dv, storageType="p",
                pathOrInlineDv=os.path.abspath(_dv_file(table_dir, dv)))


# Deletion vectors whose TOTAL cardinality is at or below this apply as
# a scan filter on the file's row index, with the positions expanded on
# the driver (an executor-side expansion costs ~0.3-0.5 s per read even
# for a 4-position DV). 128k longs ≈ 2 MB — metadata-sized.
# The count is the bitmaps' own, taken without expanding them; larger
# vectors, and descriptors whose declared cardinality disagrees with
# their bitmap, keep the executor-side expansion and an anti-join, so
# millions of deleted rows never materialize on the driver.
_DV_DRIVER_EXPAND_MAX = 128 * 1024

# The explicit (file, row index) columns a scan carries while DVs apply:
# ``_metadata`` resolves only on the scan relation itself, not through a
# temp view or a join.
ROW_ID_COLS = ("__dv_file", "__dv_pos")


def with_row_ids(df):
    """A raw parquet scan plus its ``ROW_ID_COLS``; the file column is
    the decoded absolute path (``pathnorm``), so it compares equal to
    ``os.path.abspath`` of the manifest path."""
    from .pathnorm import decoded_file_path_sql

    return df.selectExpr(
        "*", f"{decoded_file_path_sql('_metadata.file_path')} AS "
        f"{ROW_ID_COLS[0]}",
        f"_metadata.row_index AS {ROW_ID_COLS[1]}")


def rows_at(table_dir: str, positions: dict[str, "list[int]"]) -> str | None:
    """A SQL condition over a raw scan's ``_metadata`` true exactly on
    the given row indexes of the given files (keys relative to
    ``table_dir`` or absolute); None when no position is given. The row
    index is tested first, so the file path is decoded only on
    candidate rows."""
    from .pathnorm import decoded_file_path_sql, sql_string

    path_sql = decoded_file_path_sql("_metadata.file_path")
    conds, every = [], set()
    for rel, pos in sorted(positions.items()):
        if not pos:
            continue
        every.update(pos)
        path = sql_string(os.path.abspath(os.path.join(table_dir, rel)))
        conds.append(f"({path_sql} = {path} AND "
                     f"_metadata.row_index IN ({', '.join(map(str, pos))}))")
    if not conds:
        return None
    return (f"(_metadata.row_index IN ({', '.join(map(str, sorted(every)))})"
            f" AND ({' OR '.join(conds)}))")


def _dv_rows_df(spark, rows: list[tuple[str, bytes]]):
    """(file path, deleted row index) rows expanded executor-side in
    mapInPandas from ``(abs path, bitmap bytes)`` pairs — the driver
    touches only the COMPRESSED bitmaps."""
    import pandas as pd

    from .catalog import local_frame

    src = local_frame(spark, rows, "path string, dv binary")

    def gen(batches):
        from . import roaring

        for pdf in batches:
            out_p: list[str] = []
            out_i: list[int] = []
            for path, data in zip(pdf["path"], pdf["dv"]):
                for idx in roaring.deserialize_bitmap_array(bytes(data)):
                    out_p.append(path)
                    out_i.append(idx)
            yield pd.DataFrame({"path": out_p, "pos": out_i})

    return src.mapInPandas(gen, "path string, pos bigint")


def mask_rows(spark, df, table_dir: str, dvs: dict[str, dict],
              row_ids: bool = False):
    """Drop the rows the deletion vectors ``dvs`` ({file path relative to
    ``table_dir`` or absolute: descriptor}) mark from ``df``, a raw
    parquet scan; with ``row_ids`` the result carries ``ROW_ID_COLS``.
    Small vectors become one filter on the scan; large ones an anti-join
    against their executor-side expansion (AQE broadcasts the DV side
    when small)."""
    from . import roaring

    items = sorted(dvs.items())
    raw = [_load_dv_bytes(table_dir, dv) for _, dv in items]
    cards = [roaring.bitmap_array_cardinality(data) for data in raw]
    if (sum(cards) <= _DV_DRIVER_EXPAND_MAX
            and cards == [dv.get("cardinality") for _, dv in items]):
        cond = rows_at(table_dir, {
            rel: roaring.deserialize_bitmap_array(data)
            for (rel, _), data in zip(items, raw)})
        if cond is not None:
            df = df.filter(f"NOT {cond}")
        return with_row_ids(df) if row_ids else df
    base = with_row_ids(df)
    dvdf = _dv_rows_df(spark, [
        (os.path.abspath(os.path.join(table_dir, rel)), data)
        for (rel, _), data in zip(items, raw)])
    out = base.join(
        dvdf, on=[base[ROW_ID_COLS[0]] == dvdf["path"],
                  base[ROW_ID_COLS[1]] == dvdf["pos"]], how="left_anti")
    return out if row_ids else out.drop(*ROW_ID_COLS)


def live_deletion_vectors(files: dict[str, dict]) -> dict[str, dict]:
    """The adds of a snapshot that carry a non-empty deletion vector
    (files-by-reference consumers must refuse these — carrying the base
    file alone would resurrect the deleted rows)."""
    return {rel: a["deletionVector"] for rel, a in files.items()
            if a.get("deletionVector")
            and a["deletionVector"].get("cardinality", 1) != 0}


def attach_deletion_vector(table_dir: str, rel_path: str,
                           positions: "list[int] | set[int]") -> int:
    """Commit a deletion vector onto one data file of a FOREIGN Delta
    table (a dir whose only log is ``_delta_log``): writes the DV file
    ('u' storage, version byte + size/CRC framing), then one commit
    that re-adds the file with the ``deletionVector`` descriptor and
    upgrades the protocol to the deletionVectors reader feature —
    exactly the shape delta-spark's DELETE leaves behind. Returns the
    committed version.

    Refuses on tables with a private ``_log`` (their DML goes through
    the snapshots machinery; a mirror-only DV would silently diverge
    the two logs)."""
    if os.path.isdir(os.path.join(table_dir, "_log")):
        raise ValueError(
            "attach_deletion_vector is for foreign _delta_log-only "
            "tables; use DELETE FROM on engine-managed tables")
    _, files = delta_snapshot(table_dir)
    if rel_path not in files:
        raise LookupError(
            f"{rel_path!r} is not a live file of the current snapshot")
    old_add = files[rel_path]
    positions = set(int(p) for p in positions)
    # MERGE with any existing DV — replacing it would resurrect the
    # previously deleted rows (review r6); delta-spark's DELETE merges.
    old_dv = old_add.get("deletionVector")
    if old_dv and old_dv.get("cardinality", 1) != 0:
        positions |= set(dv_positions(table_dir, old_dv))
    add = dict(old_add)
    add["path"] = rel_path
    add["dataChange"] = True      # the visible rows change
    add["deletionVector"] = write_dv(table_dir, sorted(positions))
    # spec reconciliation keys actions by (path, dv uniqueId): without a
    # remove for the OLD entry, external readers see TWO live entries
    # for the file and return every row twice (review r6)
    remove = {"path": rel_path,
              "deletionTimestamp": int(time.time() * 1000),
              "dataChange": True}
    if old_dv:
        remove["deletionVector"] = old_dv
    proto = _lift_protocol(_latest(table_dir)[1], dv=True, cdf=False)
    v = _list_versions(table_dir)[-1] + 1
    actions = [{"protocol": proto}, {"remove": remove}, {"add": add}]
    path = _delta_path(table_dir, v)
    fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    with os.fdopen(fd, "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")
    return v


_CM_PHYS = "delta.columnMapping.physicalName"


def column_mapping_mode(meta: dict | None) -> str:
    """'none' | 'name' | 'id' from metaData.configuration."""
    return ((meta or {}).get("configuration") or {}).get(
        "delta.columnMapping.mode", "none")


def _cm_has_nested_map(t) -> bool:
    """True when a MAP type anywhere in the node has a mapped struct
    inside — the rename can't reach inside map keys/values without
    map_entries round-trips; refuse loudly rather than half-rename."""
    if not isinstance(t, dict):
        return False
    k = t.get("type")
    if k == "struct":
        return any(_cm_has_nested_map(f.get("type")) for f in t["fields"])
    if k == "array":
        return _cm_has_nested_map(t.get("elementType"))
    if k == "map":
        def mapped(n):
            if not isinstance(n, dict):
                return False
            if n.get("type") == "struct":
                return any(_CM_PHYS in (f.get("metadata") or {})
                           or mapped(f.get("type")) for f in n["fields"])
            if n.get("type") == "array":
                return mapped(n.get("elementType"))
            if n.get("type") == "map":
                return mapped(n.get("keyType")) or mapped(
                    n.get("valueType"))
            return False
        return mapped(t.get("keyType")) or mapped(t.get("valueType"))
    return False


def _cm_rename(col, t):
    """Physical→logical projection of one column per the Delta schema
    node ``t`` (spec: every field under columnMapping carries
    delta.columnMapping.physicalName; parquet files store the physical
    names — delta-spark writes them in BOTH 'name' and 'id' modes, so
    name-based projection serves both). Structs rebuild recursively
    (NULL structs stay NULL via the when() guard); arrays transform
    element-wise; scalars pass through."""
    from pyspark.sql import functions as F

    if isinstance(t, dict) and t.get("type") == "struct":
        parts = []
        for f in t["fields"]:
            phys = (f.get("metadata") or {}).get(_CM_PHYS, f["name"])
            parts.append(
                _cm_rename(col.getField(phys), f["type"])
                .alias(f["name"]))
        return F.when(col.isNotNull(), F.struct(*parts))
    if isinstance(t, dict) and t.get("type") == "array":
        et = t.get("elementType")
        if isinstance(et, dict) and et.get("type") in ("struct", "array"):
            return F.transform(col, lambda x: _cm_rename(x, et))
        return col
    return col


def _apply_column_mapping(df, schema: dict):
    """SELECT the logical view of a physically-named scan — one
    projection, zero shuffles; also establishes the declared column
    order (what every Delta reader returns)."""
    from pyspark.sql import functions as F

    cols = []
    for f in schema["fields"]:
        if _cm_has_nested_map(f.get("type")):
            raise NotImplementedError(
                "delta columnMapping with mapped struct fields inside "
                "a MAP type is not supported — the projection cannot "
                "rename inside map entries")
        phys = (f.get("metadata") or {}).get(_CM_PHYS, f["name"])
        cols.append(
            _cm_rename(F.col(f"`{phys}`"), f["type"]).alias(f["name"]))
    return df.select(*cols)


def read_delta_table(spark, table_dir: str, version: int | None = None):
    """Read a table from its ``_delta_log`` alone — the interop direction:
    a directory holding only a Delta-shaped log (e.g. written by another
    engine) is queryable without any private ``_log``.

    Partitioned tables: the spec keeps partition VALUES in the log's
    ``partitionValues`` (data files don't carry the columns). Two read
    strategies:

    * **hive layout** (every real Delta writer's output): all data paths
      contain ``key=val/`` segments for every partition column → one
      ``basePath`` scan relation; Spark's partition discovery restores
      the columns and partition-filter predicates PRUNE directories —
      the 100 TB path (one scan, no driver-side plan blowup).
    * **log-authoritative fallback** (paths not hive-shaped): group adds
      by partition tuple, attach values as typed literals, unionByName.
      Driver-side plan is O(distinct partitions) — fine for the odd
      foreign table, documented in SCALE.md.

    Partition column types come from ``metaData.schemaString`` (a Spark
    StructType JSON per the spec).

    columnMapping (r10): when ``metaData.configuration`` sets
    ``delta.columnMapping.mode`` to 'name' or 'id', parquet files (and
    the log's partitionValues keys, and hive path segments) carry
    PHYSICAL names (``col-<uuid>``); the logical view is one
    physical→logical SELECT projection from the metaData schema's
    per-field ``delta.columnMapping.physicalName`` (delta-spark writes
    physical names in both modes, so name-based projection serves
    'id' too). The metaData is read AS OF the requested version —
    renames only touch the metaData, so time travel across a RENAME
    COLUMN returns the old logical names over the same files."""
    _, files = delta_snapshot(table_dir, version)
    if not files:
        raise FileNotFoundError(f"delta snapshot at {table_dir!r} is empty")
    dvs = live_deletion_vectors(files)
    meta = _meta_at(table_dir, version) or _latest(table_dir)[0] or {}
    cm_mode = column_mapping_mode(meta)
    cm_schema = None
    if cm_mode in ("name", "id"):
        try:
            cm_schema = json.loads(meta["schemaString"])
        except (KeyError, ValueError):
            raise NotImplementedError(
                "delta columnMapping table without a readable metaData "
                "schemaString — cannot derive logical names")
    phys_of = {}
    if cm_schema is not None:
        phys_of = {
            f["name"]: (f.get("metadata") or {}).get(_CM_PHYS, f["name"])
            for f in cm_schema["fields"]}

    def logical_view(df):
        return (_apply_column_mapping(df, cm_schema)
                if cm_schema is not None else df)

    pcols = list(meta.get("partitionColumns") or [])
    if not pcols:  # adds carry values but metaData was lost/foreign-thin
        pcols = sorted({k for a in files.values()
                        for k in (a.get("partitionValues") or {})})
        if cm_schema is not None:
            back = {v: k for k, v in phys_of.items()}
            pcols = sorted(back.get(k, k) for k in pcols)
    # the scan side (paths, partitionValues keys) speaks PHYSICAL names
    ppcols = [phys_of.get(k, k) for k in pcols]
    if not pcols:
        from . import snapshots

        return logical_view(snapshots.read_files(
            spark, table_dir,
            [{"path": p, "dv": dvs.get(p)} for p in sorted(files)], None))
    paths = [os.path.join(table_dir, p) for p in sorted(files)]

    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructType

    ptypes = {}
    try:
        st = StructType.fromJson(json.loads(meta["schemaString"]))
        ptypes = {phys_of.get(f.name, f.name): f.dataType
                  for f in st.fields if f.name in pcols}
    except Exception:
        pass

    def declared_order(df):
        """SELECT * order must match metaData.schemaString (what every
        real Delta reader returns) — withColumn appends partition
        columns at the end otherwise. Under columnMapping the logical
        projection already establishes the order."""
        if cm_schema is not None:
            return logical_view(df)
        try:
            want = [f.name for f in StructType.fromJson(
                json.loads(meta["schemaString"])).fields]
        except Exception:
            return df
        have = set(df.columns)
        ordered = [c for c in want if c in have]
        ordered += [c for c in df.columns if c not in set(ordered)]
        return df.select(*ordered)

    hive = all(
        all(f"/{k}=" in "/" + rel.replace(os.sep, "/") for k in ppcols)
        for rel in files)
    if hive:
        df = (spark.read.option("basePath", table_dir)
              .option("mergeSchema", "true").parquet(*paths))
        if dvs:   # before the casts: _metadata needs the scan relation
            df = mask_rows(spark, df, table_dir, dvs)
        for k in ppcols:  # discovery infers types from dir strings — pin
            df = df.withColumn(
                k, F.col(f"`{k}`").cast(ptypes.get(k, StringType())))
        return declared_order(df)

    if dvs:
        raise NotImplementedError(
            "delta deletion vectors on a NON-hive-layout partitioned "
            "table are not supported (the log-authoritative fallback "
            "unions per-partition scans; no real Delta writer emits "
            "this combination) — remove the DVs or use a hive layout")

    from collections import defaultdict

    groups: dict[tuple, list[str]] = defaultdict(list)
    for rel in sorted(files):
        pv = files[rel].get("partitionValues") or {}
        groups[tuple(pv.get(k) for k in ppcols)].append(rel)
    parts = []
    for vals, rels in sorted(groups.items(),
                             key=lambda kv: [v or "" for v in kv[0]]):
        d = (spark.read.option("mergeSchema", "true")
             .parquet(*[os.path.join(table_dir, r) for r in rels]))
        for k, v in zip(ppcols, vals):
            d = d.withColumn(k, F.lit(v).cast(ptypes.get(k, StringType())))
        parts.append(d)
    out = parts[0]
    for d in parts[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return declared_order(out)


def mirror_commit(
    table_dir: str,
    version: int,
    mode: str,
    new_entries: list[dict],
    carried_entries: list[dict],
    schema_json: str | None,
    timestamp_ms: int | None = None,
    cdc_entries: list[dict] | None = None,
    data_change: bool = True,
) -> None:
    """Mirror one private-log commit as delta file ``version-1``.

    ``new_entries``: manifest entries for files WRITTEN by this commit.
    ``carried_entries``: entries carried by reference (file-level DML /
    OPTIMIZE). Overwrite commits re-add carried files too (idempotent per
    spec — newest add wins), which makes every overwrite commit
    SELF-CONTAINED: replay may start at any overwrite boundary, the same
    property snapshots.vacuum's log truncation relies on. ``'append'``
    removes nothing and adds only genuinely new files.

    ``cdc_entries`` ({path, size} of the commit's ``_change_data/``
    parquet — our sidecar layout IS Delta's CDF layout, data columns plus
    ``_change_type``): mirrored as spec ``cdc`` actions so external CDF
    readers see the feed; the first such commit flips
    ``delta.enableChangeDataFeed=true`` in metaData and lifts the writer
    protocol to the CDF legacy version (4), never downgrading features a
    foreign writer already declared.

    Entries carrying a ``dv`` (the private manifest's deletion vector)
    mirror as adds with that ``deletionVector``; a carried file whose
    vector changed is first removed under its old (path, DV) pair. The
    first such commit lifts the protocol to reader 3 / writer 7 with
    ``deletionVectors`` in both feature lists. A DELETE commits only
    vectors, so its mirror has no ``cdc`` action: the feed is derived
    from the vectors.

    Tables created before the mirror existed are backfilled first
    (:func:`backfill`), so the delta log always starts at version 0.
    """
    ts = int(time.time() * 1000) if timestamp_ms is None else timestamp_ms
    if version > 1 and not _list_versions(table_dir):
        backfill(table_dir, upto_version=version - 1)
    prev: dict[str, dict] = {}
    if version > 1:
        try:
            _, prev = delta_snapshot(table_dir, version - 1)
        except (FileNotFoundError, LookupError):
            prev = {}
    actions: list[dict] = [{"commitInfo": {
        "timestamp": ts, "operation": mode.upper(),
        "engineInfo": "duckdb_read_spark",
    }}]
    meta, proto = _latest(table_dir)
    cdf_on = (meta or {}).get("configuration", {}).get(
        "delta.enableChangeDataFeed") == "true"
    if meta is None or (schema_json is not None
                        and meta.get("schemaString") != schema_json) \
            or (cdc_entries and not cdf_on):
        conf = dict((meta or {}).get("configuration", {}))
        if cdc_entries:
            conf["delta.enableChangeDataFeed"] = "true"
        actions.append({"metaData": {
            "id": (meta or {}).get("id", str(uuid.uuid4())),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_json or (meta or {}).get("schemaString", ""),
            "partitionColumns": [],
            "configuration": conf,
            "createdTime": (meta or {}).get("createdTime", ts),
        }})
    # lift the protocol for the features this commit uses — the CDF
    # legacy writer version, deletion vectors — keeping whatever a
    # foreign writer already declared
    lifted = _lift_protocol(
        proto, dv=any(e.get("dv") for e in new_entries + carried_entries),
        cdf=bool(cdc_entries) or cdf_on)
    if version == 1 or lifted != proto:
        actions.insert(1, {"protocol": lifted})
    for e in (cdc_entries or []):
        actions.append({"cdc": {
            "path": e["path"].replace(os.sep, "/"),
            "partitionValues": {}, "size": e["size"],
            "dataChange": False}})

    def remove(p: str) -> dict:
        rm = {"path": p, "deletionTimestamp": ts, "dataChange": data_change}
        if prev[p].get("deletionVector"):
            rm["deletionVector"] = prev[p]["deletionVector"]
        return {"remove": rm}

    new_paths = {e["path"].replace(os.sep, "/") for e in new_entries}
    if mode == "overwrite":
        carried = {e["path"].replace(os.sep, "/"): e for e in carried_entries}
        # dataChange mirrors the private flag: OPTIMIZE/clustering
        # rewrites carry data_change=False, so external CDF readers
        # deriving a feed from add/remove see NO phantom changes
        # (review r6); with CDC sidecars present, spec readers use the
        # cdc actions exclusively for this commit anyway
        for p in sorted(set(prev) - new_paths - set(carried)):
            actions.append(remove(p))
        # a carried file whose deletion vector changed: spec readers key
        # files by (path, DV), so the old pair is removed before the
        # re-add or they would see both
        for p, e in sorted(carried.items()):
            if p in prev and prev[p].get("deletionVector") != e.get("dv"):
                actions.append(remove(p))
        for e in carried_entries:
            actions.append(_add_action(table_dir, e, ts,
                                       data_change=data_change))
        for e in new_entries:
            actions.append(_add_action(table_dir, e, ts,
                                       data_change=data_change))
    else:
        for e in new_entries:
            if e["path"].replace(os.sep, "/") not in prev:
                actions.append(_add_action(table_dir, e, ts,
                                           data_change=data_change))
    os.makedirs(os.path.join(table_dir, _DELTA_DIR), exist_ok=True)
    # O_EXCL: same exactly-one-writer atomicity as the private log
    with open(_delta_path(table_dir, version - 1), "x") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")


def backfill(table_dir: str, upto_version: int) -> None:
    """Write delta files 0..upto_version-1 for a table whose private log
    predates the mirror: each historical snapshot's file set is replayed
    from the private log (paths only — no footer re-reads, so vacuumed
    files don't block; stats are optional in the spec and omitted)."""
    from . import snapshots

    os.makedirs(os.path.join(table_dir, _DELTA_DIR), exist_ok=True)
    commits = snapshots.read_log(table_dir)
    prev_paths: set[str] = set()
    for c in commits:
        if c.version > upto_version:
            break
        _, abs_paths = snapshots.resolve_snapshot(table_dir, version=c.version)
        cur = set()
        for p in abs_paths:
            rel = os.path.relpath(p, table_dir)
            if os.path.isdir(p):
                for root, _dirs, fnames in os.walk(p):
                    for fn in fnames:
                        if fn.endswith(".parquet"):
                            cur.add(os.path.relpath(
                                os.path.join(root, fn), table_dir)
                                .replace(os.sep, "/"))
            else:
                cur.add(rel.replace(os.sep, "/"))
        ts = c.timestamp_ms
        actions: list[dict] = [{"commitInfo": {
            "timestamp": ts, "operation": c.mode.upper(),
            "engineInfo": "duckdb_read_spark-backfill"}}]
        if c.version == 1:
            actions.append({"protocol": {"minReaderVersion": 1,
                                         "minWriterVersion": 2}})
            actions.append({"metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": "",
                "partitionColumns": [],
                "configuration": {},
                "createdTime": ts,
            }})
        for p in sorted(prev_paths - cur):
            actions.append({"remove": {
                "path": p, "deletionTimestamp": ts, "dataChange": True}})
        # overwrite commits re-add EVERY current file (self-contained, the
        # same invariant mirror_commit keeps) so vacuum's truncation can
        # start replay at any overwrite boundary; appends add only new.
        adds = cur if c.mode == "overwrite" else (cur - prev_paths)
        for p in sorted(adds):
            full = os.path.join(table_dir, p)
            try:
                size = os.path.getsize(full)
                mtime = int(os.path.getmtime(full) * 1000)
            except OSError:
                size, mtime = 0, ts
            actions.append({"add": {
                "path": p, "partitionValues": {}, "size": size,
                "modificationTime": mtime, "dataChange": True}})
        prev_paths = cur
        try:
            with open(_delta_path(table_dir, c.version - 1), "x") as f:
                f.write("\n".join(json.dumps(a) for a in actions) + "\n")
        except FileExistsError:
            pass  # concurrent backfill — first writer wins


def write_checkpoint(table_dir: str, version0: int) -> None:
    """Write a spec-shaped checkpoint parquet for delta version
    ``version0`` plus the ``_last_checkpoint`` pointer (spec §Checkpoints).

    External readers (delta-spark / delta-rs) refuse a log whose lowest
    JSON commit is N>0 unless a checkpoint lets replay start there — so
    vacuum truncation MUST leave one behind. The checkpoint holds the
    reconstructed state at ``version0``: protocol, metaData, and one
    ``add`` row per live file; one action per parquet row, the other
    action columns null. Driver-side pyarrow write — O(files) metadata,
    never touches data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # Prefer the PRIVATE log's manifest: every private commit carries the
    # COMPLETE file list, so the state is right even when the surviving
    # delta base is an append whose JSON alone under-describes the table
    # (replaying the truncated delta tail there would checkpoint a state
    # silently missing earlier files). Foreign _delta_log-only dirs fall
    # back to delta replay, which needs the full 0..N prefix anyway.
    try:
        from . import snapshots as _snap

        entries = _snap.snapshot_file_entries(table_dir,
                                              version=version0 + 1)
        ts_ms = int(time.time() * 1000)
        files = {e["path"].replace(os.sep, "/"):
                 _add_action(table_dir, e, ts_ms)["add"] for e in entries}
    except FileNotFoundError:
        _, files = delta_snapshot(table_dir, version0 + 1)
    meta, proto = _latest(table_dir)
    meta = meta or {}
    str_map = pa.map_(pa.string(), pa.string())
    dv_type = pa.struct([
        ("storageType", pa.string()), ("pathOrInlineDv", pa.string()),
        ("offset", pa.int32()), ("sizeInBytes", pa.int32()),
        ("cardinality", pa.int64())])
    schema = pa.schema([
        ("protocol", pa.struct([("minReaderVersion", pa.int32()),
                                ("minWriterVersion", pa.int32()),
                                ("readerFeatures", pa.list_(pa.string())),
                                ("writerFeatures", pa.list_(pa.string()))])),
        ("metaData", pa.struct([
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string()),
                                  ("options", str_map)])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", str_map),
            ("createdTime", pa.int64()),
        ])),
        ("add", pa.struct([
            ("path", pa.string()),
            ("partitionValues", str_map),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
            ("deletionVector", dv_type),
        ])),
        ("remove", pa.struct([("path", pa.string()),
                              ("deletionTimestamp", pa.int64()),
                              ("dataChange", pa.bool_())])),
        ("txn", pa.struct([("appId", pa.string()),
                           ("version", pa.int64())])),
    ])
    rows: list[dict] = [
        {"protocol": proto},
        {"metaData": {
            "id": meta.get("id", str(uuid.uuid4())),
            "format": {"provider": "parquet",
                       "options": list((meta.get("format") or {})
                                       .get("options", {}).items())},
            "schemaString": meta.get("schemaString", ""),
            "partitionColumns": meta.get("partitionColumns", []),
            "configuration": list(meta.get("configuration", {}).items()),
            "createdTime": meta.get("createdTime", 0),
        }},
    ]
    for p in sorted(files):
        a = dict(files[p])
        a["partitionValues"] = list((a.get("partitionValues") or {}).items())
        a.setdefault("stats", None)
        rows.append({"add": {k: a.get(k) for k in (
            "path", "partitionValues", "size", "modificationTime",
            "dataChange", "stats", "deletionVector")}})
    table = pa.Table.from_pylist(rows, schema=schema)
    ckpt = os.path.join(table_dir, _DELTA_DIR,
                        f"{version0:020d}.checkpoint.parquet")
    tmp = ckpt + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, ckpt)
    last = os.path.join(table_dir, _DELTA_DIR, "_last_checkpoint")
    tmp = last + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"version": version0, "size": len(rows)}, f)
    os.replace(tmp, last)


def truncate(table_dir: str, before_version: int) -> int:
    """Drop delta files below private-log version ``before_version``
    (mirrors snapshots.vacuum's log truncation). Two repairs keep the
    surviving log externally readable: (1) the surviving base delta is
    patched to carry protocol/metaData actions if the removed prefix held
    the only copies; (2) a checkpoint parquet + ``_last_checkpoint`` are
    written for the surviving base (ADVICE r5: delta-spark/delta-rs reject
    a log whose lowest version is N>0 with no checkpoint — replay must be
    able to start at the base). Returns files removed."""
    meta, proto = _latest(table_dir)  # capture BEFORE files disappear
    n = 0
    for v in _list_versions(table_dir):
        if v < before_version - 1:
            try:
                os.remove(_delta_path(table_dir, v))
                n += 1
            except FileNotFoundError:
                pass
    # Patch whenever the surviving base lacks protocol/metaData — not only
    # when THIS call removed files, so a crash between the removals and
    # the patch is repaired by the next vacuum instead of leaving the
    # mirror spec-invalid forever.
    remaining = _list_versions(table_dir)
    if remaining:
        base = remaining[0]
        actions = _read_actions(table_dir, base)
        have = {k for a in actions for k in a}
        patch: list[dict] = []
        if "protocol" not in have:
            patch.append({"protocol": proto})
        if "metaData" not in have and meta is not None:
            patch.append({"metaData": meta})
        if patch:
            head = [a for a in actions if "commitInfo" in a]
            tail = [a for a in actions if "commitInfo" not in a]
            # atomic replace: a crash mid-write must never leave a
            # half-written base commit
            tmp = _delta_path(table_dir, base) + ".tmp"
            with open(tmp, "w") as f:
                f.write("\n".join(json.dumps(a)
                                  for a in head + patch + tail) + "\n")
            os.replace(tmp, _delta_path(table_dir, base))
        if base > 0:
            # a log starting at N>0 needs a checkpoint for external
            # readers to begin replay there
            try:
                write_checkpoint(table_dir, base)
            except Exception:  # pragma: no cover - best-effort mirror
                import warnings

                warnings.warn(f"delta checkpoint write failed at {base}")
    return n
