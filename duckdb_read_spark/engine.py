"""Engine — the embedded-engine API surface (SURVEY §3 E1/E2/E3).

The reference's embedded API is ``DuckDB db; Connection con(db);
con.Query(sql)`` (/root/reference/duckdb:11-15): open a database with a
config, get a connection, execute SQL strings, all entry points funnelling
into one parse→bind→optimize→execute pipeline (/root/reference/duckdb:101).

Spark-first equivalent: ``Engine`` owns (or adopts) a SparkSession; SQL
strings go straight into ``spark.sql`` (Catalyst is the whole pipeline);
DataFrame verbs enter the same pipeline. The extension mechanism the notes
trace in detail (INSTALL/LOAD → dlopen → entry symbol → FinishLoad,
/root/reference/duckdb:23-55) maps to a Python plugin registry: a module
exposing ``register(engine)`` that adds UDFs / named operators, gated by an
allowlist that mirrors safe mode (/root/reference/duckdb:122-125).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .conf import BUILD_CONFS, RUNTIME_CONFS, TABLES, apply_runtime_confs
from . import catalog, deltalog, hudilog, iceberglog, snapshots, sqltext
from .dialect import substitute_select_alias, to_spark_sql
from .sources import sinks


import itertools

# The private view a row-level DML statement reads its target's
# candidate files (with row ids) through, aliased as the target.
_DML_PROBE = "__dml_probe"

# FTS scores views are memoized per session on catalog.SessionState
# (fts_views: (backing path, its (mtime_ns, size), id col, terms, fields,
# k1, b, conjunctive) → temp view name); this process-wide sequence names
# them, so concurrent Engine instances never reuse a view name. Metadata
# only — the scores view holds a PLAN, never rows.
_FTS_VIEW_SEQ = itertools.count(1)

# INSTALL/FORCE INSTALL/LOAD statement shapes (LoadInfo.load_type analog,
# /root/reference/duckdb:30-33).
_SUMMARIZE_RE = re.compile(r"^\s*SUMMARIZE\s+([A-Za-z_][\w.]*)\s*;?\s*$", re.IGNORECASE)
# DuckDB also summarizes arbitrary queries: SUMMARIZE SELECT ...
_SUMMARIZE_QUERY_RE = re.compile(
    r"^\s*SUMMARIZE\s+(?P<body>(?:SELECT|WITH)\b.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DESCRIBE_HISTORY_RE = re.compile(
    r"^\s*DESC(?:RIBE)?\s+HISTORY\s+(?P<name>[A-Za-z_][\w.]*)\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_CREATE_RE = re.compile(
    r"^\s*SHOW\s+CREATE\s+TABLE\s+(?P<name>[A-Za-z_][\w.]*)\s*;?\s*$",
    re.IGNORECASE,
)

# COPY <table | (subquery)> TO 'path' [(OPTIONS)]  (DuckDB COPY statement)
# The opts capture is greedy to the trailing ')' so nested parens (e.g.
# PARTITION_BY (a, b)) survive; the option parser re-splits on top-level
# commas.
_COPY_RE = re.compile(
    r"^\s*COPY\s+(?P<src>\(.*\)|[A-Za-z_][\w.]*)\s+TO\s+'(?P<path>[^']+)'"
    r"\s*(?:\((?P<opts>.*)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# INSERT … ON CONFLICT (keys) DO NOTHING | DO UPDATE SET … — DuckDB's
# upsert sugar; compiled onto the MERGE machinery.
_ON_CONFLICT_RE = re.compile(
    r"^(?P<body>.*?)\s+ON\s+CONFLICT\s*(?:\((?P<keys>[^)]*)\)\s*)?"
    r"DO\s+(?P<act>NOTHING|UPDATE\s+SET\s+.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# COPY <table> FROM 'path' [(OPTIONS)] — the import counterpart: load a
# file into an existing versioned table as one append commit.
_COPY_FROM_RE = re.compile(
    r"^\s*COPY\s+(?P<name>[A-Za-z_]\w*)\s+FROM\s+'(?P<path>[^']+)'"
    r"\s*(?:\((?P<opts>.*)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_EXPLAIN_RE = re.compile(
    r"^\s*EXPLAIN\s+(?P<analyze>ANALYZE\s+)?(?P<body>.+)$",
    re.IGNORECASE | re.DOTALL,
)

_INSTALL_LOAD_RE = re.compile(
    r"^\s*(?:FORCE\s+)?(INSTALL|LOAD)\s+([A-Za-z_][\w.]*|'[^']+'|\"[^\"]+\")"
    r"(?:\s+FROM\s+(?P<repo>[A-Za-z_]\w*|'[^']+'))?"
    r"(?:\s+VERSION\s+(?P<ver>'[^']+'))?\s*;?\s*$",
    re.IGNORECASE,
)

# DDL/DML statement shapes routed onto snapshots.py versioned tables — the
# reference's whole worked example is statement execution through one
# parse→bind→execute pipeline (/root/reference/duckdb:18-55, 101); CREATE/
# INSERT are the first statements an embedded-engine session runs.
_CREATE_TABLE_RE = re.compile(
    r"^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?"
    r"(?P<temp>TEMP(?:ORARY)?\s+)?TABLE\s+"
    r"(?P<ifnx>IF\s+NOT\s+EXISTS\s+)?(?P<name>[A-Za-z_]\w*)\s*(?P<rest>.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+(?P<orrep>OR\s+(?:REPLACE|IGNORE)\s+)?INTO\s+(?P<name>[A-Za-z_]\w*)\s*"
    r"(?:(?P<byname>BY\s+NAME)\s+)?"
    r"(?:\((?P<cols>[^)]*)\)\s*)?(?P<body>(?:SELECT|VALUES|WITH|TABLE)\b.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_TRUNCATE_RE = re.compile(
    r"^\s*TRUNCATE\s+(?:TABLE\s+)?(?P<name>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?P<ifex>IF\s+EXISTS\s+)?(?P<name>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<name>[A-Za-z_]\w*)"
    r"(?:\s+WHERE\s+(?P<pred>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<name>[A-Za-z_]\w*)\s+SET\s+(?P<rest>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _split_join_dml(query: str, kw: str) -> dict | None:
    """Token-level split of the join-DML forms:

      UPDATE name SET <sets> FROM <src> [WHERE <pred>]   (kw='FROM')
      DELETE FROM name USING <src> [WHERE <pred>]        (kw='USING')

    The splitting keywords are matched at PAREN DEPTH ZERO only, so a
    keyword-form substring(x FROM …) in SET, a subquery's inner
    FROM/WHERE, a join USING(k) inside a predicate, and string literals
    containing the words all stay where they belong (review r7-3: a
    regex split on the FIRST occurrence hijacked plain UPDATEs).
    Returns {name, sets?, src, pred} or None when the statement has no
    top-level kw (→ the plain DML paths own it)."""
    toks = sqltext.tokenize(query)
    sig = sqltext.significant(toks)

    def up(pos: int) -> str:
        t = toks[sig[pos]]
        return t.text.upper() if t.kind == "ident" else t.text

    if kw == "FROM":
        if len(sig) < 4 or up(0) != "UPDATE" or up(2) != "SET":
            return None
        name_pos, body_start = 1, 3
    else:
        if len(sig) < 4 or up(0) != "DELETE" or up(1) != "FROM":
            return None
        name_pos, body_start = 2, 3
    if toks[sig[name_pos]].kind != "ident":
        return None
    depth = 0
    kw_pos = where_pos = None
    for pos in range(body_start, len(sig)):
        t = toks[sig[pos]].text
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and toks[sig[pos]].kind == "ident":
            u = t.upper()
            if u == kw and kw_pos is None:
                kw_pos = pos
            elif u == "WHERE" and kw_pos is not None \
                    and where_pos is None:
                where_pos = pos
    if kw_pos is None:
        return None

    def span(a: int, b: int | None) -> str:
        lo = sig[a]
        hi = sig[b] if b is not None else len(toks)
        return "".join(t.text for t in toks[lo:hi]).strip().rstrip(";")

    out = {"name": toks[sig[name_pos]].text,
           "src": span(kw_pos + 1, where_pos),
           "pred": (span(where_pos + 1, None)
                    if where_pos is not None else "true")}
    if kw == "FROM":
        out["sets"] = span(body_start, kw_pos)
    return out


def _split_where_top_level(rest: str) -> tuple[str, str | None]:
    """Split an UPDATE's post-SET text at the TOP-LEVEL WHERE. The old
    regex split on the first ' WHERE ' anywhere — a correlated
    subquery's inner WHERE or a string literal containing the word
    truncated the SET list into garbage (review r7-3). The WHERE must
    sit at depth 0 outside literals and comments (``sqltext``)."""
    pos = sqltext.find_top_level(rest, "WHERE")
    if pos >= 0:
        return rest[:pos].strip(), rest[pos + 5:].strip().rstrip(";")
    return rest.strip().rstrip(";"), None


# MERGE is parsed in two steps: the head regex stops at USING, then the
# source relation (possibly a parenthesized subquery with nested parens) is
# extracted by paren matching, and the tail regex takes over.
_MERGE_HEAD_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<target>[A-Za-z_]\w*)"
    r"(?:\s+(?:AS\s+)?(?P<talias>[A-Za-z_]\w*))?"
    r"\s+USING\s+(?P<rest>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_TAIL_RE = re.compile(
    r"^(?:\s+(?:AS\s+)?(?P<salias>[A-Za-z_]\w*))?"
    r"\s+ON\s+(?P<on>.+?)\s+(?P<clauses>WHEN\s+(?:NOT\s+)?MATCHED\b.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_CLAUSE_RE = re.compile(
    r"WHEN\s+(?P<not>NOT\s+)?MATCHED(?:\s+BY\s+(?P<by>SOURCE|TARGET))?"
    r"(?:\s+AND\s+(?P<cond>.+?))?\s+THEN\s+"
    r"(?P<action>UPDATE\s+SET\s+.+?|DELETE|INSERT\s+.+?)"
    r"(?=\s+WHEN\s+|\s*$)",
    re.IGNORECASE | re.DOTALL,
)

# Short extension names → module paths (the extension repository analog,
# /root/reference/duckdb:38-45: install resolves a name to an artifact).
EXTENSION_ALIASES: dict[str, str] = {
    "vector": "duckdb_read_spark.extensions.vector_ext",
}

# Named extension repositories (the reference's worked example carries
# LoadInfo{repository, version}, /root/reference/duckdb:30-33). "core" is
# the built-in registry; "local" accepts literal module paths (still
# gated by allow_arbitrary_extensions for unknown modules).
EXTENSION_REPOSITORIES: frozenset[str] = frozenset({"core", "local"})


# SET <key> = <value> / SET <key> TO <value> (DuckDB pragma surface,
# /root/reference/duckdb:122-125: safe mode is itself a SET).
_SET_RE = re.compile(
    r"^\s*SET\s+(?:SESSION\s+|GLOBAL\s+)?(?P<key>[A-Za-z_][\w.]*)\s*"
    r"(?:=|\s+TO\s+)\s*(?P<val>[^;]+?)\s*;?\s*$",
    re.IGNORECASE,
)

# SET VARIABLE name = <scalar expr> / RESET VARIABLE name (DuckDB >= 1.1
# session variables; this DuckDB build is 1.0.0, so the surface is pinned
# engine-side without an oracle twin). Dispatched BEFORE _SET_RE so the
# pragma path never sees the VARIABLE keyword as an option name.
_SET_VAR_RE = re.compile(
    r"^\s*SET\s+VARIABLE\s+(?P<name>[A-Za-z_]\w*)\s*=\s*"
    r"(?P<val>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_RESET_VAR_RE = re.compile(
    r"^\s*RESET\s+VARIABLE\s+(?P<name>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
_GETVARIABLE_RE = re.compile(r"getvariable\s*\(", re.IGNORECASE)

# CREATE TYPE name AS ENUM ('a', 'b', …) / DROP TYPE [IF EXISTS] name —
# DuckDB enum types. Dispatched before the generic CREATE/DROP DDL path.
_CREATE_TYPE_RE = re.compile(
    r"^\s*CREATE\s+TYPE\s+(?P<name>[A-Za-z_]\w*)\s+AS\s+ENUM\s*"
    r"\(\s*(?P<vals>.*?)\s*\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_TYPE_RE = re.compile(
    r"^\s*DROP\s+TYPE\s+(?P<ifex>IF\s+EXISTS\s+)?(?P<name>[A-Za-z_]\w*)"
    r"\s*;?\s*$",
    re.IGNORECASE,
)

# read_parquet('path') / read_csv[_auto]('path') / read_json('path') table
# functions — the embedded-engine "SQL directly over files" surface (the
# reference's core theme: an analytical engine over file-resident data).
# Bare single-quoted single-argument form only; file access is external
# access, so safe mode (enable_external_access=false) blocks it.
_READ_FUNC_RE = re.compile(
    r"\b(?:read_(?P<kind>parquet|csv_auto|csv|json_auto|json|delta|iceberg|hudi)"
    r"|(?P<kind2>delta|iceberg)_scan"
    r"|(?P<kind3>parquet_metadata|parquet_schema))\s*\(\s*'(?P<path>[^']+)'"
    r"(?P<args>(?:\s*,[^()]*)?)\)",
    re.IGNORECASE,
)

# table_changes('t', from_v [, to_v]) — the Delta CDF table function
# shape over versioned tables (row-level change feed between versions).
_TABLE_CHANGES_RE = re.compile(
    r"\btable_changes\s*\(\s*'(?P<name>[^']+)'\s*,\s*(?P<a>\d+)\s*"
    r"(?:,\s*(?P<b>\d+)\s*)?\)",
    re.IGNORECASE,
)

# FROM 'path.parquet' — DuckDB's bare path-as-table idiom; rewritten
# onto the read_* TVFs (which carry the safe-mode gate and shims)
_PATH_TABLE_RE = re.compile(
    r"\b(?P<kw>FROM|JOIN)\s+'(?P<path>[^']+\.(?P<ext>parquet|csv|json))'",
    re.IGNORECASE,
)
_PATH_READER = {"parquet": "parquet", "csv": "csv_auto", "json": "json"}

# FROM glob('pattern') — DuckDB's file-listing table function (one `file`
# column). Driver-side listing: a metadata op, like any FS listing.
_GLOB_FUNC_RE = re.compile(
    r"\b(?P<kw>FROM|JOIN)\s+glob\s*\(\s*'(?P<pat>[^']+)'\s*\)",
    re.IGNORECASE,
)

# CREATE STREAM <name> AS SELECT ... — SQL-statement streaming surface:
# the SELECT's (single) source table is re-bound to a file stream over its
# registered parquet path, executed with availableNow semantics into a
# memory sink named <name>.
_CREATE_STREAM_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?STREAM\s+(?P<name>[A-Za-z_]\w*)\s+AS\s+"
    r"(?P<body>.+)$",
    re.IGNORECASE | re.DOTALL,
)

# OPTIMIZE <table> — small-file compaction of a versioned table (the
# table-format OPTIMIZE statement; file-level commit via snapshots.compact).
_OPTIMIZE_RE = re.compile(
    r"^\s*OPTIMIZE\s+(?P<name>[A-Za-z_]\w*)"
    r"(?:\s+ZORDER\s+BY\s*\(?(?P<zcols>[^);]+?)\)?)?\s*;?\s*$",
    re.IGNORECASE)

# DESCRIBE/DESC <table> and SHOW TABLES (DuckDB introspection surface).
_DESCRIBE_RE = re.compile(
    r"^\s*DESC(?:RIBE)?\s+(?P<name>[A-Za-z_][\w.]*)\s*;?\s*$", re.IGNORECASE)
_SHOW_TABLES_RE = re.compile(r"^\s*SHOW\s+TABLES\s*;?\s*$", re.IGNORECASE)
# Statement-head target parse for TARGETED schema-cache invalidation:
# a DML/DDL statement that names its table up front invalidates only that
# view's cached fields, so one commit never forces a whole-catalog schema
# re-read (a 500-table warehouse would pay ~500 schema fetches after
# every INSERT — the r7 q125 regression at fixture scale).
_DML_TARGET_RE = re.compile(
    r"^\s*(?:"
    r"INSERT\s+(?:OR\s+(?:REPLACE|IGNORE)\s+)?INTO"
    r"|UPDATE|DELETE\s+FROM|MERGE\s+INTO|TRUNCATE(?:\s+TABLE)?"
    r"|ALTER\s+TABLE(?:\s+IF\s+EXISTS)?"
    r"|DROP\s+(?:TABLE|VIEW)(?:\s+IF\s+EXISTS)?"
    r"|CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?(?:TABLE|VIEW)"
    r"(?:\s+IF\s+NOT\s+EXISTS)?"
    r"|RESTORE\s+TABLE|OPTIMIZE|COPY"
    r")\s+(?P<tbl>[A-Za-z_][\w.]*)",
    re.IGNORECASE,
)
# Statement heads that cannot change any registered view's schema —
# cached per-table fields all stay valid (the epoch still bumps so
# name-list caches refresh where routes below add views).
# row-level DML re-points its target's view and adds or drops no name
_ROW_DML_RE = re.compile(r"^\s*(?:INSERT|UPDATE|DELETE|MERGE|TRUNCATE)\b",
                         re.IGNORECASE)
_SCHEMA_NEUTRAL_RE = re.compile(
    r"^\s*(?:SET|RESET|PRAGMA|INSTALL|LOAD|SHOW|DESCRIBE|DESC\b|SUMMARIZE"
    r"|CHECKPOINT|COMMENT|ANALYZE|VACUUM|EXPORT|PREPARE|DEALLOCATE|BEGIN"
    r"|COPY\s*\()",
    re.IGNORECASE,
)
# ATTACH '<dir>' AS db / DETACH db — multiple catalogs in one session
# (DuckDB's ATTACH surface; the reference's OpenDB startup motif
# /root/reference/duckdb:120-125 generalized to N warehouses).
_ATTACH_RE = re.compile(
    r"^\s*ATTACH\s+(?:DATABASE\s+)?'(?P<path>[^']+)'"
    r"\s*(?:AS\s+(?P<db>[A-Za-z_]\w*))?\s*(?:\((?P<opts>[^)]*)\)\s*)?;?\s*$",
    re.IGNORECASE,
)
_DETACH_RE = re.compile(
    r"^\s*DETACH\s+(?:DATABASE\s+)?(?P<db>[A-Za-z_]\w*)\s*;?\s*$", re.IGNORECASE)
# PREPARE name AS <stmt> / EXECUTE name(args) / DEALLOCATE name — DuckDB's
# prepared-statement surface ($1/$2… and ? placeholders).
_PREPARE_RE = re.compile(
    r"^\s*PREPARE\s+(?P<name>[A-Za-z_]\w*)\s+AS\s+(?P<body>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_EXECUTE_RE = re.compile(
    r"^\s*EXECUTE\s+(?P<name>[A-Za-z_]\w*)\s*(?:\((?P<args>.*)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# DuckDB's name-matching set operation (Spark SQL has no spelling of it).
_UNION_BY_NAME_RE = re.compile(
    r"\bUNION\s+(?P<all>ALL\s+)?BY\s+NAME\b", re.IGNORECASE)
_DEALLOCATE_RE = re.compile(
    r"^\s*DEALLOCATE\s+(?:PREPARE\s+)?(?P<name>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
# RESTORE TABLE t TO VERSION AS OF n (Delta RESTORE statement shape) — a
# metadata-only commit that re-points the table at an old snapshot.
_RESTORE_RE = re.compile(
    r"^\s*RESTORE\s+(?:TABLE\s+)?(?P<name>[A-Za-z_][\w.]*)\s+TO\s+VERSION"
    r"\s+AS\s+OF\s+(?P<v>\d+)\s*;?\s*$",
    re.IGNORECASE,
)
# ANALYZE [TABLE] t [COMPUTE STATISTICS [FOR COLUMNS c1, …]] — table
# statistics for cost-based decisions (DuckDB keeps table stats for its
# optimizer [ref duckdb:101]; Spark's ANALYZE statement shape)
_ANALYZE_RE = re.compile(
    r"^\s*ANALYZE\s+(?:TABLE\s+)?(?P<name>[A-Za-z_][\w.]*)"
    r"(?:\s+COMPUTE\s+STATISTICS(?:\s+FOR\s+(?:ALL\s+COLUMNS"
    r"|COLUMNS\s+(?P<cols>[\w\s,]+)))?)?\s*;?\s*$",
    re.IGNORECASE,
)
# CREATE/DROP SEQUENCE + nextval/currval (DuckDB id-generation surface)
_CREATE_SEQ_RE = re.compile(
    r"^\s*CREATE\s+(?:(?P<orrep>OR\s+REPLACE)\s+)?SEQUENCE\s+"
    r"(?:(?P<ifnx>IF\s+NOT\s+EXISTS)\s+)?"
    r"(?P<name>[A-Za-z_]\w*)(?P<clauses>(?:\s+[^;]*)?)\s*;?\s*$",
    re.IGNORECASE,
)
# order-free clause list (DuckDB accepts any order)
_SEQ_CLAUSE_RE = re.compile(
    r"START(?:\s+WITH)?\s+(?P<start>-?\d+)"
    r"|INCREMENT(?:\s+BY)?\s+(?P<inc>-?\d+)"
    r"|MINVALUE\s+(?P<minv>-?\d+)"
    r"|MAXVALUE\s+(?P<maxv>-?\d+)"
    r"|NO\s+(?:MINVALUE|MAXVALUE|CYCLE)"
    r"|(?P<cycle>CYCLE)"
    r"|(?P<junk>\S+)",
    re.IGNORECASE,
)
_DROP_SEQ_RE = re.compile(
    r"^\s*DROP\s+SEQUENCE\s+(?:(?P<ifex>IF\s+EXISTS)\s+)?"
    r"(?P<name>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
_SEQ_FUNC_RE = re.compile(
    r"\b(?P<fn>nextval|currval)\s*\(\s*'(?P<name>[^']+)'\s*\)",
    re.IGNORECASE,
)

# COMMENT ON TABLE/COLUMN (DuckDB comment surface; read back through
# the duckdb_tables()/duckdb_columns() catalog TVFs)
_COMMENT_ON_RE = re.compile(
    r"^\s*COMMENT\s+ON\s+(?P<kind>TABLE|COLUMN)\s+"
    r"(?P<name>[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)\s+IS\s+"
    r"(?P<val>'(?:[^']|'')*'|NULL)\s*;?\s*$",
    re.IGNORECASE,
)
_CATALOG_TVF_RE = re.compile(
    r"\bduckdb_(?P<which>tables|columns)\s*\(\s*\)", re.IGNORECASE)

# CHECKPOINT / PRAGMA version / PRAGMA database_size — DuckDB session
# statements with no Spark analog state to flush (every snapshot commit
# is already durable); introspection shapes answered from the warehouse
_CHECKPOINT_RE = re.compile(r"^\s*(?:FORCE\s+)?CHECKPOINT\s*;?\s*$",
                            re.IGNORECASE)
_PRAGMA_VERSION_RE = re.compile(r"^\s*PRAGMA\s+version\s*;?\s*$",
                                re.IGNORECASE)
# DuckDB resource/behavior hints accepted as ADVISORY no-ops (r12):
# tracked for current_setting() read-back, not enforced — Spark's own
# memory manager / shuffle model governs the actual behavior.
_ADVISORY_OPTIONS = {
    "memory_limit", "max_memory", "temp_directory",
    "preserve_insertion_order", "enable_progress_bar",
    "progress_bar_time", "enable_object_cache",
    "checkpoint_threshold", "wal_autocheckpoint",
    "default_null_order", "default_order",
    "max_temp_directory_size", "worker_threads",
}

_PRAGMA_ASSIGN_RE = re.compile(
    r"^\s*PRAGMA\s+(?P<key>[A-Za-z_]\w*)\s*=\s*(?P<val>[^;]+?)\s*;?\s*$",
    re.IGNORECASE)

_PRAGMA_DBSIZE_RE = re.compile(r"^\s*PRAGMA\s+database_size\s*;?\s*$",
                               re.IGNORECASE)

# PRAGMA table_info('t') — DuckDB/SQLite introspection shape
_PRAGMA_TABLE_INFO_RE = re.compile(
    r"^\s*PRAGMA\s+table_info\s*\(\s*'?(?P<name>[\w.]+)'?\s*\)\s*;?\s*$",
    re.IGNORECASE,
)
# DuckDB fts-extension statement surface: PRAGMA create_fts_index /
# drop_fts_index (the notes' worked example IS extension install+use,
# /root/reference/duckdb:23-55)
_PRAGMA_FTS_RE = re.compile(
    r"^\s*PRAGMA\s+(?P<verb>create|drop)_fts_index\s*\("
    r"\s*(?P<args>.*?)\s*\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# CREATE TABLE b [SHALLOW] CLONE a [VERSION AS OF n | TIMESTAMP AS OF 'ts']
# — zero-copy branch (Delta SHALLOW CLONE statement shape; Neon fork motif)
_CLONE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<name>[A-Za-z_]\w*)\s+(?:SHALLOW\s+)?CLONE\s+"
    r"(?P<src>'[^']+'|[A-Za-z_][\w.]*)"
    r"(?:\s+(?:FOR\s+)?VERSION\s+AS\s+OF\s+(?P<ver>\d+)"
    r"|\s+(?:FOR\s+)?TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)')?\s*;?\s*$",
    re.IGNORECASE,
)
# EXPORT DATABASE 'dir' / IMPORT DATABASE 'dir' (DuckDB statement pair):
# dump every managed table + a replayable load.sql; import replays it.
_EXPORT_DB_RE = re.compile(
    r"^\s*EXPORT\s+DATABASE\s+'(?P<path>[^']+)'"
    r"\s*(?:\((?P<opts>[^)]*)\)\s*)?;?\s*$",
    re.IGNORECASE,
)
_IMPORT_DB_RE = re.compile(
    r"^\s*IMPORT\s+DATABASE\s+'(?P<path>[^']+)'\s*;?\s*$", re.IGNORECASE)
# Session transactions (compensation-based): BEGIN pins every versioned
# table's current version; ROLLBACK restores them / drops tables created
# since; COMMIT discards the pins.
_BEGIN_RE = re.compile(
    r"^\s*BEGIN(?:\s+TRANSACTION)?\s*;?\s*$", re.IGNORECASE)
_COMMIT_TXN_RE = re.compile(r"^\s*COMMIT\s*;?\s*$", re.IGNORECASE)
_ROLLBACK_RE = re.compile(r"^\s*ROLLBACK\s*;?\s*$", re.IGNORECASE)
_SHOW_TABLES_FROM_RE = re.compile(
    r"^\s*SHOW\s+TABLES\s+(?:FROM|IN)\s+(?P<db>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_DATABASES_RE = re.compile(
    r"^\s*SHOW\s+DATABASES\s*;?\s*$", re.IGNORECASE)
_USE_RE = re.compile(r"^\s*USE\s+(?P<db>[A-Za-z_]\w*)\s*;?\s*$", re.IGNORECASE)
# CREATE MACRO — DuckDB scalar macros: pure textual expansion at call
# sites (exactly what DuckDB's binder does with macros).
_CREATE_MACRO_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?MACRO\s+(?P<name>[A-Za-z_]\w*)\s*"
    r"\(\s*(?P<params>[^)]*)\)\s+AS\s+(?P<body>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_MACRO_RE = re.compile(
    r"^\s*DROP\s+MACRO\s+(?:TABLE\s+)?(?P<ifex>IF\s+EXISTS\s+)?"
    r"(?P<name>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)

# ALTER TABLE — metadata-only schema evolution over the snapshot log
# (the Delta/Iceberg ADD COLUMN idea: existing files never rewritten).
_ALTER_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[A-Za-z_][\w.]*)\s+(?P<rest>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_ADD_RE = re.compile(
    r"^ADD\s+COLUMN\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<col>[A-Za-z_]\w*)\s+"
    r"(?P<type>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_DROP_RE = re.compile(
    r"^DROP\s+COLUMN\s+(?:IF\s+EXISTS\s+)?(?P<col>[A-Za-z_]\w*)$",
    re.IGNORECASE,
)
_ALTER_RENAME_COL_RE = re.compile(
    r"^RENAME\s+COLUMN\s+(?P<old>[A-Za-z_]\w*)\s+TO\s+(?P<new>[A-Za-z_]\w*)$",
    re.IGNORECASE,
)
_ALTER_RENAME_TO_RE = re.compile(
    r"^RENAME\s+TO\s+(?P<new>[A-Za-z_]\w*)$", re.IGNORECASE)
_ALTER_SET_DEFAULT_RE = re.compile(
    r"^ALTER\s+(?:COLUMN\s+)?(?P<col>[A-Za-z_]\w*)\s+SET\s+DEFAULT\s+"
    r"(?P<expr>.+)$", re.IGNORECASE | re.DOTALL)
_ALTER_DROP_DEFAULT_RE = re.compile(
    r"^ALTER\s+(?:COLUMN\s+)?(?P<col>[A-Za-z_]\w*)\s+DROP\s+DEFAULT$",
    re.IGNORECASE)
_ALTER_TYPE_RE = re.compile(
    r"^ALTER\s+(?:COLUMN\s+)?(?P<col>[A-Za-z_]\w*)\s+"
    r"(?:SET\s+DATA\s+)?TYPE\s+(?P<type>[A-Za-z_][\w()\s,]*?)"
    r"(?:\s+USING\s+(?P<using>.+))?$", re.IGNORECASE | re.DOTALL)
_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(?P<orrep>OR\s+REPLACE\s+)?VIEW\s+"
    r"(?P<name>[A-Za-z_]\w*)\s+AS\s+(?P<body>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)

# information_schema.tables / .columns — the ANSI catalog views BI tools
# introspect with; materialized on demand from the session catalog.
_INFO_SCHEMA_RE = re.compile(
    r"\binformation_schema\s*\.\s*(?P<v>tables|columns)\b", re.IGNORECASE)

_VACUUM_RE = re.compile(
    r"^\s*VACUUM\s+(?P<name>[A-Za-z_][\w.]*)"
    r"(?:\s+RETAIN\s+(?P<keep>\d+)\s+SNAPSHOTS?)?\s*;?\s*$",
    re.IGNORECASE,
)
# CREATE [UNIQUE] INDEX — DuckDB builds an ART index; the Spark-first
# equivalent of a secondary index over immutable files is STORAGE
# CLUSTERING: rewrite the table range-partitioned + sorted on the index
# columns so manifest/row-group min/max stats become selective (zonemaps).
_CREATE_INDEX_RE = re.compile(
    r"^\s*CREATE\s+(?P<uniq>UNIQUE\s+)?INDEX\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>[A-Za-z_]\w*)\s+ON\s+(?P<table>[A-Za-z_][\w.]*)\s*"
    r"\((?P<cols>[^)]*)\)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_INDEX_RE = re.compile(
    r"^\s*DROP\s+INDEX\s+(?P<ifex>IF\s+EXISTS\s+)?(?P<name>[A-Za-z_]\w*)"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
# DESCRIBE works on a query too (DuckDB surface): DESCRIBE SELECT …
_DESCRIBE_QUERY_RE = re.compile(
    r"^\s*DESC(?:RIBE)?\s+(?P<body>(?:SELECT|WITH)\b.+)$",
    re.IGNORECASE | re.DOTALL,
)


class Engine:
    """A session-scoped analytical SQL engine over file-resident data."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        master: str = "local[*]",
        extensions_allowed: bool = True,
        allow_arbitrary_extensions: bool = False,
        warehouse_dir: str | None = None,
    ) -> None:
        if spark is None:
            builder = SparkSession.builder.master(master).appName("duckdb_read_spark")
            for k, v in {**BUILD_CONFS, **RUNTIME_CONFS}.items():
                builder = builder.config(k, v)
            spark = builder.getOrCreate()
        apply_runtime_confs(spark)
        # Executors unpickle module-level pandas UDFs BY REFERENCE, so the
        # package must be importable inside every Python worker — workers
        # don't inherit the driver's sys.path edits, and on a real cluster
        # they don't share its filesystem either. Ship a content-stamped
        # package zip via addPyFile (idempotent; see pkgship.py).
        from .pkgship import ship_package

        ship_package(spark)
        self.spark = spark
        self._extensions_allowed = extensions_allowed
        self._allow_arbitrary_extensions = allow_arbitrary_extensions
        self._functions: dict[str, Callable] = {}
        # DuckDB-core fuzzy-matching scalars the JVM lacks — session-level
        # Arrow UDFs, registered eagerly (cheap; idempotent on a shared
        # SparkSession) so plain SELECTs resolve them like any builtin
        from .functions.udfs import register_fuzzy_udfs

        self._functions.update(register_fuzzy_udfs(spark))
        self._extensions: dict[str, object] = {}
        self._versioned: dict[str, str] = {}  # view name -> table_dir
        # session TEMP tables (name -> tempdir) and, where a temp name
        # collides with a permanent table, the shadowed warehouse dir to
        # restore on DROP — DuckDB's temp catalog shadows, never clobbers
        self._temp_tables: dict[str, str] = {}
        self._temp_shadow: dict[str, str] = {}
        self._table_paths: dict[str, str] = {}  # view name -> parquet path
        # view name -> (ts_col, partition_col, granularity) for tables
        # registered through the time-partitioned materialization path
        self._time_partitioned: dict[str, tuple[str, str, str]] = {}
        # db name -> {table name -> backing view name} for ATTACHed
        # warehouses; SQL references ``db.table`` resolve through this
        self._attached: dict[str, dict[str, str]] = {}
        # prepared-statement name -> body SQL text (placeholders intact)
        self._prepared: dict[str, str] = {}
        self._advisory_options: dict[str, str] = {}
        # ENUM type name -> allowed values (CREATE TYPE ... AS ENUM).
        # Columns declared with an enum type store as VARCHAR with an
        # auto-generated CHECK constraint, so validity survives restarts
        # through the constraints sidecar even if the type is dropped.
        # The definitions themselves persist in a warehouse _types.json
        # sidecar (same pattern as sequences/comments), so post-restart
        # CREATE TABLE/DROP TYPE keep working; lazily loaded.
        self._enum_types: dict[str, list[str]] | None = None
        # SQL session variables (DuckDB >= 1.1 SET VARIABLE surface):
        # name -> evaluated Python value; getvariable('name') substitutes
        # the value as a typed literal at statement-rewrite time
        self._variables: dict[str, object] = {}
        # macro name -> (param names, body text) for call-site expansion
        self._macros: dict[str, tuple[list[str], str]] = {}
        # open transaction: {table name -> version at BEGIN}; None = none
        self._txn_baseline: dict[str, int] | None = None
        # index name -> (table view, columns, unique) — storage-clustering
        # metadata; unique indexes are re-validated on INSERT
        self._indexes: dict[str, tuple[str, tuple[str, ...], bool]] = {}
        # FTS index metadata (DuckDB fts extension surface): table ->
        # {"id": id column, "fields": [text columns]}
        self._fts_indexes: dict[str, dict] = {}
        # the frame DDL/DML statements return, analyzed on first use
        self._empty_df: DataFrame | None = None
        # Managed-table root for CREATE TABLE/CTAS; created lazily so a
        # query-only session never touches disk.
        self._warehouse = warehouse_dir
        # Persistent catalog: a new Engine over an existing warehouse
        # rediscovers every table whose _log/ is on disk (the reference's
        # OpenDB startup motif, /root/reference/duckdb:120-125) — CREATE
        # TABLE survives a session restart.
        if warehouse_dir is not None:
            import os

            if os.path.isdir(warehouse_dir):
                for d in sorted(os.listdir(warehouse_dir)):
                    td = os.path.join(warehouse_dir, d)
                    if os.path.isdir(os.path.join(td, "_log")):
                        self.register_versioned(d, td)

    # -- sources (binder name resolution analog, /root/reference/duckdb:34-37)

    def register_parquet(
        self,
        name: str,
        path: str,
        time_partition: bool | str = False,
        granularity: str = "day",
        materialize_dir: str | None = None,
    ) -> DataFrame:
        """Register a parquet file/glob as ``name``; ns-timestamp shim applied.

        ``time_partition`` fixes the SCALE.md §3.4 scan-cost cliff at the
        source: the ns-shim view computes its timestamp column as an
        expression, so time predicates can never reach the parquet scan.
        With ``time_partition=True`` (materialize on any ns-shimmed column)
        or ``time_partition='<col>'`` (explicit timestamp column), the data
        is materialized ONCE into a hive time-partitioned layout
        (sinks.write_time_partitioned) under ``materialize_dir`` (default:
        a per-table dir inside the warehouse) and the view re-registered
        over it — ``<col>`` becomes a real column again (row-group min/max
        pushdown works) and the derived ``p_date`` partition column is part
        of the visible schema, as in any hive/Delta partitioned table.
        Literal time predicates in SQL then additionally prune whole
        partitions via the generated-partition-filter injection in
        ``sql()`` (the Delta generated-columns idea). Re-registration
        reuses an existing materialization (idempotent)."""
        import os

        df = catalog.read_parquet(self.spark, path)
        ts_col: str | None = None
        if isinstance(time_partition, str):
            ts_col = time_partition
        elif time_partition:
            ns_cols = catalog.parquet_schema(self.spark, path).ns_columns
            ts_like = [f.name for f in df.schema.fields
                       if f.dataType.simpleString() == "timestamp"]
            # prefer ns-shimmed columns (the expression-computed ones that
            # motivated this path); else accept a single native ts column
            shimmed = [c for c in ts_like if c in ns_cols]
            pick = shimmed or ts_like
            if len(pick) != 1:
                raise ValueError(
                    f"time_partition=True needs exactly one candidate "
                    f"timestamp column in {path!r}, found {pick or 'none'} — "
                    f"pass time_partition='<col>' to choose explicitly")
            ts_col = pick[0]
        if ts_col is not None:
            types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
            if types.get(ts_col) != "timestamp":
                raise ValueError(
                    f"time_partition column {ts_col!r} is "
                    f"{types.get(ts_col, 'absent')}, need timestamp")
            import json

            dest = materialize_dir or os.path.join(
                self._warehouse_dir(), f"__tp__{name}")
            # reuse only a COMPLETE materialization (_SUCCESS marker) OF
            # THE SAME (source, ts_col, granularity) — a half-written dir
            # from a crashed run, or one built for a different source or
            # granularity (whose partition-value format would make the
            # injected predicates silently wrong), is overwritten
            meta = {"source": os.path.abspath(path), "ts_col": ts_col,
                    "granularity": granularity}
            meta_path = os.path.join(dest, "_tp_meta.json")
            reusable = os.path.exists(os.path.join(dest, "_SUCCESS"))
            if reusable:
                try:
                    with open(meta_path) as f:
                        reusable = json.load(f) == meta
                except (OSError, ValueError):
                    reusable = False
            if not reusable:
                sinks.write_time_partitioned(
                    df, dest, ts_col=ts_col, granularity=granularity,
                    mode="overwrite")
                with open(meta_path, "w") as f:
                    json.dump(meta, f)
            df = self.spark.read.parquet(dest)
            self._time_partitioned[name] = (ts_col, "p_date", granularity)
            path = dest
        else:
            self._time_partitioned.pop(name, None)
        df.createOrReplaceTempView(name)
        self._table_paths[name] = path
        self._bump_registration_epoch(name)
        return df

    def register_csv(self, name: str, path: str, schema=None, header: bool = True) -> DataFrame:
        reader = self.spark.read.option("header", str(header).lower())
        df = reader.csv(path, schema=schema) if schema is not None else reader.option(
            "inferSchema", "true").csv(path)
        df.createOrReplaceTempView(name)
        self._bump_registration_epoch(name)
        return df

    def register_json(self, name: str, path: str, schema=None) -> DataFrame:
        df = self.spark.read.json(path, schema=schema)
        df.createOrReplaceTempView(name)
        self._bump_registration_epoch(name)
        return df

    # -- versioned tables (table-format/metadata-log theme,
    #    /root/reference/metadata:1-17; snapshots.py holds the log protocol)

    def table_changes(self, name: str, from_version: int,
                      to_version: int | None = None) -> DataFrame:
        """Row-level change feed for a versioned table between two
        versions (inclusive) — the Delta CDF ``table_changes`` surface.
        Columns: the table's data columns plus ``_change_type``
        (insert/delete/update_preimage/update_postimage),
        ``_commit_version``, ``_commit_timestamp``. Also reachable from
        SQL as ``FROM table_changes('t', from_v[, to_v])``."""
        if name not in self._versioned:
            raise ValueError(
                f"table_changes: {name!r} is not a versioned table")
        return snapshots.table_changes(
            self.spark, self._versioned[name], from_version, to_version)

    def read_stream(self, name: str,
                    max_files_per_trigger: int | None = None) -> DataFrame:
        """Streaming DataFrame over a versioned table's append history
        (the Delta streaming-source idea): the table doubles as a durable
        message log. Append-only histories only — overwrite commits
        refuse (a file stream cannot retract emitted rows; use
        ``table_changes`` for DML-capable tables)."""
        from .streaming.source import read_stream_table

        if name not in self._versioned:
            raise ValueError(
                f"read_stream: {name!r} is not a versioned table")
        return read_stream_table(self.spark, self._versioned[name],
                                 max_files_per_trigger)

    def consume_changes(self, name: str, cursor_path: str,
                        auto_ack: bool = True) -> DataFrame:
        """Incremental change-feed consumption with a durable cursor.

        Returns the feed for every version committed since the last
        acknowledged one. The first call initializes the cursor at the
        table's current version (empty feed — consumers start from
        'now' like a stream checkpoint; delete the cursor file to
        restart). ``auto_ack=True`` advances the cursor before
        returning — at-least-once only for crashes DURING this call; a
        consumer that crashes while processing the returned rows skips
        them. For true at-least-once, pass ``auto_ack=False`` and call
        :meth:`ack_changes` after processing succeeds — an unacked
        consumer re-reads the same versions on its next call
        (review r6)."""
        import json
        import os

        if name not in self._versioned:
            raise ValueError(
                f"consume_changes: {name!r} is not a versioned table")
        table_dir = self._versioned[name]
        commits = snapshots.read_log(table_dir)
        cur = commits[-1].version if commits else 0
        last = None
        try:
            with open(cursor_path) as f:
                last = int(json.load(f)["version"])
        except (OSError, ValueError, KeyError, TypeError):
            pass
        if last is None or last >= cur:
            # no prior cursor (start from now) or nothing new
            out = self.table(name).limit(0).selectExpr(
                "*", "CAST(NULL AS STRING) AS _change_type",
                "CAST(NULL AS INT) AS _commit_version",
                "CAST(NULL AS TIMESTAMP) AS _commit_timestamp")
            pending = cur if last is None else last
        else:
            out = snapshots.table_changes(
                self.spark, table_dir, last + 1, cur)
            out = out.localCheckpoint(eager=True)   # pin vs vacuum races
            pending = cur
        tmp = cursor_path + ".tmp"
        doc = ({"version": pending} if auto_ack or last is None
               else {"version": last, "pending": pending})
        with open(tmp, "w") as f:
            json.dump(doc, f)
        os.replace(tmp, cursor_path)
        return out

    def ack_changes(self, name: str, cursor_path: str) -> None:
        """Acknowledge the last ``consume_changes(..., auto_ack=False)``
        delivery: the cursor's pending version becomes the acked one.
        No-op if nothing is pending."""
        import json
        import os

        try:
            with open(cursor_path) as f:
                doc = json.load(f)
        except (OSError, ValueError):
            return
        if not isinstance(doc, dict) or "pending" not in doc:
            return
        tmp = cursor_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": doc["pending"]}, f)
        os.replace(tmp, cursor_path)

    def write_versioned(self, df: DataFrame, table_dir: str,
                        mode: str = "overwrite"):
        """Commit ``df`` as the next snapshot of a versioned table."""
        return snapshots.write_table(df, table_dir, mode=mode)

    def register_versioned(
        self,
        name: str,
        table_dir: str,
        version: int | None = None,
        as_of_ms: int | None = None,
    ) -> DataFrame:
        """Register a snapshot of a versioned table as view ``name``.

        Default = latest snapshot; ``version=`` / ``as_of_ms=`` time-travel.
        The name also becomes addressable in SQL as
        ``name VERSION AS OF <n>`` / ``name TIMESTAMP AS OF '<ts>'``.
        """
        df = snapshots.read_table(self.spark, table_dir, version, as_of_ms)
        # Stats-driven broadcast (the ANALYZE payoff): Spark's static
        # estimate for a scan is the ON-DISK byte count, which overshoots
        # badly for small tables spread over many files (per-file footer/
        # dictionary overhead dominates) — so a tiny dim just above the
        # threshold on disk plans as a sort-merge join. Fresh ANALYZE
        # stats carry the actual serialized size; when that fits the
        # session's autoBroadcastJoinThreshold, bake a broadcast hint
        # into the view. Stats from any EARLIER version are stale (the
        # table changed since ANALYZE) and never applied.
        if version is None and as_of_ms is None:
            stats = snapshots.read_stats(table_dir)
            if stats is not None:
                commits = snapshots.read_log(table_dir)
                cur = commits[-1].version if commits else 0
                thr = self._broadcast_threshold()
                if (stats.get("version") == cur and thr > 0
                        and stats.get("est_bytes", thr + 1) <= thr):
                    df = df.hint("broadcast")
        # re-pointing a view that is already registered (every commit)
        # keeps the name list; a new name invalidates it
        cached = getattr(self, "_names_cache", None)
        repoint = (cached is not None
                   and cached[0] == getattr(self, "_names_epoch", 0)
                   and name.lower() in {n.lower() for n in cached[1]})
        df.createOrReplaceTempView(name)
        self._versioned[name] = table_dir
        self._bump_registration_epoch(name, keep_names=repoint)
        return df

    # -- attached catalogs (ATTACH/DETACH; DuckDB multi-database surface,
    #    generalizing the OpenDB motif /root/reference/duckdb:120-125)

    def attach(self, path: str, db: str | None = None) -> dict[str, str]:
        """Attach a warehouse directory as catalog ``db``.

        Every versioned table in ``path`` (a subdirectory carrying a
        ``_log/`` or ``_delta_log/``) and every loose parquet file/dataset
        becomes addressable as ``db.table`` in SQL (and through
        ``Engine.table('db.table')``). Versioned tables keep their full
        surface — DML, time travel, OPTIMIZE — because they register
        through the same path as local tables. Returns {table: view}."""
        import os

        if not self._extensions_allowed:
            raise PermissionError(
                "ATTACH reads external paths — disabled in safe mode "
                "(enable_external_access=false)")
        if db is None:
            db = re.sub(r"\W+", "_",
                        os.path.basename(os.path.normpath(path))) or "db"
        if db in self._attached:
            raise ValueError(f"ATTACH: database {db!r} is already attached")
        if not os.path.isdir(path):
            raise ValueError(f"ATTACH: {path!r} is not a directory")
        tables: dict[str, str] = {}
        for entry in sorted(os.listdir(path)):
            p = os.path.join(path, entry)
            if os.path.isdir(p) and (
                os.path.isdir(os.path.join(p, "_log"))
                or os.path.isdir(os.path.join(p, "_delta_log"))
                or iceberglog.is_iceberg_table(p)
                or hudilog.is_hudi_table(p)
            ):
                tname = entry
                self.register_versioned(f"{db}__{tname}", p)
            elif entry.endswith(".parquet"):
                tname = entry[: -len(".parquet")]
                self.register_parquet(f"{db}__{tname}", p)
            elif os.path.isdir(p) and any(
                f.endswith(".parquet") for f in os.listdir(p)
            ):
                tname = entry
                self.register_parquet(f"{db}__{tname}", p)
            else:
                continue
            tables[tname] = f"{db}__{tname}"
        self._attached[db] = tables
        # keep_fields is safe here: every view this loop registered went
        # through register_parquet/register_versioned, each of which
        # already popped ITS name's cached fields — so a re-ATTACH after
        # DETACH (or a colliding db__t name) cannot see stale schema
        # entries (pinned by test_attach_reattach_schema_fresh)
        self._bump_registration_epoch(keep_fields=True)
        return tables

    def use(self, db: str) -> None:
        """``USE db``: make an attached catalog's tables reachable by bare
        name (search-path semantics: a bare name already registered
        locally wins; only unshadowed names get an alias view). ``USE
        main`` (or ``memory``) resets to the local namespace."""
        for v in getattr(self, "_use_aliases", []):
            # a local CREATE TABLE / register_* may have SHADOWED the
            # alias name since the USE — its view is now a real local
            # table, not our alias; dropping it would orphan
            # self._versioned/_table_paths entries (ADVICE r5)
            if v in self._versioned or v in self._table_paths:
                continue
            self.spark.catalog.dropTempView(v)
            self._bump_registration_epoch(v)  # alias fields now stale
        self._use_aliases: list[str] = []
        self._use_alias_map: dict[str, str] = {}
        if db in ("main", "memory"):
            self._bump_registration_epoch(keep_fields=True)
            return
        if db not in self._attached:
            raise ValueError(f"USE: unknown database {db!r}")
        existing = {n.lower() for n in self._view_names()}
        for tname, view in self._attached[db].items():
            if tname.lower() not in existing:
                self.spark.table(view).createOrReplaceTempView(tname)
                self._use_aliases.append(tname)
                # temp views freeze the resolved plan, so _refresh_table
                # must re-point aliases after DML on the backing view
                self._use_alias_map[tname] = view
                self._bump_registration_epoch(tname)  # alias may shadow
        self._bump_registration_epoch(keep_fields=True)

    def detach(self, db: str) -> None:
        """Drop an attached catalog and every view it registered."""
        tables = self._attached.pop(db, None)
        if tables is None:
            raise ValueError(f"DETACH: database {db!r} is not attached")
        # bare-name aliases created by USE over this db die with it
        for v in list(getattr(self, "_use_aliases", [])):
            if v in tables:
                self.spark.catalog.dropTempView(v)
                self._use_aliases.remove(v)
                getattr(self, "_use_alias_map", {}).pop(v, None)
                self._bump_registration_epoch(v)
        for view in tables.values():
            self.spark.catalog.dropTempView(view)
            self._versioned.pop(view, None)
            self._table_paths.pop(view, None)
            self._time_partitioned.pop(view, None)
            self._bump_registration_epoch(view)

    def _execute_prepared(self, name: str, args: str | None,
                          dialect: str) -> DataFrame:
        """EXECUTE a PREPAREd statement: substitute ``$n`` / ``?``
        placeholders (outside string literals) with the literal argument
        text and re-enter ``sql()`` — prepared DML/DDL work too. Arguments
        are SQL fragments, split on top-level commas."""
        body = self._prepared.get(name)
        if body is None:
            raise ValueError(f"EXECUTE: unknown prepared statement {name!r}")
        vals = sqltext.split_top_commas(args or "")

        def dollar(m: re.Match) -> str:
            i = int(m.group(1))
            if not 1 <= i <= len(vals):
                raise ValueError(
                    f"EXECUTE {name}: ${i} has no argument "
                    f"(got {len(vals)})")
            return vals[i - 1]

        out = sqltext.sub(r"\$(\d+)", dollar, body)
        if "?" in out:
            pos = {"i": 0}

            def qmark(m: re.Match) -> str:
                if pos["i"] >= len(vals):
                    raise ValueError(
                        f"EXECUTE {name}: more ? placeholders than "
                        f"arguments ({len(vals)})")
                v = vals[pos["i"]]
                pos["i"] += 1
                return v

            out = sqltext.sub(r"\?", qmark, out)
        return self.sql(out, dialect=dialect)

    def _resolve_qualified(self, query: str) -> str:
        """Rewrite ``db.table`` (and DuckDB's ``db.main.table``) references
        to attached catalogs into their backing view names. Column paths
        like ``db.t.col`` work because only the ``db.t`` head matches.
        Unknown table names under a known db are left for the analyzer to
        report. Literal/comment spans are respected per pass."""
        if not self._attached or "." not in query:
            return query
        out = query
        for db, tables in self._attached.items():
            pat = re.compile(
                rf"\b{re.escape(db)}\.(?:main\.)?(?P<t>[A-Za-z_]\w*)")

            def repl(m: re.Match) -> str:
                view = tables.get(m.group("t"))
                return view if view is not None else m.group(0)

            out = sqltext.sub(pat, repl, out)
        return out

    def table_history(self, name_or_dir: str) -> list[dict]:
        """Commit history (DESCRIBE HISTORY analog) by view name or path."""
        td = self._versioned.get(name_or_dir, name_or_dir)
        if not snapshots.read_log(td) and iceberglog.is_iceberg_table(td):
            return iceberglog.history(td)
        return snapshots.history(td)

    def optimize_table(
        self,
        name: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        small_file_bytes: int | None = None,
    ) -> DataFrame:
        """Small-file compaction (OPTIMIZE statement): bin-pack files below
        the small-file threshold into ~target-size files as one new
        file-level snapshot commit; right-sized files are carried by
        reference. Returns a one-row stats DataFrame."""
        if name not in self._versioned:
            raise ValueError(f"OPTIMIZE unknown table {name!r} — "
                             "only versioned tables can be compacted")
        stats = snapshots.compact(
            self.spark, self._versioned[name],
            target_file_bytes=target_file_bytes,
            small_file_bytes=small_file_bytes,
        )
        self._refresh_table(name)
        return catalog.local_frame(
            self.spark,
            [(stats["rewritten_files"], stats["carried_files"],
              stats["new_files"], stats["version"])],
            "rewritten_files int, carried_files int, new_files int, version int",
        )

    def zorder_table(self, name: str, cols: list[str],
                     bits: int = 12,
                     partitions: int | None = None) -> DataFrame:
        """``OPTIMIZE t ZORDER BY (a, b)`` (the Delta statement shape):
        rewrite the versioned table clustered on the Morton interleave of
        ``cols`` as one overwrite commit, so manifest/row-group min/max
        stats prune range predicates on ANY listed dimension — the
        multi-column generalization of CREATE INDEX's 1-d clustering.
        Cost: one bounds agg (2 scalars/col) + one range exchange + the
        rewrite; history/time travel preserved like any commit."""
        if name not in self._versioned:
            raise ValueError(f"OPTIMIZE ZORDER BY: unknown versioned "
                             f"table {name!r}")
        from pyspark.sql import functions as F

        from .sources.sinks import zorder_key

        df = self.table(name)
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(f"OPTIMIZE ZORDER BY: unknown column(s) "
                             f"{missing}")
        types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        numeric = ("tinyint", "smallint", "int", "bigint", "float",
                   "double", "date", "timestamp")
        bad = [c for c in cols
               if not types[c].startswith(numeric + ("decimal",))]
        if bad:
            raise ValueError(
                f"OPTIMIZE ZORDER BY: column(s) {bad} are not "
                f"numeric/temporal — the Morton interleave needs "
                f"min-max-normalizable values")
        bits = min(bits, 63 // len(cols))
        # date/timestamp normalize through their numeric epoch
        def num(c):
            t = types[c]
            if t == "date":
                return F.datediff(F.col(c), F.lit("1970-01-01"))
            if t == "timestamp":
                return F.unix_timestamp(F.col(c))
            return F.col(c)

        bounds = df.agg(
            *[F.min(num(c)).alias(f"__mn_{c}") for c in cols],
            *[F.max(num(c)).alias(f"__mx_{c}") for c in cols],
        ).first()
        for c in cols:
            if bounds[f"__mn_{c}"] is None:
                raise ValueError(
                    f"OPTIMIZE ZORDER BY: column {c!r} has no non-NULL "
                    f"values (empty table or all-NULL column)")
        triples = [
            (num(c), float(bounds[f"__mn_{c}"]),
             float(bounds[f"__mx_{c}"])) for c in cols
        ]
        # explicit partition count: a bare repartitionByRange is AQE-
        # coalesced on small inputs, collapsing the clustering into one
        # file (no per-file stats to prune). Default = the snapshot's
        # current file count, so OPTIMIZE never EXPLODES a small table
        # into shuffle-partition-many tiny files.
        n_parts = partitions or max(
            1, len(snapshots.snapshot_file_entries(self._versioned[name])))
        clustered = (
            df.withColumn("__zkey", zorder_key(triples, bits))
            .repartitionByRange(n_parts, "__zkey")
            .sortWithinPartitions("__zkey")
            .drop("__zkey")
        )
        entry = snapshots.write_table(clustered, self._versioned[name],
                                      mode="overwrite", data_change=False)
        self._refresh_table(name)
        return catalog.local_frame(
            self.spark,
            [(entry.version, ",".join(cols))],
            "version int, zorder_by string")

    def alter_table(self, name: str, rest: str) -> DataFrame:
        """ALTER TABLE over versioned tables — metadata-only schema
        evolution (the Delta/Iceberg idea): the ALTER ledger is a tiny
        sidecar in ``_log/``; existing data files are NEVER rewritten.
        ADD COLUMN reads back as NULL-filled typed values (later INSERTs
        write it physically), DROP/RENAME COLUMN are projections applied
        at read time, RENAME TO re-registers the view (the table
        directory keeps its path). Survives restarts (persistent catalog
        replays the ledger via snapshots.read_table)."""
        if name not in self._versioned and "." in name:
            db, _, t = name.partition(".")
            name = self._attached.get(db, {}).get(t, name)
        if name not in self._versioned:
            raise ValueError(
                f"ALTER TABLE: unknown versioned table {name!r}")
        table_dir = self._versioned[name]
        cols = self.table(name).columns
        rest = rest.strip()
        m = _ALTER_ADD_RE.match(rest)
        if m:
            col, typ = m.group("col"), m.group("type").strip().upper()
            if col in cols:
                if re.search(r"IF\s+NOT\s+EXISTS", rest, re.IGNORECASE):
                    return self._empty()
                raise ValueError(
                    f"ALTER TABLE: column {col!r} already exists")
            default_expr = None
            mdf = re.search(r"\bDEFAULT\s+(?P<e>.+?)\s*$", typ,
                            re.IGNORECASE | re.DOTALL)
            if mdf:
                # preserve the original-case expression text (typ was
                # upper-cased for type matching)
                default_expr = m.group("type").strip()[
                    mdf.start("e"):mdf.end("e")]
                typ = typ[:mdf.start()].strip()
            mapped = _map_duck_type(typ)
            if mapped is None:
                raise ValueError(
                    f"ALTER TABLE: unsupported column type {typ!r}")
            if default_expr is not None:
                # ADD COLUMN … DEFAULT backfills EXISTING rows in DuckDB.
                # This is a REWRITING commit here — a metadata-only
                # default-fill cannot tell a pre-ALTER missing value from
                # a post-ALTER explicitly-inserted NULL once generations
                # mix (mergeSchema NULLs both), so the honest choice is
                # one eager rewrite (documented; the plain ADD stays
                # metadata-only). The default also registers for future
                # INSERTs that omit the column. The backfill expression
                # routes through the DIALECT path like every other place
                # a stored default is evaluated — a bare F.expr would
                # read DuckDB text with Spark semantics (review r7-3:
                # DEFAULT log(100) is log10=2 in DuckDB, ln≈4.6 raw)
                filled = self.sql(
                    f"SELECT *, CAST(({default_expr}) AS {mapped}) "
                    f"AS {col} FROM {name}", dialect="duckdb")
                snapshots.write_table(filled, table_dir, mode="overwrite")
                cons = snapshots.read_constraints(table_dir)
                cons.append({"kind": "default", "col": col,
                             "expr": default_expr})
                snapshots.write_constraints(table_dir, cons)
            else:
                snapshots.append_schema_patch(
                    table_dir, {"op": "add", "name": col, "type": mapped})
        elif _ALTER_DROP_RE.match(rest):
            md = _ALTER_DROP_RE.match(rest)
            if md.group("col") not in cols:
                if re.search(r"IF\s+EXISTS", rest, re.IGNORECASE):
                    return self._empty()
                raise ValueError(
                    f"ALTER TABLE: no column {md.group('col')!r}")
            snapshots.append_schema_patch(
                table_dir, {"op": "drop", "name": md.group("col")})
            self._sync_constraints_after_alter(
                table_dir, {"op": "drop", "name": md.group("col")})
        elif _ALTER_RENAME_COL_RE.match(rest):
            mr = _ALTER_RENAME_COL_RE.match(rest)
            if mr.group("old") not in cols:
                raise ValueError(
                    f"ALTER TABLE: no column {mr.group('old')!r}")
            if mr.group("new") in cols:
                raise ValueError(
                    f"ALTER TABLE: column {mr.group('new')!r} already "
                    f"exists")
            snapshots.append_schema_patch(
                table_dir,
                {"op": "rename", "old": mr.group("old"),
                 "new": mr.group("new")})
            self._sync_constraints_after_alter(
                table_dir, {"op": "rename", "old": mr.group("old"),
                            "new": mr.group("new")})
        elif _ALTER_RENAME_TO_RE.match(rest):
            import os

            new = _ALTER_RENAME_TO_RE.match(rest).group("new")
            if new in self._versioned:
                raise ValueError(
                    f"ALTER TABLE RENAME TO: {new!r} already exists")
            self.spark.catalog.dropTempView(name)
            new_dir = self._versioned.pop(name)
            # move the directory when it is the warehouse entry named
            # after the table — otherwise the persistent catalog's
            # restart rediscovery would resurrect the OLD name
            warehouse = self._warehouse
            if (warehouse
                    and os.path.dirname(os.path.abspath(new_dir))
                    == os.path.abspath(warehouse)
                    and os.path.basename(new_dir) == name):
                moved = os.path.join(os.path.dirname(new_dir), new)
                if os.path.exists(moved):
                    raise ValueError(
                        f"ALTER TABLE RENAME TO: directory {moved!r} "
                        f"already exists")
                os.rename(new_dir, moved)
                new_dir = moved
            self._versioned[new] = new_dir
            # unique-index metadata follows the table name
            self._indexes = {
                iname: (new if tbl == name else tbl, icols, uniq)
                for iname, (tbl, icols, uniq) in self._indexes.items()}
            self.register_versioned(new, new_dir)
            return self._empty()
        elif _ALTER_SET_DEFAULT_RE.match(rest):
            msd = _ALTER_SET_DEFAULT_RE.match(rest)
            if msd.group("col") not in cols:
                raise ValueError(
                    f"ALTER TABLE: no column {msd.group('col')!r}")
            cons = [c for c in snapshots.read_constraints(table_dir)
                    if not (c["kind"] == "default"
                            and c["col"] == msd.group("col"))]
            cons.append({"kind": "default", "col": msd.group("col"),
                         "expr": msd.group("expr").strip()})
            snapshots.write_constraints(table_dir, cons)
        elif _ALTER_DROP_DEFAULT_RE.match(rest):
            mdd = _ALTER_DROP_DEFAULT_RE.match(rest)
            if mdd.group("col") not in cols:
                raise ValueError(
                    f"ALTER TABLE: no column {mdd.group('col')!r}")
            snapshots.write_constraints(table_dir, [
                c for c in snapshots.read_constraints(table_dir)
                if not (c["kind"] == "default"
                        and c["col"] == mdd.group("col"))])
        elif _ALTER_TYPE_RE.match(rest):
            # ALTER COLUMN … TYPE T [USING expr] — a REWRITING commit
            # like ADD COLUMN … DEFAULT's backfill: the whole table is
            # read, the column cast (or computed via USING), and
            # written as one overwrite commit. ANSI casts make a
            # lossy/invalid conversion raise, like DuckDB's
            # Conversion Error.
            from pyspark.sql import functions as F

            mt_ = _ALTER_TYPE_RE.match(rest)
            col, typ = mt_.group("col"), mt_.group("type").strip()
            if col not in cols:
                raise ValueError(f"ALTER TABLE: no column {col!r}")
            mapped = _map_duck_type(typ)
            if mapped is None:
                raise ValueError(
                    f"ALTER TABLE: unsupported target type {typ!r}")
            cur = self.table(name)
            src_col = (F.expr(mt_.group("using")) if mt_.group("using")
                       else F.col(col))
            mdec = re.fullmatch(r"DECIMAL\((\d+),(\d+)\)", mapped)
            src_type = dict(cur.dtypes).get(col, "")
            msrc = re.fullmatch(r"decimal\(\d+,(\d+)\)", src_type)
            if (mdec and msrc and not mt_.group("using")
                    and int(msrc.group(1)) > int(mdec.group(2))):
                # DECIMAL→DECIMAL downscale TRUNCATES toward zero in
                # DuckDB [measured: 2.9999 → DECIMAL(9,1) = 2.9];
                # Spark's cast rounds HALF_UP (r9 DDL sweep)
                s_ = int(mdec.group(2))
                unit = "1" if s_ == 0 else "0." + "0" * (s_ - 1) + "1"
                newcol = F.expr(
                    f"CAST({col} - ({col} % {unit}) AS {mapped})")
            else:
                newcol = src_col.cast(mapped)
            out = cur.select(
                *[newcol.alias(c) if c == col else F.col(c)
                  for c in cur.columns])
            snapshots.write_table(out, table_dir, mode="overwrite")
        else:
            raise ValueError(
                f"ALTER TABLE: unsupported clause {rest!r} — supported: "
                "ADD COLUMN, DROP COLUMN, RENAME COLUMN, RENAME TO, "
                "ALTER COLUMN SET/DROP DEFAULT, ALTER COLUMN TYPE")
        self._refresh_table(name)
        return self._empty()

    def restore_table(self, name: str, version: int) -> DataFrame:
        """RESTORE a versioned table to an old snapshot as a NEW commit —
        metadata-only (every file carried by reference), history preserved,
        O(files) cost. Accepts attached-db qualified names."""
        key = name
        if key not in self._versioned and "." in key:
            db, _, t = key.partition(".")
            key = self._attached.get(db, {}).get(t, key)
        if key not in self._versioned:
            raise ValueError(f"RESTORE: unknown versioned table {name!r}")
        entry = snapshots.restore(
            self._versioned[key], version,
            schema_json=self.table(key).schema.json())
        self._refresh_table(key)
        return catalog.local_frame(
            self.spark,
            [(entry.version, version)],
            "restored_as_version int, restored_to_version int")

    _TYPE_WIDTHS = {
        "boolean": 1, "tinyint": 1, "smallint": 2, "int": 4, "float": 4,
        "date": 4, "bigint": 8, "double": 8, "timestamp": 8,
    }

    def analyze_table(self, name: str, cols: list[str] | None = None
                      ) -> DataFrame:
        """``ANALYZE [TABLE] t [COMPUTE STATISTICS [FOR COLUMNS …]]`` —
        persist row count, per-column NDV (HLL approx) and average widths
        into the table's ``_log/_stats.json`` sidecar (DuckDB keeps table
        stats for its optimizer [ref duckdb:101]; here they feed the
        engine's own cost decisions — see ``register_versioned``'s
        stats-driven broadcast hint).

        One scan computes everything (count + approx_count_distinct +
        avg(length) batched into a single aggregate). Stats are stamped
        with the snapshot version — any later commit makes them stale,
        and stale stats are never applied."""
        from pyspark.sql import functions as F

        key = name
        if key not in self._versioned and "." in key:
            db, _, t = key.partition(".")
            key = self._attached.get(db, {}).get(t, key)
        if key not in self._versioned:
            raise ValueError(f"ANALYZE: unknown versioned table {name!r} "
                             "(stats live in the table's _log/ sidecar)")
        table_dir = self._versioned[key]
        df = self.table(key)
        fields = [f for f in df.schema.fields
                  if cols is None or f.name in cols]
        if cols:
            missing = set(cols) - {f.name for f in df.schema.fields}
            if missing:
                raise ValueError(f"ANALYZE: unknown column(s) {sorted(missing)}")
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for f in fields:
            aggs.append(F.approx_count_distinct(f.name)
                        .alias(f"__ndv_{f.name}"))
            if f.dataType.simpleString() in ("string", "binary"):
                aggs.append(F.avg(F.length(f.name))
                            .alias(f"__len_{f.name}"))
        r = df.agg(*aggs).first()
        rows = r["__rows"]
        col_stats: dict[str, dict] = {}
        est_bytes = 0
        for f in df.schema.fields:
            simple = f.dataType.simpleString()
            if f in fields:
                avg_len = r[f"__len_{f.name}"] \
                    if f"__len_{f.name}" in r.asDict() else None
                col_stats[f.name] = {"ndv": r[f"__ndv_{f.name}"],
                                     "avg_len": avg_len}
            else:
                avg_len = None
            # serialized-width estimate: fixed width by type; strings =
            # avg length + struct overhead; unknown/nested types get a
            # conservative 32B
            if simple.startswith("decimal"):
                w = 16
            elif simple in ("string", "binary"):
                w = (avg_len if avg_len is not None else 20) + 16
            else:
                w = self._TYPE_WIDTHS.get(simple, 32)
            est_bytes += int(rows * w)
        commits = snapshots.read_log(table_dir)
        version = commits[-1].version if commits else 0
        stats = {"version": version, "rows": rows, "est_bytes": est_bytes,
                 "columns": col_stats}
        snapshots.write_stats(table_dir, stats)
        self._refresh_table(key)  # re-register so fresh stats take effect
        return catalog.local_frame(
            self.spark,
            [(key, version, rows, est_bytes)],
            "table_name string, version int, rows long, est_bytes long")

    def _broadcast_threshold(self) -> int:
        raw = str(self.spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", "10485760")).strip()
        mult = 1
        low = raw.lower()
        for suf, m in (("kb", 1024), ("mb", 1024**2), ("gb", 1024**3),
                       ("k", 1024), ("m", 1024**2), ("g", 1024**3),
                       ("b", 1)):
            if low.endswith(suf):
                raw = raw[:-len(suf)]
                mult = m
                break
        try:
            return int(float(raw) * mult)
        except ValueError:
            return 10 * 1024**2

    def clone_table(self, dst: str, src: str, version: int | None = None,
                    as_of_ms: int | None = None,
                    dst_dir: str | None = None) -> DataFrame:
        """``CREATE TABLE dst CLONE src [VERSION AS OF n]`` — zero-copy
        branch (the Neon branch-creation motif; Delta SHALLOW CLONE
        shape): the clone's first commit references the source snapshot's
        files, no data moves, and the two histories diverge independently
        from there. ``src`` may be a versioned table name (attached-db
        qualified accepted), or a path to a foreign Delta/Iceberg table
        dir — cloning is how foreign tables enter the DML/time-travel
        surface without a rewrite."""
        import os

        if dst in self._versioned:
            raise ValueError(f"CLONE: table {dst!r} already exists")
        key = src
        if key not in self._versioned and "." in key:
            db, _, t = key.partition(".")
            key = self._attached.get(db, {}).get(t, key)
        src_dir = self._versioned.get(key)
        if src_dir is None:
            if os.path.isdir(src):
                src_dir = src
            else:
                raise ValueError(
                    f"CLONE: unknown versioned table {src!r} "
                    "(and not a table directory)")
        table_dir = dst_dir or os.path.join(self._warehouse_dir(), dst)
        schema_json = None
        if key in self._versioned:
            schema_json = self.table(key).schema.json()
        entry = snapshots.clone(src_dir, table_dir, version=version,
                                as_of_ms=as_of_ms, schema_json=schema_json)
        if self._txn_baseline is not None:
            self._txn_created.add(dst)
        self.register_versioned(dst, table_dir)
        return catalog.local_frame(
            self.spark,
            [(dst, entry.version, len(entry.files or ()))],
            "cloned_table string, version int, files int")

    def create_index(self, name: str, table: str, cols: list[str],
                     unique: bool = False) -> DataFrame:
        """CREATE [UNIQUE] INDEX as storage clustering: rewrite the
        versioned table range-partitioned + sorted on ``cols`` (one
        commit), so every data file covers a narrow ``cols`` range and the
        manifest/row-group min/max stats prune file-level DML and range
        scans the way a zonemap would. UNIQUE validates key uniqueness at
        creation and on every later INSERT (UPDATE/MERGE/COPY FROM do not
        re-validate — documented gap, as compensation there would need a
        full key join per mutation)."""
        if name in self._indexes:
            raise ValueError(f"CREATE INDEX: index {name!r} already exists")
        key = table
        if key not in self._versioned and "." in key:
            db, _, t = key.partition(".")
            key = self._attached.get(db, {}).get(t, key)
        if key not in self._versioned:
            raise ValueError(
                f"CREATE INDEX: {table!r} is not a versioned table — "
                "clustering rewrites need the snapshot log")
        df = self.table(key)
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(f"CREATE INDEX: unknown column(s) {missing}")
        if unique:
            from pyspark.sql import functions as F

            keyed = df
            for c in cols:  # SQL UNIQUE: NULL keys never conflict
                keyed = keyed.where(F.col(c).isNotNull())
            dup = (keyed.groupBy(*cols).agg(F.count(F.lit(1)).alias("c"))
                   .where("c > 1").limit(1).collect())
            if dup:
                raise ValueError(
                    f"CREATE UNIQUE INDEX: duplicate values for {cols} "
                    f"(e.g. {tuple(dup[0])[:-1]})")
        clustered = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
        snapshots.write_table(clustered, self._versioned[key],
                              mode="overwrite", data_change=False)
        self._refresh_table(key)
        self._indexes[name] = (key, tuple(cols), unique)
        return self._empty()

    def _check_row_constraints(self, name: str, new_df: DataFrame) -> None:
        """NOT NULL/CHECK validation only (ON CONFLICT path: uniqueness is
        exactly what the statement resolves, so only row-local constraints
        apply to the incoming batch)."""
        from pyspark.sql import functions as F

        for c in self._constraints(name):
            if c["kind"] == "not_null":
                if new_df.where(F.col(c["col"]).isNull()).limit(1).collect():
                    raise ValueError(
                        f"INSERT violates NOT NULL on {name}.{c['col']}")
            elif c["kind"] == "check":
                if new_df.where(
                        F.expr(f"({c['expr']}) = false")).limit(1).collect():
                    raise ValueError(
                        f"INSERT violates CHECK ({c['expr']}) on {name}")

    def _check_constraints(self, name: str, new_df: DataFrame) -> None:
        """Enforce the table's declared constraints on an insert batch:
        NOT NULL (no NULL keys), CHECK (no row where the predicate is
        FALSE — NULL passes, per SQL), UNIQUE/PRIMARY KEY (no duplicate
        within the batch, no collision with existing rows — one agg + one
        semi-join per constraint, the same price an index probe pays).
        UPDATE/MERGE do not re-validate (documented, same as D24)."""
        from pyspark.sql import functions as F

        for c in self._constraints(name):
            if c["kind"] == "not_null":
                if new_df.where(F.col(c["col"]).isNull()).limit(1).collect():
                    raise ValueError(
                        f"INSERT violates NOT NULL on {name}.{c['col']}")
            elif c["kind"] == "check":
                if new_df.where(
                        F.expr(f"({c['expr']}) = false")).limit(1).collect():
                    raise ValueError(
                        f"INSERT violates CHECK ({c['expr']}) on {name}")
            elif c["kind"] == "unique":
                kcols = c["cols"]
                batch = new_df
                for k in kcols:  # SQL UNIQUE: NULL keys never conflict
                    batch = batch.where(F.col(k).isNotNull())
                label = "PRIMARY KEY" if c.get("pk") else "UNIQUE"
                if (batch.groupBy(*kcols)
                        .agg(F.count(F.lit(1)).alias("c"))
                        .where("c > 1").limit(1).collect()):
                    raise ValueError(
                        f"INSERT violates {label} ({', '.join(kcols)}) on "
                        f"{name}: duplicate keys within the inserted rows")
                if (batch.join(self._existing_keys_df(name, kcols, batch),
                               kcols, "semi").limit(1).collect()):
                    raise ValueError(
                        f"INSERT violates {label} ({', '.join(kcols)}) on "
                        f"{name}: key already present")

    def _sync_constraints_after_alter(self, table_dir: str,
                                      op: dict) -> None:
        """Keep the constraints/defaults sidecar consistent with a column
        drop/rename — stale entries keyed on a missing column would make
        every later INSERT crash (drop) or silently stop enforcing
        (rename)."""
        cons = snapshots.read_constraints(table_dir)
        out: list[dict] = []
        if op["op"] == "drop":
            col = op["name"]
            for c in cons:
                if c["kind"] in ("not_null", "default") and c["col"] == col:
                    continue
                if c["kind"] == "unique" and col in c["cols"]:
                    continue
                if c["kind"] == "check" and re.search(
                        rf"\b{re.escape(col)}\b", c["expr"]):
                    continue
                out.append(c)
        else:  # rename
            old_c, new_c = op["old"], op["new"]
            for c in cons:
                c = dict(c)
                if c["kind"] in ("not_null", "default") \
                        and c["col"] == old_c:
                    c["col"] = new_c
                elif c["kind"] == "unique":
                    c["cols"] = [new_c if x == old_c else x
                                 for x in c["cols"]]
                elif c["kind"] == "check":
                    c["expr"] = re.sub(rf"\b{re.escape(old_c)}\b", new_c,
                                       c["expr"])
                out.append(c)
        snapshots.write_constraints(table_dir, out)

    def _update_from(self, parts: dict, dialect: str) -> DataFrame:
        """UPDATE name SET … FROM src [WHERE pred] — the join-update.

        NOT compiled to MERGE: the merge machinery duplicates target
        rows on multi-match sources (its documented caveat), while
        DuckDB updates each target row exactly once with an arbitrary
        matching source row (review r7-3 — the MERGE route was silent
        table corruption). Shape: evaluate the SET expressions over the
        target × source join (any SQL the dialect supports, source
        columns included), keep ONE winner per target row id — its
        (file, row index), stable across the plan's re-evaluations —
        (first = the same arbitrary-match semantics), and commit the
        winners as deletion vectors plus one file of their postimages."""
        from pyspark.sql import functions as F

        name = parts["name"]
        if name not in self._versioned:
            raise ValueError(f"UPDATE unknown table {name!r}")
        assignments: dict[str, str] = {}
        for part in sqltext.split_top_commas(parts["sets"]):
            col, eq, expr = part.partition("=")
            if not eq:
                raise ValueError(
                    f"UPDATE: cannot parse assignment {part!r}")
            # the qid normalizer backticks spaced names — the
            # assignment key matches the SCHEMA name (r9)
            assignments[col.strip().strip("`")] = expr.strip()
        target = self.table(name).schema
        unknown = set(assignments) - {f.name for f in target.fields}
        if unknown:
            raise ValueError(
                f"UPDATE {name}: unknown column(s) {sorted(unknown)}")
        ids = list(deltalog.ROW_ID_COLS)
        entries = self._dml_entries(name)
        with self._dml_probe(name, entries, entries):
            proj = ", ".join(
                f"({expr}) AS __set_{i}"
                for i, expr in enumerate(assignments.values()))
            matched = self.sql(
                f"SELECT {name}.__dv_file, {name}.__dv_pos, {proj} "
                f"FROM {_DML_PROBE} {name}, {parts['src']} "
                f"WHERE {parts['pred']}", dialect=dialect)
            winners = matched.groupBy(*ids).agg(
                *[F.first(f"__set_{i}").alias(f"__set_{i}")
                  for i in range(len(assignments))])
            # cached: the positions collect fills it, the two writes
            # read the same winners
            hit = self.table(_DML_PROBE).join(winners, ids).cache()
            try:
                positions = self._hit_positions(name, entries,
                                                hit.select(*ids))
                self._commit_update(name, entries, positions, hit, {
                    c: f"__set_{i}" for i, c in enumerate(assignments)})
            finally:
                hit.unpersist()
        return self._empty()

    def _fill_values_defaults(self, name: str, cols_group: str | None,
                              body: str) -> str:
        """Replace bare DEFAULT value placeholders in an INSERT's VALUES
    	tuples with the column's declared default (positional — DuckDB
        only allows DEFAULT as a whole value), or NULL when the column
        has none. Token-level so string literals containing the word
        survive."""
        target = self.table(name).schema
        positions = ([c.strip() for c in cols_group.split(",")]
                     if cols_group
                     else [f.name for f in target.fields])
        defaults = self._column_defaults(name)
        toks = sqltext.tokenize(body)
        depth_entered = False
        i = 0
        while i < len(toks):
            t = toks[i]
            if t.kind == "ident" and t.text.upper() == "VALUES":
                depth_entered = True
                i += 1
                continue
            if depth_entered and t.text == "(":
                close = sqltext.match_bracket(toks, i)
                spans = sqltext.split_args(toks, i, close)
                for idx, sp in enumerate(spans):
                    arg = [k for k in range(*sp)
                           if toks[k].kind not in ("ws", "comment")]
                    if (len(arg) == 1 and toks[arg[0]].kind == "ident"
                            and toks[arg[0]].text.upper() == "DEFAULT"
                            and idx < len(positions)):
                        colname = positions[idx]
                        toks[arg[0]].text = (
                            f"({defaults[colname]})"
                            if colname in defaults else "NULL")
                i = close + 1
                continue
            i += 1
        return sqltext.detokenize(toks)

    def _column_defaults(self, name: str) -> dict[str, str]:
        """Declared DEFAULT expressions for ``name``'s columns (filled
        into INSERTs that omit the column, instead of NULL)."""
        return {c["col"]: c["expr"] for c in self._constraints(name)
                if c["kind"] == "default"}

    def _constraints(self, name: str) -> list[dict]:
        """Declared constraints of versioned table ``name`` ([] for any
        other relation)."""
        table_dir = self._versioned.get(name)
        return snapshots.read_constraints(table_dir) if table_dir else []

    def _table_columns(self, name: str) -> list[tuple]:
        """(field, DuckDB type, not_null) per column of table ``name``:
        the view schema, with a versioned table's declared NOT NULLs
        merged in from its constraints sidecar (Spark's schema says
        nullable). DESCRIBE, SHOW CREATE TABLE, PRAGMA table_info and
        information_schema.columns all report these rows."""
        notnull = {c["col"] for c in self._constraints(name)
                   if c["kind"] == "not_null"}
        return _schema_columns(self.table(name).schema, notnull)

    def _existing_keys_df(self, name: str, kcols: list[str],
                          batch: DataFrame) -> DataFrame:
        """The subset of table ``name`` that could collide with ``batch``'s
        keys — stats-pruned through the D9 manifest machinery (VERDICT r5
        "what's wrong" #1: the UNIQUE/PK INSERT probe was a full-table
        semi-join, O(table) per insert at 100 TB).

        One tiny agg computes the batch's per-key-column min/max (the
        batch is the INSERT's rows — small by nature); those ranges prune
        the file manifest exactly like a query predicate would, so a
        clustered/Z-ordered table probes only the candidate files. Falls
        back to the full table when stats can't decide (unclustered
        tables overlap everywhere — residual cost documented in SCALE.md
        §2)."""
        from pyspark.sql import functions as F

        full = self.table(name).select(*kcols)
        table_dir = self._versioned.get(name)
        if table_dir is None:
            return full
        try:
            entries = snapshots.snapshot_file_entries(table_dir)
        except FileNotFoundError:
            return full
        if len(entries) <= 1:
            return full
        aggs = []
        for c in kcols:
            aggs += [F.min(c).alias(f"__mn_{c}"),
                     F.max(c).alias(f"__mx_{c}")]
        r = batch.agg(*aggs).first()

        def lit(v) -> str | None:
            import datetime

            if isinstance(v, bool) or v is None:
                return None
            if isinstance(v, (int, float)):
                return repr(v)
            if isinstance(v, str):
                return "'" + v.replace("'", "''") + "'"
            if isinstance(v, datetime.datetime):
                return "'" + v.isoformat(sep=" ") + "'"
            if isinstance(v, datetime.date):
                return "'" + v.isoformat() + "'"
            return None

        conjs: list[str] = []
        for c in kcols:
            lo, hi = lit(r[f"__mn_{c}"]), lit(r[f"__mx_{c}"])
            if lo is None or hi is None:
                continue
            conjs.append(f"{c} BETWEEN {lo} AND {hi}")
        if not conjs:
            return full
        cand = snapshots.prune_by_stats(entries, " AND ".join(conjs))
        if len(cand) >= len(entries):
            return full
        if not cand:
            return full.limit(0)
        return self._read_aligned(name, cand, entries.schema).select(*kcols)

    def _check_unique_indexes(self, name: str, new_df: DataFrame) -> None:
        """Raise if appending ``new_df`` to table ``name`` would violate a
        UNIQUE index: keys must be unique within the batch and absent from
        the existing table (one aggregate + one broadcast-able semi-join
        per unique index — the same price a real index probe pays)."""
        from pyspark.sql import functions as F

        for iname, (tbl, cols, uniq) in self._indexes.items():
            if not uniq or tbl != name:
                continue
            kcols = list(cols)
            batch = new_df
            for c in kcols:  # SQL UNIQUE: NULL keys never conflict
                batch = batch.where(F.col(c).isNotNull())
            if (batch.groupBy(*kcols).agg(F.count(F.lit(1)).alias("c"))
                    .where("c > 1").limit(1).collect()):
                raise ValueError(
                    f"INSERT violates UNIQUE INDEX {iname!r}: duplicate "
                    f"keys within the inserted rows")
            if (batch.join(self._existing_keys_df(name, kcols, batch),
                           kcols, "semi").limit(1).collect()):
                raise ValueError(
                    f"INSERT violates UNIQUE INDEX {iname!r}: key already "
                    f"present in {name}")

    def export_database(self, path: str) -> DataFrame:
        """EXPORT DATABASE 'dir': dump every managed (non-attached)
        versioned table as parquet plus a replayable ``load.sql`` (each
        line a CREATE OR REPLACE TABLE over read_parquet — text that runs
        in this engine AND in DuckDB) and an informational ``schema.sql``.
        One pass per table, no shuffle (partitioning preserved by the
        parquet rewrite)."""
        import os

        if not self._extensions_allowed:
            raise PermissionError(
                "EXPORT DATABASE writes external paths — disabled in safe "
                "mode (enable_external_access=false)")
        os.makedirs(path, exist_ok=True)
        attached_views = {v for t in self._attached.values()
                          for v in t.values()}
        schema_lines: list[str] = []
        load_lines: list[str] = []
        n = 0
        for name in sorted(self._versioned):
            if name in attached_views:
                continue
            df = self.table(name)
            dest = os.path.join(path, f"{name}.parquet")
            df.write.mode("overwrite").parquet(dest)
            cols = ", ".join(
                f"{f.name} {f.dataType.simpleString().upper()}"
                for f in df.schema.fields)
            schema_lines.append(f"CREATE TABLE {name} ({cols});")
            load_lines.append(
                f"CREATE OR REPLACE TABLE {name} AS "
                f"SELECT * FROM read_parquet('{dest}/*.parquet');")
            n += 1
        with open(os.path.join(path, "schema.sql"), "w") as f:
            f.write("\n".join(schema_lines) + "\n")
        with open(os.path.join(path, "load.sql"), "w") as f:
            f.write("\n".join(load_lines) + "\n")
        return catalog.local_frame(self.spark, [(n,)], "exported_tables int")

    def import_database(self, path: str) -> DataFrame:
        """IMPORT DATABASE 'dir': replay the ``load.sql`` an EXPORT wrote —
        each statement re-creates a managed table from its parquet dump."""
        import os

        if not self._extensions_allowed:
            raise PermissionError(
                "IMPORT DATABASE reads external paths — disabled in safe "
                "mode (enable_external_access=false)")
        load = os.path.join(path, "load.sql")
        if not os.path.exists(load):
            raise ValueError(f"IMPORT DATABASE: no load.sql under {path!r}")
        with open(load) as f:
            script = f.read()
        results = self.execute(script, dialect="duckdb")
        return catalog.local_frame(
            self.spark,
            [(len(results),)], "imported_tables int")

    # -- session transactions (compensation-based) -------------------------
    #
    # BEGIN pins each versioned table's current version; ROLLBACK issues a
    # RESTORE commit per mutated table and drops tables created since;
    # COMMIT discards the pins. Single-session and NOT isolated (readers
    # see intermediate states — the snapshot log is the durability story);
    # DROP inside an open transaction is rejected because dropping
    # physically deletes warehouse files, which compensation cannot undo.

    def begin(self) -> None:
        if self._txn_baseline is not None:
            raise ValueError("BEGIN: a transaction is already open")
        base: dict[str, int | None] = {}
        for name, td in self._versioned.items():
            commits = snapshots.read_log(td)
            # None sentinel: a table with an EMPTY private log (e.g.
            # registered over a foreign _delta_log-only dir) has no
            # restorable version 0 — rollback must skip it, not call
            # restore_table(name, 0) and abort mid-loop (ADVICE r5)
            base[name] = commits[-1].version if commits else None
        self._txn_baseline = base
        # only tables a CREATE TABLE statement makes DURING the txn are
        # dropped on rollback — a mere registration (register_versioned /
        # ATTACH of pre-existing data) must never be rmtree'd by
        # compensation
        self._txn_created: set[str] = set()
        # sequence DDL is transactional (measured: DuckDB drops a
        # rolled-back CREATE SEQUENCE) but nextval values are NOT
        # (measured: a rolled-back nextval stays consumed) — snapshot the
        # CATALOG, keep live counters on rollback
        self._txn_seq_baseline = {
            k: dict(v) for k, v in self._load_sequences().items()}

    def commit(self) -> None:
        if self._txn_baseline is None:
            raise ValueError("COMMIT: no open transaction")
        self._txn_baseline = None
        self._txn_seq_baseline = None

    def rollback(self) -> None:
        if self._txn_baseline is None:
            raise ValueError("ROLLBACK: no open transaction")
        base, self._txn_baseline = self._txn_baseline, None
        created = getattr(self, "_txn_created", set())
        errors: list[str] = []
        for name in list(self._versioned):
            td = self._versioned[name]
            try:
                if name not in base:
                    if name in created:
                        self.sql(f"DROP TABLE {name}")  # CREATEd inside txn
                    # registered-not-created tables are left untouched —
                    # registration is not a data mutation
                    continue
                commits = snapshots.read_log(td)
                cur = commits[-1].version if commits else 0
                if base[name] is None:
                    # empty-log-at-BEGIN table (foreign _delta_log-only):
                    # no snapshot to restore to — warn if it was mutated
                    if cur > 0:
                        import warnings

                        warnings.warn(
                            f"ROLLBACK: table {name!r} had no private log "
                            f"at BEGIN; its in-transaction mutations "
                            f"cannot be reverted")
                    continue
                if cur > base[name]:
                    self.restore_table(name, base[name])
            except Exception as exc:
                # one table's failure must not abandon the rest of the
                # rollback — collect and re-raise after the loop
                errors.append(f"{name}: {exc}")
        # sequence catalog compensation: drop CREATEd-in-txn sequences,
        # restore DROPped ones; surviving counters stay advanced
        # (measured DuckDB semantics — nextval is not transactional)
        seq_base = getattr(self, "_txn_seq_baseline", None)
        self._txn_seq_baseline = None
        if seq_base is not None:
            seqs = self._load_sequences()
            for sname in list(seqs):
                if sname not in seq_base:
                    del seqs[sname]
            for sname, sdef in seq_base.items():
                if sname not in seqs:
                    seqs[sname] = dict(sdef)
            self._save_sequences()
        if errors:
            raise RuntimeError(
                "ROLLBACK: failed to restore some tables — "
                + "; ".join(errors))

    def vacuum_table(self, name_or_dir: str, keep_last: int = 1) -> dict:
        """Retention cleanup (Delta VACUUM analog): physically drop data
        dirs and log entries unreachable from the newest ``keep_last``
        snapshots; see snapshots.vacuum for the replay-chain guarantees."""
        table_dir = self._versioned.get(name_or_dir, name_or_dir)
        stats = snapshots.vacuum(table_dir, keep_last=keep_last)
        if name_or_dir in self._versioned:
            self._refresh_table(name_or_dir)
        return stats

    def _resolve_time_travel(self, query: str) -> str:
        """Rewrite ``<name> [FOR] VERSION AS OF <n>`` and ``<name> [FOR]
        TIMESTAMP AS OF '<ts>'`` over registered versioned tables into
        snapshot-pinned temp views (Delta/Iceberg SQL surface analog)."""
        if not self._versioned or " AS OF " not in query.upper():
            return query

        def sub(m: re.Match) -> str:
            name = m.group("name")
            table_dir = self._versioned.get(name)
            if table_dir is None:
                return m.group(0)
            if m.group("kind").upper() == "VERSION":
                version = int(m.group("lit").strip("'\""))
                view = f"{name}__asof_v{version}"
                df = snapshots.read_table(self.spark, table_dir, version=version)
            else:
                from datetime import datetime, timezone

                txt = m.group("lit").strip("'\"")
                dt = datetime.fromisoformat(txt)
                if dt.tzinfo is None:
                    dt = dt.replace(tzinfo=timezone.utc)
                as_of_ms = int(dt.timestamp() * 1000)
                try:
                    resolved, _ = snapshots.resolve_snapshot(
                        table_dir, as_of_ms=as_of_ms)
                except FileNotFoundError:
                    # foreign-log table (Iceberg metadata/ only): resolve
                    # the timestamp through that format's own snapshot log
                    resolved = f"ms{as_of_ms}"
                    view = f"{name}__asof_{resolved}"
                    df = snapshots.read_table(
                        self.spark, table_dir, as_of_ms=as_of_ms)
                    df.createOrReplaceTempView(view)
                    return view
                view = f"{name}__asof_v{resolved}"
                df = snapshots.read_table(self.spark, table_dir, version=resolved)
            df.createOrReplaceTempView(view)
            return view

        pat = re.compile(
            r"(?P<name>[A-Za-z_]\w*)\s+(?:FOR\s+)?(?P<kind>VERSION|TIMESTAMP)"
            r"\s+AS\s+OF\s+(?P<lit>'[^']*'|\d+)",
            re.IGNORECASE,
        )
        # Substitute only matches that START outside string literals and
        # comments — a matching pattern inside '...' or -- ... must stay
        # verbatim (ADVICE r2). The TIMESTAMP form's own quoted literal is
        # part of a match that starts outside, so it still rewrites.
        return sqltext.sub(pat, sub, query)

    def register_fixture_dir(self, sf_dir: str) -> None:
        """Register the standard fixture tables from a testdata directory."""
        import os

        catalog.register_tables(self.spark, sf_dir)
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                self._table_paths[t] = p
        self._bump_registration_epoch()

    def _view_names(self) -> list[str]:
        """Every table and temp view name of the session, in the order
        ``spark.catalog.listTables()`` gives them. SHOW TABLES is a
        command whose rows come back without a Spark job; listTables()
        reads its Dataset with toLocalIterator, one job per partition
        (5 jobs, ~300 ms on 4 cores, against ~50 ms)."""
        return [r["tableName"]
                for r in self.spark.sql("SHOW TABLES").collect()]

    def _registered_names(self) -> list[str]:
        """Registered (non-internal) view names, cached until a statement
        may add or drop a name."""
        epoch = getattr(self, "_names_epoch", 0)
        cached = getattr(self, "_names_cache", None)
        if cached is not None and cached[0] == epoch:
            return cached[1]
        names = [n for n in self._view_names() if not n.startswith("__")]
        self._names_cache = (epoch, names)
        return names

    def _fields_of(self, name: str) -> list[tuple[str, str | None]] | None:
        """Per-view [(column, kind)] — original-cased column names, kind ∈
        {'array','map','string','date',None} — the one place a view's
        schema is fetched. Cached per view NAME (not per epoch): a
        DML/DDL statement invalidates only its own target via
        _bump_registration_epoch(table=...), so a commit against one
        table never re-reads the other 499 tables' schemas (the r7 q125
        regression: 0.081 s → 0.373 s came from a whole-catalog rebuild
        on every epoch bump)."""
        from pyspark.sql import types as T

        key = name.lower()
        cache = getattr(self, "_schema_fields", None)
        if cache is None:
            cache = self._schema_fields = {}
        if key in cache:
            return cache[key]
        self._schema_fetches = getattr(self, "_schema_fetches", 0) + 1
        try:
            schema = self.spark.table(name).schema
        except Exception:
            # do NOT cache the failure (review r8): a transiently broken
            # dependent view would otherwise pin None until a DML
            # statement happens to name this exact table — the next
            # statement should simply retry the fetch
            return None
        fields = [
            (f.name,
             "array" if isinstance(f.dataType, T.ArrayType)
             else "map" if isinstance(f.dataType, T.MapType)
             else "string"
             if isinstance(f.dataType, (T.StringType, T.BinaryType))
             else "date" if isinstance(f.dataType, T.DateType)
             # decimal kinds carry (precision, scale): DuckDB's ordered
             # statistics quantize DECIMAL inputs to the operand scale
             # (quantile_cont) or skip interpolation entirely (median),
             # and the dialect needs the scale to reproduce that
             else (f"decimal({f.dataType.precision},{f.dataType.scale})"
                   if isinstance(f.dataType, T.DecimalType)
                   # int/double kinds drive the `//` operator's
                   # type-dependent dispatch (int//int truncating
                   # division vs plain division — r9)
                   else "int" if isinstance(
                       f.dataType, (T.ByteType, T.ShortType,
                                    T.IntegerType, T.LongType))
                   else "double" if isinstance(
                       f.dataType, (T.FloatType, T.DoubleType))
                   # timestamp kind feeds the ts−ts → dt-interval
                   # prover behind the interval VARCHAR render (r10)
                   else "timestamp" if isinstance(
                       f.dataType, T.TimestampType)
                   else None))
            for f in schema.fields]
        cache[key] = fields
        return fields

    @staticmethod
    def _referenced_names(query: str, names: list[str]) -> list[str]:
        """Subset of registered view names textually present in ``query``
        (word match, case-insensitive; dotted ``db.t`` also matches the
        ATTACH registry's ``db__t`` views). Over-matching (a table name
        inside a string literal) only hydrates one extra schema —
        harmless; under-matching cannot happen for a parseable statement
        because every referenced view name appears as a word."""
        low = query.lower()
        words = set(re.findall(r"[a-z_]\w*", low))
        for a, b in re.findall(r"([a-z_]\w*)\s*\.\s*([a-z_]\w*)", low):
            words.add(f"{a}__{b}")
        return [n for n in names if n.lower() in words]

    def _describe_df(self, columns):
        """DuckDB's DESCRIBE shape [measured r10: 6 columns
        (column_name, column_type, null, key, default, extra), duck
        type spellings, NULL tail] over ``_schema_columns`` rows."""
        return catalog.local_frame(
            self.spark,
            [(f.name, dtype, "NO" if not_null else "YES", None, None, None)
             for f, dtype, not_null in columns],
            "column_name string, column_type string, null string, "
            "key string, default string, extra string",
        )

    def _column_kinds(self, query: str) -> dict[str, str]:
        """Lowercased column name → 'array' | 'string' | 'map' | 'date'
        — the schema knowledge behind the dialect's len() dispatch. Only
        views referenced by ``query`` are merged (fewer cross-table name
        conflicts AND no whole-catalog hydration on the statement path).
        Names whose type class conflicts across the merged tables are
        dropped (the rewriter then falls back to its textual heuristic).
        Driver-side metadata only, no Spark job."""
        kinds: dict[str, str | None] = {}
        for name in self._referenced_names(query, self._registered_names()):
            for col, k in self._fields_of(name) or []:
                c = col.lower()
                if c in kinds and kinds[c] != k:
                    kinds[c] = None
                else:
                    kinds[c] = k
        return {c: k for c, k in kinds.items() if k}

    def _columns_of(self, name: str) -> list[str] | None:
        """Ordered column list of one registered view (original casing) —
        schema knowledge behind the COLUMNS()/* REPLACE/* RENAME
        expansions. None if the name is not a registered view."""
        if name.lower() not in {n.lower() for n in self._registered_names()}:
            return None
        fields = self._fields_of(name)
        if fields is None:
            return None
        return [col for col, _ in fields]

    def _check_natural_joins(self, query: str) -> None:
        """NATURAL JOIN with ZERO shared column names is a Binder Error
        in DuckDB but a silent CROSS JOIN in Spark (r10 probe) — refuse
        when both operands are registered tables whose schemas provably
        share nothing. Aliased/subquery operands stay unchecked (their
        columns aren't resolvable here; Spark's cross-join behavior is
        then a documented over-acceptance)."""
        if not re.search(r"(?i)\bNATURAL\b", query):
            return
        for m in re.finditer(
                r"(?i)\b([A-Za-z_]\w*)\s+NATURAL\s+"
                r"(?:(?:LEFT|RIGHT|FULL|INNER)\s+(?:OUTER\s+)?)?"
                r"JOIN\s+([A-Za-z_]\w*)", query):
            # the left identifier must be a BASE relation, not an alias:
            # in `FROM (SELECT …) nation NATURAL JOIN region` the alias
            # shadows the registered table and its schema proves nothing
            # (ADVICE r10). An alias follows a closing paren, an AS, or
            # another identifier (`region r NATURAL JOIN …`).
            before = query[:m.start(1)].rstrip()
            if before.endswith(")"):
                continue
            mw = re.search(r"([A-Za-z_]\w*)\s*$", before)
            if mw and mw.group(1).upper() not in (
                    "FROM", "JOIN", "ON", "USING", "WHERE", "AND",
                    "OR"):
                # preceded by a bare identifier/AS → group(1) is an
                # alias position, or group(1)'s relation is aliased
                if mw.group(1).upper() == "AS" or self._columns_of(
                        mw.group(1)) is not None:
                    continue
            ca = self._columns_of(m.group(1))
            cb = self._columns_of(m.group(2))
            if (ca is not None and cb is not None
                    and not ({c.lower() for c in ca}
                             & {c.lower() for c in cb})):
                raise ValueError(
                    f"No columns found to join on in NATURAL JOIN "
                    f"between {m.group(1)!r} and {m.group(2)!r} "
                    f"(DuckDB Binder Error parity — Spark would "
                    f"silently cross-join)")

    def _rewrite_positional_join(self, query: str) -> str:
        """``a POSITIONAL JOIN b`` in SQL → the zero-shuffle positional
        operator (operators/positional.py) materialized as a temp view
        and substituted into the FROM clause. Before r9 the text
        reached Spark verbatim, which parsed POSITIONAL as an ALIAS of
        a and silently CROSS-joined. Parquet-backed registered tables
        only (the operator derives row positions from parquet footers);
        other relations refuse loudly."""
        if not re.search(r"(?i)\bPOSITIONAL\s+JOIN\b", query):
            return query
        from .operators.positional import positional_join_chain

        def one(m: "re.Match[str]") -> str:
            # the WHOLE chain matches at once (ADVICE r9: the pairwise
            # form consumed the left ident, leaving 'POSITIONAL JOIN c'
            # verbatim — Spark parsed POSITIONAL as an alias and
            # silently cross-joined)
            names = [m.group(1)] + re.findall(
                r"(?i)POSITIONAL\s+JOIN\s+([A-Za-z_]\w*)", m.group(2))
            paths = []
            for n in names:
                p = self._table_paths.get(n)
                if p is None:
                    raise NotImplementedError(
                        "POSITIONAL JOIN needs parquet-backed "
                        f"registered tables (got {n!r}) — row "
                        "positions derive from parquet footers")
                paths.append(p)
            df = positional_join_chain(self.spark, paths)
            view = "__posjoin_" + "_".join(names) + "__"
            df.createOrReplaceTempView(view)
            self._bump_registration_epoch(view)
            return view

        query = re.sub(
            r"(?i)\b([A-Za-z_]\w*)"
            r"((?:\s+POSITIONAL\s+JOIN\s+[A-Za-z_]\w*)+)",
            one, query)
        if re.search(r"(?i)\bPOSITIONAL\s+JOIN\b", query):
            raise NotImplementedError(
                "POSITIONAL JOIN operand is not a plain registered "
                "table name — parenthesized/subquery operands are not "
                "supported (a pass-through would silently cross-join)")
        return query

    def _rewrite_columns_expr(self, query: str) -> str:
        """DuckDB ``COLUMNS('regex')`` star expressions: each select-list
        item containing a COLUMNS call is duplicated once per column of
        the FROM table whose name the regex *searches* (DuckDB semantics),
        with the call replaced by the column and the item aliased to the
        plain column name — matching DuckDB's output naming for both the
        bare form and wrapped forms like ``min(COLUMNS('re'))``. Single
        top-level FROM table only; other shapes are left verbatim (they
        fail loudly at analysis)."""
        if not re.search(r"\bCOLUMNS\s*\(", query, re.IGNORECASE):
            return query
        sel = sqltext.find_top_level(query, "SELECT")
        frm = sqltext.find_top_level(query, "FROM", sel + 6 if sel >= 0 else 0)
        if sel < 0 or frm < 0:
            return query
        mtab = re.match(r"\s*([A-Za-z_][\w.]*)", query[frm + 4:])
        if not mtab:
            return query
        cols = self._columns_of(mtab.group(1))
        if cols is None:
            return query
        head = query[sel + 6:]
        body_off = sel + 6
        mdist = re.match(r"\s*(?:DISTINCT|ALL)\b", head, re.IGNORECASE)
        if mdist:
            body_off += mdist.end()
        items = sqltext.split_top_commas(query[body_off:frm])
        call_re = re.compile(
            r"\bCOLUMNS\s*\(\s*(?:'(?P<re>[^']*)'|(?P<star>\*)"
            r"|(?P<lst>\[[^\]]*\])"
            r"|(?P<v>[A-Za-z_]\w*)\s*->\s*(?P=v)\s+"
            r"(?P<neg>NOT\s+)?LIKE\s+'(?P<pat>[^']*)')\s*\)",
            re.IGNORECASE)
        out_items: list[str] = []
        for item in items:
            m = call_re.search(item)
            if not m:
                out_items.append(item.strip())
                continue
            if m.group("star"):
                matched = list(cols)
            elif m.group("lst") is not None:
                # list form COLUMNS(['a', 'b']) — exact names, declared
                # order, each must exist (DuckDB Binder Error parity)
                names = re.findall(r"'([^']*)'", m.group("lst"))
                by_lower = {c.lower(): c for c in cols}
                missing = [n for n in names if n.lower() not in by_lower]
                if missing:
                    raise ValueError(
                        f"COLUMNS(list): column(s) {missing} not in "
                        f"{mtab.group(1)!r} (has {cols})")
                matched = [by_lower[n.lower()] for n in names]
            elif m.group("v") is not None:
                # lambda form COLUMNS(c -> c [NOT] LIKE 'pat') — the
                # predicate evaluates DRIVER-side against the column
                # names (LIKE → anchored regex; other predicate shapes
                # stay verbatim and fail loudly) (r9)
                pat = re.escape(m.group("pat"))
                pat = pat.replace("%", ".*").replace("_", ".")
                hits = [c for c in cols
                        if re.fullmatch(pat, c) is not None]
                matched = ([c for c in cols if c not in hits]
                           if m.group("neg") else hits)
            else:
                try:
                    matched = [c for c in cols if re.search(m.group("re"), c)]
                except re.error as exc:
                    raise ValueError(
                        f"COLUMNS: invalid regex {m.group('re')!r}: {exc}")
            if not matched:
                raise ValueError(
                    f"COLUMNS({m.group('re')!r}) matched no column of "
                    f"{mtab.group(1)!r} (has {cols})")
            bare = item.strip() == m.group(0)
            for c in matched:
                expanded = call_re.sub(c, item, count=1).strip()
                out_items.append(expanded if bare else f"{expanded} AS {c}")
        return (query[:body_off] + " " + ", ".join(out_items) + " "
                + query[frm:])

    def _resolve_information_schema(self, query: str) -> str:
        """``information_schema.tables`` / ``.columns`` (the ANSI catalog
        views BI tools introspect with, DuckDB-compatible column names and
        type spellings): materialized on demand from the session catalog
        into temp views and the references rewritten to them."""
        if not _INFO_SCHEMA_RE.search(query):
            return query
        rows_t: list[tuple] = []
        rows_c: list[tuple] = []
        for name in self._view_names():
            if name.startswith(("__", "information_schema__")):
                continue
            try:
                columns = self._table_columns(name)
            except Exception:
                continue
            ttype = "BASE TABLE" if name in self._versioned else "VIEW"
            # full SQL-standard column set [measured r9: DuckDB emits
            # 13 columns — the standard NULL tail plus
            # is_insertable_into YES for base tables / NO for views,
            # is_typed NO, TABLE_COMMENT last]
            rows_t.append(("memory", "main", name, ttype,
                           None, None, None, None, None,
                           "YES" if ttype == "BASE TABLE" else "NO",
                           "NO", None, None))
            for i, (f, dtype, not_null) in enumerate(columns, 1):
                rows_c.append(("memory", "main", name, f.name, i, dtype,
                               "NO" if not_null else "YES"))
        catalog.local_frame(
            self.spark,
            rows_t, "table_catalog string, table_schema string, "
                    "table_name string, table_type string, "
                    "self_referencing_column_name string, "
                    "reference_generation string, "
                    "user_defined_type_catalog string, "
                    "user_defined_type_schema string, "
                    "user_defined_type_name string, "
                    "is_insertable_into string, is_typed string, "
                    "commit_action string, TABLE_COMMENT string"
        ).createOrReplaceTempView("information_schema__tables")
        catalog.local_frame(
            self.spark,
            rows_c, "table_catalog string, table_schema string, "
                    "table_name string, column_name string, "
                    "ordinal_position int, data_type string, "
                    "is_nullable string"
        ).createOrReplaceTempView("information_schema__columns")

        return sqltext.sub(
            _INFO_SCHEMA_RE,
            lambda m: f"information_schema__{m.group('v').lower()}", query)

    def _rewrite_star_rename(self, query: str) -> str:
        """DuckDB ``* RENAME (col AS new, …)``: expand the star with the
        named columns aliased to their new names. Same machinery and
        limitations as * REPLACE."""
        m = re.search(r"\*\s+RENAME\s*\(", query, re.IGNORECASE)
        if not m:
            return query
        frm = sqltext.find_top_level(query, "FROM")
        if frm < 0:
            return query
        mtab = re.match(r"\s*([A-Za-z_][\w.]*)", query[frm + 4:])
        if not mtab:
            return query
        cols = self._columns_of(mtab.group(1))
        if cols is None:
            return query
        close = sqltext.match_paren(query, m.end() - 1)
        renames: dict[str, str] = {}
        for part in sqltext.split_top_commas(query[m.end():close]):
            mp = re.match(r"^\s*(?P<col>[A-Za-z_]\w*)\s+AS\s+"
                          r"(?P<new>[A-Za-z_]\w*)\s*$", part)
            if not mp:
                raise ValueError(
                    f"* RENAME: expected 'col AS new', got {part.strip()!r}")
            if mp.group("col") not in cols:
                raise ValueError(
                    f"* RENAME: {mp.group('col')!r} is not a column of "
                    f"{mtab.group(1)!r} (has {cols})")
            renames[mp.group("col")] = mp.group("new")
        expanded = ", ".join(
            f"{c} AS {renames[c]}" if c in renames else c for c in cols)
        return query[:m.start()] + expanded + query[close + 1:]

    def _rewrite_star_replace(self, query: str) -> str:
        """DuckDB ``* REPLACE (expr AS col, …)``: expand the star against
        the FROM table's schema with the named columns replaced by their
        expressions (aliased back to the column name — DuckDB's output
        naming). Spark has no REPLACE star modifier, so the expansion is
        the translation. Single top-level FROM table only; other shapes
        stay verbatim and fail loudly."""
        m = re.search(
            r"\*\s+(?:EXCLUDE\s*(?:\((?P<exc>[^)]*)\)|"
            r"(?P<exc1>[A-Za-z_]\w*))\s+)?REPLACE\s*\(",
            query, re.IGNORECASE)
        if not m:
            return query
        frm = sqltext.find_top_level(query, "FROM")
        if frm < 0:
            return query
        src = "the FROM relation"
        rest = query[frm + 4:]
        lead = len(rest) - len(rest.lstrip())
        cols: list[str] | None = None
        if rest.lstrip().startswith("("):
            # derived table: an alias column list names the schema
            # outright; otherwise one analysis-only pass resolves it
            # (combined EXCLUDE…REPLACE over a subquery, r12)
            sub_open = frm + 4 + lead
            sub_close = sqltext.match_paren(query, sub_open)
            mal = re.match(r"\s*(?:AS\s+)?[A-Za-z_]\w*\s*\(([^)]*)\)",
                           query[sub_close + 1:], re.IGNORECASE)
            if mal:
                cols = [c.strip() for c in mal.group(1).split(",")]
            else:
                try:
                    cols = self.sql(query[sub_open + 1:sub_close],
                                    dialect="duckdb").columns
                except Exception:
                    return query
        else:
            mtab = re.match(r"\s*([A-Za-z_][\w.]*)", rest)
            if not mtab:
                return query
            src = repr(mtab.group(1))
            cols = self._columns_of(mtab.group(1))
        if cols is None:
            return query
        exc = {c.strip().strip('"').lower()
               for c in (m.group("exc") or m.group("exc1") or "").split(",")
               if c.strip()}
        close = sqltext.match_paren(query, m.end() - 1)
        repls: dict[str, str] = {}
        for part in sqltext.split_top_commas(query[m.end():close]):
            mp = re.match(r"(?s)^\s*(?P<expr>.+?)\s+AS\s+(?P<col>[A-Za-z_]\w*)\s*$",
                          part)
            if not mp:
                raise ValueError(
                    f"* REPLACE: expected 'expr AS col', got {part.strip()!r}")
            if mp.group("col").lower() not in {c.lower() for c in cols}:
                raise ValueError(
                    f"* REPLACE: {mp.group('col')!r} is not a column of "
                    f"{src} (has {cols})")
            repls[mp.group("col").lower()] = mp.group("expr")
        expanded = ", ".join(
            f"{repls[c.lower()]} AS {c}" if c.lower() in repls else c
            for c in cols if c.lower() not in exc)
        return query[:m.start()] + expanded + query[close + 1:]

    def _bump_registration_epoch(self, table: str | None = None, *,
                                 keep_fields: bool = False,
                                 keep_names: bool = False) -> None:
        """Invalidate schema caches. With ``table``, only that view's
        cached fields are dropped (the merged-kinds cache still refreshes
        — it is cheap to rebuild from per-table fields); with
        ``keep_fields``, no per-table entry is dropped (the statement
        only ADDED views — attach/use aliases); without either, the whole
        per-table cache is cleared — the conservative path for statements
        whose target can't be identified. The name list (SHOW TABLES)
        refreshes too unless ``keep_names``: the statement re-points
        existing names only."""
        self._reg_epoch = getattr(self, "_reg_epoch", 0) + 1
        if not keep_names:
            self._names_epoch = getattr(self, "_names_epoch", 0) + 1
        cache = getattr(self, "_schema_fields", None)
        if cache is None:
            return
        if keep_fields:
            return
        if table is not None:
            cache.pop(table.lower(), None)
            # a dotted DML target resolves to the ATTACH registry's
            # db__table view name — drop that spelling too
            cache.pop(table.lower().replace(".", "__"), None)
        else:
            cache.clear()

    # -- query execution (Connection::Query analog) ------------------------

    def sql(self, query: str, dialect: str = "spark") -> DataFrame:
        """Execute one SQL statement.

        ``dialect='duckdb'`` first rewrites DuckDB-flavored SQL to Spark SQL
        (function renames, arg flips, 1-based indexing — SURVEY §2.4).

        ``INSTALL name`` / ``LOAD name`` statements are intercepted and
        routed to the extension registry — the reference's worked example
        traced end-to-end (LoadStatement{INSTALL|LOAD} → PhysicalLoad,
        /root/reference/duckdb:18-55). Returns an empty DataFrame, like a
        DDL statement.
        """
        if dialect == "duckdb" and '"' in query:
            # double-quoted IDENTIFIERS normalize before ROUTING, not
            # just before the dialect rewrite — CREATE TABLE "t" /
            # INSERT INTO "t" must match the statement routers' regexes
            # (word-shaped names go bare, reserved/special ones get
            # backticks; single-quoted strings are untouched — the
            # rewrite is tokenizer-based)
            from .dialect import _rewrite_quoted_identifiers
            query = _rewrite_quoted_identifiers(query)
        head = query.lstrip()[:7].upper()
        if not head.startswith(("SELECT", "WITH", "EXPLAIN")):
            # anything that can define/replace a view or table invalidates
            # the schema cache behind the dialect's len() dispatch —
            # TARGETED when the statement head names its table (so one
            # DML commit doesn't force a whole-catalog schema re-read: the
            # r7 q125/q131/q137 regression), full-clear otherwise
            mt = _DML_TARGET_RE.match(query)
            if mt:
                self._bump_registration_epoch(
                    mt.group("tbl"),
                    keep_names=_ROW_DML_RE.match(query) is not None)
            elif _SCHEMA_NEUTRAL_RE.match(query):
                # statements that cannot change any view's schema keep
                # every cached entry (epoch still bumps: name list may
                # change through routes below, e.g. ATTACH)
                self._bump_registration_epoch(keep_fields=True)
            else:
                self._bump_registration_epoch()
        ma = _ATTACH_RE.match(query)
        if ma:
            self.attach(ma.group("path"), ma.group("db"))
            return self._empty()
        md = _DETACH_RE.match(query)
        if md:
            self.detach(md.group("db"))
            return self._empty()
        mp = _PREPARE_RE.match(query)
        if mp:
            self._prepared[mp.group("name")] = mp.group("body")
            return self._empty()
        mda = _DEALLOCATE_RE.match(query)
        if mda:
            if self._prepared.pop(mda.group("name"), None) is None:
                raise ValueError(
                    f"DEALLOCATE: unknown prepared statement "
                    f"{mda.group('name')!r}")
            return self._empty()
        # getvariable() substitutes AFTER the PREPARE intercept (a prepared
        # body keeps the call site verbatim and resolves at EXECUTE time,
        # when the body re-enters sql()) but before everything else,
        # including EXECUTE argument lists. CREATE MACRO is also exempt:
        # macro bodies expand at CALL SITES, which re-enter sql(), so
        # leaving the call verbatim gives DuckDB's late binding (review
        # fix). CREATE VIEW is NOT exempt — a Spark view body is fixed at
        # definition, so the value freezes at CREATE time (documented
        # divergence from DuckDB >= 1.1's query-time resolution).
        if _GETVARIABLE_RE.search(query) and not re.match(
                r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?"
                r"MACRO\b", query, re.IGNORECASE):
            query = self._substitute_getvariable(query)
        if re.search(r"current_setting\s*\(", query, re.IGNORECASE):
            query = self._substitute_current_setting(query)
        mx = _EXECUTE_RE.match(query)
        if mx:
            return self._execute_prepared(
                mx.group("name"), mx.group("args"), dialect)
        mr = _RESTORE_RE.match(query)
        if mr:
            return self.restore_table(mr.group("name"), int(mr.group("v")))
        mci = _CREATE_INDEX_RE.match(query)
        if mci:
            return self.create_index(
                mci.group("name"), mci.group("table"),
                [c.strip() for c in mci.group("cols").split(",")],
                unique=bool(mci.group("uniq")))
        mdi = _DROP_INDEX_RE.match(query)
        if mdi:
            if self._indexes.pop(mdi.group("name"), None) is None \
                    and not mdi.group("ifex"):
                raise ValueError(
                    f"DROP INDEX: unknown index {mdi.group('name')!r}")
            return self._empty()
        mexp = _EXPORT_DB_RE.match(query)
        if mexp:
            return self.export_database(mexp.group("path"))
        mimp = _IMPORT_DB_RE.match(query)
        if mimp:
            return self.import_database(mimp.group("path"))
        if _BEGIN_RE.match(query):
            self.begin()
            return self._empty()
        if _COMMIT_TXN_RE.match(query):
            self.commit()
            return self._empty()
        if _ROLLBACK_RE.match(query):
            self.rollback()
            return self._empty()
        msf = _SHOW_TABLES_FROM_RE.match(query)
        if msf:
            db = msf.group("db")
            if db not in self._attached:
                raise ValueError(f"SHOW TABLES FROM: unknown database {db!r}")
            return catalog.local_frame(
                self.spark,
                [(n,) for n in sorted(self._attached[db])], "name string")
        query = self._resolve_information_schema(query)
        query = self._resolve_qualified(query)
        if head.startswith("MERGE"):
            return self._merge(query, dialect)
        mstream = _CREATE_STREAM_RE.match(query)
        if mstream:
            return self._create_stream(
                mstream.group("name"), mstream.group("body"), dialect)
        mct = _CREATE_TYPE_RE.match(query)
        if mct:
            return self._create_enum_type(mct.group("name"),
                                          mct.group("vals"))
        mdt = _DROP_TYPE_RE.match(query)
        if mdt:
            if self._load_enum_types().pop(
                    mdt.group("name").lower(), None) is None \
                    and not mdt.group("ifex"):
                raise ValueError(
                    f"DROP TYPE: unknown type {mdt.group('name')!r}")
            self._save_enum_types()
            return self._empty()
        if head.startswith(("CREATE", "INSERT", "DROP", "DELETE", "UPDATE",
                            "TRUNCAT")):
            handled = self._ddl_dml(query, dialect)
            if handled is not None:
                return handled
        msv = _SET_VAR_RE.match(query)
        if msv:
            return self._set_variable(
                msv.group("name"), msv.group("val"), dialect)
        mrv = _RESET_VAR_RE.match(query)
        if mrv:
            return self._reset_variable(mrv.group("name"))
        mset = _SET_RE.match(query)
        if mset:
            self._set_option(mset.group("key"), mset.group("val").strip())
            return self.spark.sql("SELECT 1 AS ok WHERE false")
        man = _ANALYZE_RE.match(query)
        if man:
            cols = ([c.strip() for c in man.group("cols").split(",")
                     if c.strip()] if man.group("cols") else None)
            return self.analyze_table(man.group("name"), cols)
        mcs = _CREATE_SEQ_RE.match(query)
        if mcs:
            return self._create_sequence(
                mcs.group("name"), mcs.group("clauses") or "",
                if_not_exists=bool(mcs.group("ifnx")),
                or_replace=bool(mcs.group("orrep")))
        mds = _DROP_SEQ_RE.match(query)
        if mds:
            return self._drop_sequence(mds.group("name"),
                                       bool(mds.group("ifex")))
        mco = _COMMENT_ON_RE.match(query)
        if mco:
            return self._comment_on(mco.group("kind").upper(),
                                    mco.group("name"), mco.group("val"))
        if _CATALOG_TVF_RE.search(query):
            query = self._resolve_catalog_tvfs(query)
        if _CHECKPOINT_RE.match(query):
            # DuckDB CHECKPOINT flushes the WAL; here every snapshot
            # commit is already a durable file — nothing buffered
            return self._empty()
        if _PRAGMA_VERSION_RE.match(query):
            return catalog.local_frame(
                self.spark,
                [(f"duckdb_read_spark (Spark {self.spark.version})",
                  "spark-sql")],
                "library_version string, source_id string")
        if re.match(r"(?is)^\s*SELECT\s+\*\s+FROM\s+pragma_version"
                    r"\s*\(\s*\)\s*;?\s*$", query):
            # TVF spelling of PRAGMA version (r11)
            return self.sql("PRAGMA version")
        if re.match(r"(?is)^\s*PRAGMA\s+database_list\s*;?\s*$", query):
            # DuckDB shape [measured r11: seq/name/file; file is NULL
            # for the in-memory default] — the engine's local namespace
            # plus any ATTACHed catalogs
            rows = [(0, "memory", None)] + [
                (i + 1, db, None)
                for i, db in enumerate(sorted(self._attached))]
            return catalog.local_frame(
                self.spark,
                rows, "seq int, name string, file string")
        if re.match(r"(?is)^\s*PRAGMA\s+show_tables\s*;?\s*$", query):
            return self.sql("SHOW TABLES")
        mcall = re.match(r"(?is)^\s*CALL\s+pragma_table_info\s*\(\s*"
                         r"'?(?P<name>[\w.]+)'?\s*\)\s*;?\s*$", query)
        if mcall:
            return self._pragma_table_info(mcall.group("name"))
        if re.match(r"(?is)^\s*(?:VACUUM|ANALYZE|VACUUM\s+ANALYZE)"
                    r"\s*;?\s*$", query):
            # bare VACUUM / ANALYZE are accepted no-op hints in DuckDB
            # [measured r11]; the table-targeted forms do real work
            return self._empty()
        if re.match(r"(?is)^\s*SHOW\s+ALL\s+TABLES\s*;?\s*$", query):
            # DuckDB shape [measured r11]: database/schema/name/
            # column_names/column_types/temporary
            rows = []
            db = "memory"
            for n in sorted(self._registered_names()):
                try:
                    schema = self.table(n).schema
                    cn = [f.name for f in schema.fields]
                    ct = [_duck_type_name(f.dataType.simpleString())
                          for f in schema.fields]
                except Exception:
                    cn, ct = [], []
                rows.append((db, "main", n, cn, ct, False))
            return catalog.local_frame(
                self.spark,
                rows, "database string, schema string, name string, "
                      "column_names array<string>, "
                      "column_types array<string>, temporary boolean")
        mpa = _PRAGMA_ASSIGN_RE.match(query)
        if mpa and mpa.group("key").lower() not in (
                "version", "database_size", "database_list",
                "show_tables", "table_info"):
            # PRAGMA key=value is SET sugar in DuckDB (r12)
            self._set_option(mpa.group("key"), mpa.group("val").strip())
            return self._empty()
        if _PRAGMA_DBSIZE_RE.match(query):
            return self._pragma_database_size()
        if _SEQ_FUNC_RE.search(query):
            query = self._resolve_sequence_functions(query)
        if next(sqltext.finditer(_UNION_BY_NAME_RE, query), None):
            return self._union_by_name(query, dialect)
        mti = _PRAGMA_TABLE_INFO_RE.match(query)
        if mti:
            return self._pragma_table_info(mti.group("name"))
        mfts = _PRAGMA_FTS_RE.match(query)
        if mfts:
            return self._pragma_fts(mfts.group("verb").lower(),
                                    mfts.group("args"))
        mopt = _OPTIMIZE_RE.match(query)
        if mopt:
            if mopt.group("zcols"):
                return self.zorder_table(
                    mopt.group("name"),
                    [c.strip() for c in mopt.group("zcols").split(",")])
            return self.optimize_table(mopt.group("name"))
        mmac = _CREATE_MACRO_RE.match(query)
        if mmac:
            # top-level split: a `p := f(1,2)` default carries commas
            params = [p.strip()
                      for p in sqltext.split_top_commas(mmac.group("params"))
                      if p.strip()]
            # a trailing -- comment would swallow the ')' that the
            # expansion wraps around the body
            body = sqltext.detokenize(
                [t for t in sqltext.tokenize(mmac.group("body"))
                 if t.kind != "comment"]).strip()
            # table macros (AS TABLE SELECT …) expand to a derived table;
            # dropping the TABLE keyword makes the parenthesized expansion
            # a plain subquery in FROM position
            if re.match(r"^TABLE\b", body, re.IGNORECASE):
                body = body[5:].strip()
            self._macros[mmac.group("name").lower()] = (params, body)
            return self._empty()
        mdm = _DROP_MACRO_RE.match(query)
        if mdm:
            if self._macros.pop(mdm.group("name").lower(), None) is None \
                    and not mdm.group("ifex"):
                raise ValueError(
                    f"DROP MACRO: unknown macro {mdm.group('name')!r}")
            return self._empty()
        malt = _ALTER_RE.match(query)
        if malt:
            return self.alter_table(malt.group("name"), malt.group("rest"))
        mvac = _VACUUM_RE.match(query)
        if mvac:
            stats = self.vacuum_table(
                mvac.group("name"),
                keep_last=int(mvac.group("keep") or 1))
            return catalog.local_frame(
                self.spark,
                [(stats["removed_dirs"], stats["removed_versions"])],
                "removed_dirs int, removed_versions int")
        muse = _USE_RE.match(query)
        if muse:
            self.use(muse.group("db"))
            return self._empty()
        if _SHOW_DATABASES_RE.match(query):
            return catalog.local_frame(
                self.spark,
                [(n,) for n in sorted(self._attached)], "name string")
        mdh = _DESCRIBE_HISTORY_RE.match(query)
        if mdh:
            # attached 'db.t' names were already rewritten by
            # _resolve_qualified before this dispatch point
            name = mdh.group("name")
            if name not in self._versioned:
                raise ValueError(
                    f"DESCRIBE HISTORY: unknown versioned table {name!r}")
            hist = self.table_history(name)
            return catalog.local_frame(
                self.spark,
                [(h["version"], h["timestamp_ms"], h["mode"],
                  h.get("stream_batch_id")) for h in hist],
                "version int, timestamp_ms long, operation string, "
                "stream_batch_id long",
            )
        msc = _SHOW_CREATE_RE.match(query)
        if msc:
            cols = ",\n  ".join(
                f"{f.name} {f.dataType.simpleString().upper()}"
                + (" NOT NULL" if not_null else "")
                for f, _, not_null in self._table_columns(msc.group("name")))
            return catalog.local_frame(
                self.spark,
                [(f"CREATE TABLE {msc.group('name')} (\n  {cols}\n);",)],
                "sql string")
        mdq = _DESCRIBE_QUERY_RE.match(query)
        if mdq:
            schema = self.sql(mdq.group("body"), dialect=dialect).schema
            return self._describe_df(_schema_columns(schema))
        mdesc = _DESCRIBE_RE.match(query)
        if mdesc:
            return self._describe_df(self._table_columns(mdesc.group("name")))
        if _SHOW_TABLES_RE.match(query):
            return catalog.local_frame(
                self.spark,
                [(n,) for n in sorted(self._view_names())], "name string")
        m = _INSTALL_LOAD_RE.match(query)
        if m:
            verb, name = m.group(1).upper(), m.group(2).strip().strip("'\"")
            module = EXTENSION_ALIASES.get(name, name)
            repo = (m.group("repo") or "core").strip().strip("'\"")
            ver = m.group("ver").strip("'") if m.group("ver") else None
            if verb == "INSTALL":
                self.install(module, repository=repo, version=ver)
            else:
                self.load(module)
            return self.spark.sql("SELECT 1 AS ok WHERE false")
        msq = _SUMMARIZE_QUERY_RE.match(query)
        if msq:
            from .operators.profile import profile_columns

            return profile_columns(self.sql(msq.group("body"), dialect=dialect))
        ms = _SUMMARIZE_RE.match(query)
        if ms:
            return self.summarize(ms.group(1))
        mcf = _COPY_FROM_RE.match(query)
        if mcf:
            return self._copy_from(mcf.group("name"), mcf.group("path"),
                                   mcf.group("opts"))
        mc = _COPY_RE.match(query)
        if mc:
            return self._copy_to(mc.group("src"), mc.group("path"),
                                 mc.group("opts"), dialect)
        me = _EXPLAIN_RE.match(query)
        if me:
            df = self.sql(me.group("body"), dialect=dialect)
            if me.group("analyze"):
                from .plans.inspect import executed_plan

                df.collect()
                text = executed_plan(df)
            else:
                from .plans.inspect import physical_plan

                text = physical_plan(df)
            return catalog.local_frame(
                self.spark,
                [(text,)], "explain_value string"
            )
        query = self._resolve_match_bm25(query)
        if dialect == "duckdb":
            # macros first: an expansion may produce read_*/glob call
            # sites that the next pass must still resolve
            query = self._expand_macros(query)
            # …and getvariable() call sites, which late-bind at macro
            # CALL time (the early substitution pass ran before the
            # expansion inserted them)
            if _GETVARIABLE_RE.search(query):
                query = self._substitute_getvariable(query)
        query = self._resolve_read_functions(query)
        if dialect == "duckdb":
            pct_df = self._try_limit_percent(query)
            if pct_df is not None:
                return pct_df
            query = _rewrite_from_first(query)
            self._check_natural_joins(query)
            query = self._resolve_series_functions(query)
            query = self._rewrite_columns_expr(query)
            query = self._rewrite_positional_join(query)
            query = self._rewrite_star_replace(query)
            query = self._rewrite_star_rename(query)
            if query.lstrip()[:5].upper() == "PIVOT":
                query = self._dynamize_pivot(query)
            # kinds feed len() dispatch, element_at-on-map and bracket
            # subscripts (r7) — computed unconditionally now, it's one
            # cached-per-registration-epoch catalog walk, no Spark job
            query = to_spark_sql(query, column_kinds=self._column_kinds(query))
        query = self._resolve_time_travel(query)
        if re.search(r"(?is)\bWITH\s+RECURSIVE\b", query):
            out = self._try_union_recursive(query)
            if out is not None:
                return out
        query = self._materialize_recursive_inputs(query)
        if self._time_partitioned:
            injected = self._inject_partition_filters(query)
            if injected != query:
                from pyspark.errors import AnalysisException

                try:
                    return self.spark.sql(injected)
                except AnalysisException:
                    # e.g. the matched column name belonged to a different
                    # (non-partitioned) table in this query — fall through
                    # to the untouched text
                    pass
        from pyspark.errors import AnalysisException as _AE

        for _ in range(5):  # chained aliases expand one per retry
            try:
                return self._ym_fetchable(self.spark.sql(query))
            except _AE as e:
                # DuckDB resolves select-list aliases in WHERE/HAVING
                # (dialect.substitute_select_alias) — retry with the
                # unresolved name inlined; a real column never errors,
                # so column precedence is preserved
                m_al = re.search(r"UNRESOLVED_COLUMN[^`]*`([^`]+)`",
                                 str(e))
                sub = (substitute_select_alias(query, m_al.group(1))
                       if m_al else None)
                if sub is None:
                    raise
                query = sub
        return self._ym_fetchable(self.spark.sql(query))

    def _ym_fetchable(self, df: DataFrame) -> DataFrame:
        """Render YEAR-MONTH interval output columns to the day-time
        carrier (months × 30 days). PySpark cannot FETCH a
        YearMonthIntervalType at all (fromInternal is unimplemented —
        to_months(1) crashed at collect, VERDICT r11 #9b), and DuckDB's
        own Python fetch converts months to 30-day timedeltas, so the
        carrier matches the oracle's values exactly. Plan-only: no job
        runs; columns of every other type pass through untouched."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import YearMonthIntervalType

        def _is_cal(dt) -> bool:
            return type(dt).__name__ == "CalendarIntervalType"

        if not any(isinstance(f.dataType, YearMonthIntervalType)
                   or _is_cal(f.dataType) for f in df.schema.fields):
            return df
        cols = []
        for f in df.schema.fields:
            q = f.name.replace("`", "``")
            if isinstance(f.dataType, YearMonthIntervalType):
                # widen to INTERVAL MONTH first: the integral cast
                # counts the interval's END field, so a pure
                # INTERVAL YEAR would otherwise yield YEARS (r12:
                # INTERVAL 2 YEAR fetched as 60 days, not 720)
                cols.append(F.expr(
                    f"make_dt_interval(30 * CAST(CAST(`{q}` AS "
                    f"INTERVAL MONTH) AS BIGINT))").alias(f.name))
            elif _is_cal(f.dataType):
                # CalendarIntervalType has no field extractors and no
                # numeric cast — parse its canonical string render
                # ('1 years 2 months 3 days 4 hours 5 minutes 6.5
                # seconds'; absent units omitted, negatives signed)
                s = f"CAST(`{q}` AS STRING)"

                def unit(u: str, scale: int) -> str:
                    return (f"coalesce(try_cast(regexp_extract({s}, "
                            f"'(-?[0-9]+) {u}', 1) AS BIGINT), 0) "
                            f"* {scale}")

                total = " + ".join((
                    unit("years", 31_104_000),    # 12 × 30 days
                    unit("months", 2_592_000),    # 30 days
                    unit("days", 86_400),
                    unit("hours", 3_600),
                    unit("minutes", 60),
                    f"coalesce(try_cast(regexp_extract({s}, "
                    f"'(-?[0-9.]+) seconds', 1) AS DECIMAL(20,6)), 0)",
                ))
                cols.append(F.expr(
                    f"CASE WHEN `{q}` IS NULL THEN NULL ELSE "
                    f"make_dt_interval(0, 0, 0, {total}) END"
                ).alias(f.name))
            else:
                cols.append(F.col(f"`{q}`"))
        return df.select(*cols)

    def _try_limit_percent(self, query: str):
        """``LIMIT n% [OFFSET k]`` — DuckDB's percentage limit
        [measured: floor(child_count · n/100) rows, the percent taken
        of the PRE-offset count (range(5) LIMIT 40% OFFSET 1 → 2 rows);
        n outside [0, 100] errors]. Spark's LIMIT needs a literal, so
        this runs as two jobs: count the child, then offset+limit —
        same asymptotic cost as DuckDB's own implementation. Returns
        None when the statement has no top-level trailing percent
        limit."""
        if "%" not in query or not re.search(r"(?i)\bLIMIT\b", query):
            return None

        toks = sqltext.tokenize(query)
        sig = sqltext.significant(toks)
        # drop a trailing ';'
        while sig and toks[sig[-1]].text == ";":
            sig = sig[:-1]
        if not sig:
            return None
        # optional trailing OFFSET <int>
        off = None
        end = len(sig)
        if (len(sig) >= 2 and toks[sig[-1]].kind == "num"
                and toks[sig[-2]].kind == "ident"
                and toks[sig[-2]].text.upper() == "OFFSET"):
            off = int(toks[sig[-1]].text)
            end = len(sig) - 2
        if end < 1 or toks[sig[end - 1]].text != "%":
            return None
        # find the top-level LIMIT keyword scanning back
        depth = 0
        lim_pos = None
        for p in range(end - 2, -1, -1):
            t = toks[sig[p]]
            if t.text in (")", "]"):
                depth += 1
            elif t.text in ("(", "["):
                depth -= 1
            elif (depth == 0 and t.kind == "ident"
                    and t.text.upper() == "LIMIT"):
                lim_pos = p
                break
            elif depth == 0 and t.text == ";":
                return None
        if lim_pos is None or lim_pos + 1 > end - 2:
            return None
        pct_txt = sqltext.detokenize(
            toks[sig[lim_pos + 1]:sig[end - 2] + 1]).strip()
        base = sqltext.detokenize(toks[:sig[lim_pos]]).strip()
        if not base:
            return None
        pct_row = self.sql(f"SELECT CAST(({pct_txt}) AS DOUBLE) AS p",
                           dialect="duckdb").collect()
        pct = pct_row[0]["p"]
        if pct is None:
            # LIMIT NULL% keeps every row [measured r12: DuckDB treats
            # a NULL percent like LIMIT NULL — no limit at all]
            inner = self.sql(base, dialect="duckdb")
            return inner.offset(off) if off else inner
        if pct < 0 or pct > 100:
            raise ValueError(
                "Limit percent out of range, should be between 0% and "
                "100% (same as DuckDB)")
        inner = self.sql(base, dialect="duckdb")
        import math

        n = int(math.floor(inner.count() * pct / 100.0))
        if off:
            inner = inner.offset(off)
        return inner.limit(n)

    def _materialize_recursive_inputs(self, query: str) -> str:
        """WITH RECURSIVE optimization: non-recursive CTEs referenced by
        the recursive step are executed once, cached, and joined per
        iteration instead of re-evaluated (plans/recursive.py — shared
        with the declared-query runner path)."""
        from .plans.recursive import materialize_recursive_inputs

        return materialize_recursive_inputs(self.spark, query)

    def _inject_partition_filters(self, query: str) -> str:
        """Generated-partition-filter injection (the Delta generated-columns
        idea, public spec): for every table registered through the
        time-partitioned path, a literal comparison on its timestamp column
        (``ts >= '2024-01-02 03:00:00'``, BETWEEN, =) gains the equivalent
        predicate on the derived partition column (``AND p_date >=
        '2024-01-02'``), which Catalyst turns into partition pruning at
        planning time — whole day/hour directories are never listed. The
        hive partition-value formats sort lexicographically in time order,
        so string comparison is exact at partition granularity; boundary
        partitions are kept (``<``/``>`` widen to ``<=``/``>=``) and the
        original row-level predicate still applies inside them."""
        import datetime as _dt

        gran_fmt = {"hour": "%Y-%m-%d-%H", "day": "%Y-%m-%d", "month": "%Y-%m"}

        # tables actually referenced by THIS query (matched against the
        # original text — never against a prior pass's injected output)
        present = {
            name: cfg for name, cfg in self._time_partitioned.items()
            if re.search(rf"\b{re.escape(name)}\b", query, re.IGNORECASE)
        }
        # Cross-table collision guards (ADVICE r5): with two present
        # time-partitioned tables sharing a ts column name, an unqualified
        # (or mis-qualified) match would let table B's pass append a
        # partition predicate in B's granularity against A's column —
        # valid SQL, so the AnalysisException fallback never fires and
        # rows are silently dropped. Same hazard when A's partition
        # column name equals B's ts column (pass B would re-match text
        # pass A injected). Skip the colliding columns; correctness
        # beats the pruning win.
        ts_names = [cfg[0].lower() for cfg in present.values()]
        p_names = {cfg[1].lower() for cfg in present.values()}
        out = query
        for name, (ts_col, p_col, gran) in present.items():
            if ts_names.count(ts_col.lower()) > 1 or ts_col.lower() in p_names:
                continue
            # aliases under which this table appears (FROM t a / JOIN t AS
            # a): a qualified match `x.ts` is injected only when `x` is the
            # table itself or one of its aliases — `other.ts` must not gain
            # THIS table's partition predicate
            quals = {name.lower()}
            for m in re.finditer(
                    rf"\b{re.escape(name)}\s+(?:AS\s+)?([A-Za-z_]\w*)",
                    query, re.IGNORECASE):
                w = m.group(1).lower()
                if w not in ("where", "on", "join", "left", "right", "full",
                             "inner", "cross", "group", "order", "limit",
                             "union", "intersect", "except", "having",
                             "using", "for", "version", "timestamp"):
                    quals.add(w)
            fmt = gran_fmt[gran]

            def plit(lit: str) -> str | None:
                try:
                    return _dt.datetime.fromisoformat(lit.strip("'")).strftime(fmt)
                except ValueError:
                    return None

            cmp_pat = re.compile(
                rf"(?P<pre>(?:[A-Za-z_]\w*\.)?)\b{re.escape(ts_col)}\b\s*"
                rf"(?P<op>>=|<=|=|<|>)\s*(?P<lit>'[^']*')",
                re.IGNORECASE,
            )
            btw_pat = re.compile(
                rf"(?P<pre>(?:[A-Za-z_]\w*\.)?)\b{re.escape(ts_col)}\b\s+BETWEEN\s+"
                rf"(?P<lo>'[^']*')\s+AND\s+(?P<hi>'[^']*')",
                re.IGNORECASE,
            )

            # Replacements are PARENTHESIZED: under a preceding NOT, the
            # bare form `NOT ts >= L AND p >= D` would bind the AND outside
            # the NOT and silently drop every early partition. The wrap is
            # semantics-preserving because the partition predicate is
            # IMPLIED by the ts predicate (p is derived from ts), so
            # NOT (A AND B) ≡ NOT A when A ⇒ B.
            def qual_ok(pre: str) -> bool:
                return (not pre) or pre[:-1].lower() in quals

            def csub(m: re.Match) -> str:
                if not qual_ok(m.group("pre")):
                    return m.group(0)
                p = plit(m.group("lit"))
                if p is None:
                    return m.group(0)
                op = {"<": "<=", ">": ">="}.get(m.group("op"), m.group("op"))
                return f"({m.group(0)} AND {m.group('pre')}{p_col} {op} '{p}')"

            def bsub(m: re.Match) -> str:
                if not qual_ok(m.group("pre")):
                    return m.group(0)
                lo, hi = plit(m.group("lo")), plit(m.group("hi"))
                if lo is None or hi is None:
                    return m.group(0)
                return (f"({m.group(0)} AND {m.group('pre')}{p_col} "
                        f"BETWEEN '{lo}' AND '{hi}')")

            # sqltext.sub re-measures the literal spans on each pass: the
            # first pass changes the offsets the second one sees
            out = sqltext.sub(btw_pat, bsub, out)
            out = sqltext.sub(cmp_pat, csub, out)
        return out

    # -- sequences (DuckDB CREATE SEQUENCE / nextval id-generation) -------

    def _seq_path(self) -> str | None:
        import os

        if self._warehouse is None:
            return None
        return os.path.join(self._warehouse, "_sequences.json")

    def _load_sequences(self) -> dict:
        import json
        import os

        if getattr(self, "_sequences", None) is None:
            self._sequences = {}
            p = self._seq_path()
            if p and os.path.exists(p):
                try:
                    with open(p) as f:
                        self._sequences = json.load(f)
                except (OSError, ValueError):
                    pass
        return self._sequences

    def _save_sequences(self) -> None:
        import json
        import os

        p = self._seq_path()
        if p is None:
            return
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._sequences, f)
        os.replace(tmp, p)

    def _create_sequence(self, name: str, clauses: str,
                         if_not_exists: bool,
                         or_replace: bool = False) -> DataFrame:
        """Order-free clause parsing (DuckDB accepts ``INCREMENT BY 2
        START WITH 5``); unknown clauses refuse by name rather than
        falling through to an unrelated Spark parse error. Sequence
        names are case-insensitive (unquoted-identifier folding,
        measured). Duplicate CREATE errors; IF NOT EXISTS is a no-op
        that does NOT reset the counter (measured)."""
        name = name.lower()
        seqs = self._load_sequences()
        if name in seqs:
            if if_not_exists:
                return self._empty()
            if not or_replace:
                raise ValueError(
                    f"CREATE SEQUENCE: sequence {name!r} already exists")
            # OR REPLACE re-creates and RESETS the counter (r12)
            seqs.pop(name, None)
        start = inc = None
        minv = maxv = None
        for m in _SEQ_CLAUSE_RE.finditer(clauses):
            if m.group("start") is not None:
                start = int(m.group("start"))
            elif m.group("inc") is not None:
                inc = int(m.group("inc"))
            elif m.group("minv") is not None:
                minv = int(m.group("minv"))
            elif m.group("maxv") is not None:
                maxv = int(m.group("maxv"))
            elif m.group("cycle"):
                raise NotImplementedError(
                    "CREATE SEQUENCE: CYCLE is not supported")
            elif m.group("junk"):
                raise ValueError(
                    f"CREATE SEQUENCE: unsupported clause at "
                    f"{m.group('junk')!r}")
        inc = 1 if inc is None else inc
        if inc == 0:
            raise ValueError("CREATE SEQUENCE: INCREMENT must be nonzero")
        if start is None:
            start = minv if (inc > 0 and minv is not None) else \
                maxv if (inc < 0 and maxv is not None) else 1
        seqs[name] = {"next": start, "inc": inc, "last": None,
                      "min": minv, "max": maxv}
        self._save_sequences()
        return self._empty()

    def _drop_sequence(self, name: str, if_exists: bool) -> DataFrame:
        seqs = self._load_sequences()
        if seqs.pop(name.lower(), None) is None and not if_exists:
            raise ValueError(f"DROP SEQUENCE: unknown sequence {name!r}")
        self._save_sequences()
        return self._empty()

    def _reserve_sequence_range(self, name: str, n: int):
        """Reserve ``n`` consecutive nextval values in one statement-
        level allocation (DEFAULT nextval inserts, r12); returns
        (base, inc). Serial by nature — a sequence IS a serialization
        point — so the caller assigns base + (row_number-1)*inc."""
        name = name.lower()
        seqs = self._load_sequences()
        if name not in seqs:
            raise ValueError(f"nextval: unknown sequence {name!r}")
        s = seqs[name]
        base, inc = s["next"], s["inc"]
        if n > 0:
            for v in (base, base + (n - 1) * inc):
                if (s.get("max") is not None and v > s["max"]) or \
                        (s.get("min") is not None and v < s["min"]):
                    raise ValueError(
                        f"nextval: sequence {name!r} is out of bounds "
                        f"(min={s.get('min')}, max={s.get('max')})")
            s["next"] = base + n * inc
            s["last"] = base + (n - 1) * inc
            self._save_sequences()
        return base, inc

    def _default_fill_expr(self, df, f, defaults):
        """Column expression for an INSERT-omitted column: its DEFAULT
        (NULL when none), with ``nextval('seq')`` defaults allocated as
        a contiguous per-row range over the incoming rows (single-
        statement reservation; ordering follows the input row order)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        d = defaults.get(f.name)
        if d is None:
            return F.lit(None).cast(f.dataType).alias(f.name)
        mseq = re.fullmatch(r"(?is)\s*nextval\s*\(\s*'([\w.]+)'\s*\)\s*",
                            d)
        if mseq:
            n = df.count()
            base, inc = self._reserve_sequence_range(mseq.group(1), n)
            rn = F.row_number().over(
                Window.orderBy(F.monotonically_increasing_id()))
            return ((F.lit(base) + (rn - F.lit(1)) * F.lit(inc))
                    .cast(f.dataType).alias(f.name))
        return F.expr(d).cast(f.dataType).alias(f.name)

    def _resolve_sequence_functions(self, query: str) -> str:
        """``nextval('s')`` / ``currval('s')`` — driver-side allocation,
        one value per textual call site (matches DuckDB for the common
        shapes: scalar SELECTs and multi-row ``INSERT … VALUES`` lists,
        where each row's expression is its own call site). Per-ROW
        allocation over a scanned relation would need a distributed
        monotonic counter — a serialization point by definition at
        scale — so ``nextval`` over a FROM-relation refuses with the
        window-function alternative spelled out."""
        hits = list(sqltext.finditer(_SEQ_FUNC_RE, query))
        if not hits:
            return query
        # Relation-FROM analysis: a real scanned relation would need
        # per-row allocation. Function-internal FROMs (EXTRACT/SUBSTRING/
        # TRIM/POSITION/OVERLAY) and IS [NOT] DISTINCT FROM are not
        # relations (review r6); a FROM VALUES list is allowed ONLY when
        # every nextval call site sits INSIDE the VALUES tuples — a
        # select-list nextval over VALUES rows would replicate one
        # allocated constant per row (review r6).
        func_from = {"extract", "substring", "substr", "trim",
                     "position", "overlay"}
        rel_from: list[int] = []
        for mf in sqltext.finditer(r"\bFROM\b", query, re.IGNORECASE):
            p = mf.start()
            before = query[:p]
            if re.search(r"\bDISTINCT\s*$", before, re.IGNORECASE):
                continue
            # innermost unmatched '(' before this FROM, and its call name
            opener = sqltext.enclosing_bracket(query, p)
            if opener is not None:
                mname = re.search(r"([A-Za-z_]\w*)\s*$", query[:opener])
                if mname and mname.group(1).lower() in func_from:
                    continue
            nxt = re.match(r"\s*\(*\s*(\w+)?", query[mf.end():])
            if (nxt.group(1) or "").upper() != "VALUES":
                raise NotImplementedError(
                    "nextval()/currval() over a FROM relation needs "
                    "per-row sequence allocation — a distributed "
                    "serialization point; use base + row_number() OVER "
                    "(ORDER BY ...) instead, then advance the sequence")
            rel_from.append(p)
        if rel_from and any(h.start() < min(rel_from) for h in hits):
            raise NotImplementedError(
                "nextval()/currval() in the select list over a VALUES "
                "relation would replicate ONE allocated value across "
                "every row — put the call inside each VALUES tuple, or "
                "use base + row_number() OVER (ORDER BY ...)")
        seqs = self._load_sequences()
        out, pos = [], 0
        for m in hits:
            name = m.group("name").lower()   # unquoted-identifier folding
            fn = m.group("fn").lower()
            if name not in seqs:
                raise ValueError(f"{fn}: unknown sequence {name!r}")
            s = seqs[name]
            if fn == "nextval":
                val = s["next"]
                if (s.get("max") is not None and val > s["max"]) or \
                        (s.get("min") is not None and val < s["min"]):
                    raise ValueError(
                        f"nextval: sequence {name!r} is out of bounds "
                        f"(min={s.get('min')}, max={s.get('max')})")
                s["next"] = val + s["inc"]
                s["last"] = val
            else:
                if s["last"] is None:
                    raise ValueError(
                        f"currval: sequence {name!r} has not been used "
                        f"in this catalog yet (call nextval first)")
                val = s["last"]
            out.append(query[pos:m.start()])
            out.append(f"CAST({val} AS BIGINT)")
            pos = m.end()
        out.append(query[pos:])
        self._save_sequences()
        return "".join(out)

    def _union_by_name(self, query: str, dialect: str) -> DataFrame:
        """``A UNION [ALL] BY NAME B`` (DuckDB's name-matching set op,
        which Spark SQL lacks) — TOP-LEVEL occurrences only: the sides
        run as ordinary queries and fold through unionByName with
        NULL-fill for missing columns (DuckDB's rule); each non-ALL op
        applies DISTINCT at its own step (left-associative, so a later
        ALL leg keeps its duplicates — review r6). A BY NAME inside a
        subquery, a WITH-prefixed statement (the legs would lose CTE
        scope) or a non-SELECT statement (CREATE VIEW would silently
        keep only the first leg) refuses."""
        head = query.lstrip()[:6].upper()
        if not (head.startswith(("SELECT", "VALUES", "("))):
            raise NotImplementedError(
                "UNION BY NAME is supported only in plain top-level "
                "SELECT statements — a textual split inside "
                "CREATE VIEW/WITH would silently change semantics "
                "(first-leg-only view, lost CTE scope)")
        cuts = list(sqltext.top_level_finditer(query, _UNION_BY_NAME_RE))
        if not cuts:
            # BY NAME below top level (r9): materialize the innermost
            # enclosing parenthesized span as its own BY-NAME union (a
            # temp view), substitute the view into the outer text and
            # re-run. An outer-CTE reference inside the span fails
            # loudly at the inner run (unknown view) — same class as
            # the WITH refusal above, never a silent change.
            m2 = next(sqltext.finditer(_UNION_BY_NAME_RE, query), None)
            open_i = (None if m2 is None
                      else sqltext.enclosing_bracket(query, m2.start()))
            if open_i is None:
                raise NotImplementedError(
                    "UNION BY NAME inside a subquery is not supported — "
                    "hoist it to the top level or align the column lists")
            close_i = sqltext.match_paren(query, open_i)
            inner_df = self._union_by_name(
                query[open_i + 1:close_i], dialect)
            import uuid as _uuid

            v2 = f"__ubn_{_uuid.uuid4().hex[:8]}"
            inner_df.createOrReplaceTempView(v2)
            return self.sql(
                query[:open_i] + f"(SELECT * FROM {v2})"
                + query[close_i + 1:], dialect=dialect)
        pieces, pos = [], 0
        for m in cuts:
            pieces.append(query[pos:m.start()])
            pos = m.end()
        pieces.append(query[pos:])
        alls = [bool(m.group("all")) for m in cuts]
        # a trailing top-level ORDER BY/LIMIT binds to the WHOLE union,
        # not the last side — split it off and re-apply over the result
        # (word-bounded: rate_limit is not a LIMIT, review r6)
        last, tail = pieces[-1], ""
        mtail = next(sqltext.top_level_finditer(
            last, r"\b(?:ORDER\s+BY|LIMIT)\b"), None)
        if mtail is not None:
            last, tail = last[:mtail.start()], last[mtail.start():]
        pieces[-1] = last
        out = self.sql(pieces[0], dialect=dialect)
        for body, is_all in zip(pieces[1:], alls):
            out = out.unionByName(self.sql(body, dialect=dialect),
                                  allowMissingColumns=True)
            if not is_all:
                # left-associative: DISTINCT applies at THIS step, so a
                # later ALL leg keeps its duplicates (review r6)
                out = out.distinct()
        if tail.strip():
            import uuid as _uuid

            v = f"__ubn_{_uuid.uuid4().hex[:8]}"
            out.createOrReplaceTempView(v)
            out = self.sql(f"SELECT * FROM {v} {tail}", dialect=dialect)
        return out

    # -- COMMENT ON + catalog TVFs (duckdb_tables / duckdb_columns) -------

    def _comments_path(self) -> str | None:
        import os

        if self._warehouse is None:
            return None
        return os.path.join(self._warehouse, "_comments.json")

    def _load_comments(self) -> dict:
        import json
        import os

        if getattr(self, "_comments", None) is None:
            self._comments = {}
            p = self._comments_path()
            if p and os.path.exists(p):
                try:
                    with open(p) as f:
                        self._comments = json.load(f)
                except (OSError, ValueError):
                    pass
        return self._comments

    def _comment_on(self, kind: str, name: str, val: str) -> DataFrame:
        """``COMMENT ON TABLE t / COLUMN t.c IS 'text' | NULL`` — persisted
        in a warehouse sidecar ('' key = the table's own comment), read
        back through duckdb_tables()/duckdb_columns() like DuckDB."""
        import json
        import os

        comment = None if val.upper() == "NULL" else \
            val[1:-1].replace("''", "'")
        if kind == "COLUMN":
            if "." not in name:
                raise ValueError(
                    "COMMENT ON COLUMN needs a table.column name")
            tbl, col = name.rsplit(".", 1)
        else:
            tbl, col = name, ""
        tbl = tbl.lower()
        known = {n.lower() for n in self._view_names()}
        if tbl not in known:
            raise ValueError(f"COMMENT ON: unknown table {tbl!r}")
        if col:
            cols = {f.name.lower() for f in self.table(tbl).schema.fields}
            if col.lower() not in cols:
                raise ValueError(
                    f"COMMENT ON: unknown column {tbl}.{col}")
        cs = self._load_comments()
        cs.setdefault(tbl, {})[col.lower()] = comment
        p = self._comments_path()
        if p is not None:
            os.makedirs(os.path.dirname(p), exist_ok=True)
            tmp = p + ".tmp"
            with open(tmp, "w") as f:
                json.dump(cs, f)
            os.replace(tmp, p)
        return self._empty()

    def _resolve_catalog_tvfs(self, query: str) -> str:
        """``FROM duckdb_tables() / duckdb_columns()`` — DuckDB's catalog
        TVFs (the read side of COMMENT ON), answered from the session
        catalog; driver-side metadata only."""
        import hashlib

        cs = self._load_comments()
        tbls = [n for n in self._view_names() if not n.startswith("__")]

        def build(which: str):
            rows = []
            for t in sorted(tbls):
                try:
                    fields = self.spark.table(t).schema.fields
                except Exception:
                    continue
                if which == "tables":
                    rows.append(("memory", "main", t,
                                 cs.get(t.lower(), {}).get(""),
                                 len(fields)))
                else:
                    for i, f in enumerate(fields):
                        rows.append(
                            ("memory", "main", t, f.name, i + 1,
                             f.dataType.simpleString().upper(),
                             cs.get(t.lower(), {}).get(f.name.lower())))
            schema = ("database_name string, schema_name string, "
                      "table_name string, comment string, "
                      "column_count int") if which == "tables" else (
                      "database_name string, schema_name string, "
                      "table_name string, column_name string, "
                      "column_index int, data_type string, "
                      "comment string")
            return catalog.local_frame(self.spark, rows, schema)

        def sub(m: re.Match) -> str:
            which = m.group("which").lower()
            view = f"__cat_{which}_{hashlib.md5(str(sorted(tbls)).encode()).hexdigest()[:8]}"
            build(which).createOrReplaceTempView(view)
            return view

        # the phrase inside a literal is data
        return sqltext.sub(_CATALOG_TVF_RE, sub, query)

    def _pragma_database_size(self) -> DataFrame:
        """DuckDB's PRAGMA database_size column shape, answered from the
        warehouse directory (block fields are 0 — no block storage)."""
        import os

        total = 0
        if self._warehouse and os.path.isdir(self._warehouse):
            for root, _dirs, files in os.walk(self._warehouse):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
        return catalog.local_frame(
            self.spark,
            [(f"{total} bytes", 0, 0, 0, 0, "0 bytes", "0 bytes",
              "unlimited")],
            "database_size string, block_size bigint, total_blocks bigint,"
            " used_blocks bigint, free_blocks bigint, wal_size string,"
            " memory_usage string, memory_limit string")

    def _pragma_table_info(self, name: str) -> DataFrame:
        """``PRAGMA table_info('t')`` — the DuckDB/SQLite introspection
        shape (cid, name, type, notnull, dflt_value, pk), sourced from the
        view schema plus the constraints/defaults sidecar for versioned
        tables; same columns/values as DuckDB so scripts using it port
        verbatim."""
        key = name
        if key not in self._versioned and key not in self._table_paths \
                and "." in key:
            db, _, t = key.partition(".")
            key = self._attached.get(db, {}).get(t, key)
        defaults = self._column_defaults(key)
        pk = {col for c in self._constraints(key)
              if c["kind"] == "unique" and c.get("pk") for col in c["cols"]}
        rows = [(i, f.name, dtype, not_null, defaults.get(f.name), f.name in pk)
                for i, (f, dtype, not_null) in enumerate(self._table_columns(key))]
        return catalog.local_frame(
            self.spark,
            rows, "cid int, name string, type string, notnull boolean, "
                  "dflt_value string, pk boolean")

    def _pragma_fts(self, verb: str, argstr: str) -> DataFrame:
        """``PRAGMA create_fts_index('t', 'id', 'text'[, …][, opts])`` /
        ``PRAGMA drop_fts_index('t')`` — the DuckDB fts extension's
        statement surface, mapped onto operators/retrieval.bm25
        (score-on-read; there is no materialized inverted index to build,
        so "create" records metadata and validates columns — O(1)).

        Honest divergence, documented: tokenization is lowercase +
        whitespace split (matching the SQL-CTE oracle the q114 family
        pins); DuckDB's default Porter stemmer and stopword list are NOT
        applied — an explicit ``stemmer := 'porter'`` warns rather than
        silently scoring differently."""
        parts = sqltext.split_top_commas(argstr)
        pos: list[str] = []
        named: dict[str, str] = {}
        for p in parts:
            mnv = re.match(r"^\s*(\w+)\s*:=\s*(.+?)\s*$", p, re.DOTALL)
            if mnv:
                named[mnv.group(1).lower()] = mnv.group(2)
            elif p.strip():
                pos.append(p.strip())

        def unq(s: str) -> str:
            s = s.strip()
            if s.startswith("'") and s.endswith("'"):
                return s[1:-1].replace("''", "'")
            return s

        if verb == "drop":
            if not pos:
                raise ValueError("PRAGMA drop_fts_index: missing table")
            if self._fts_indexes.pop(unq(pos[0]).lower(), None) is None:
                raise ValueError(
                    f"PRAGMA drop_fts_index: no FTS index on {unq(pos[0])!r}")
            return self._empty()
        if len(pos) < 3:
            raise ValueError(
                "PRAGMA create_fts_index needs (table, id_col, text_col, …)")
        table, id_col = unq(pos[0]), unq(pos[1])
        fields = [unq(p) for p in pos[2:]]
        cols = set(self.table(table).columns)
        missing = [c for c in [id_col, *fields] if c not in cols and c != "*"]
        if missing:
            raise ValueError(
                f"PRAGMA create_fts_index: unknown column(s) {missing} "
                f"on {table!r}")
        if fields == ["*"]:
            fields = [c for c in self.table(table).columns if c != id_col]
        if table.lower() in self._fts_indexes and \
                unq(named.get("overwrite", "0")) not in ("1", "true"):
            raise ValueError(
                f"PRAGMA create_fts_index: index on {table!r} already "
                f"exists (pass overwrite := 1)")
        stemmer = unq(named.get("stemmer", "none")).lower()
        if stemmer not in ("none", ""):
            import warnings

            warnings.warn(
                f"fts stemmer {stemmer!r} is not implemented — scoring "
                f"uses lowercase whitespace tokens (stemmer := 'none')")
        self._fts_indexes[table.lower()] = {"id": id_col, "fields": fields}
        return self._empty()

    def _resolve_match_bm25(self, query: str) -> str:
        """Rewrite ``fts_main_<t>.match_bm25(<id expr>, '<query>'
        [, fields := …][, k := …][, b := …][, conjunctive := …])`` call
        sites (the DuckDB fts scoring function) into correlated scalar
        subqueries over a per-call scores view computed by
        operators/retrieval.bm25_scores.

        Scale shape: each call site costs one bm25_scores plan (one tf
        shuffle + broadcast stats) joined back by Catalyst's
        scalar-subquery-to-join rewrite; non-matching docs get NULL, same
        as DuckDB's function."""
        if "match_bm25" not in query.lower():
            return query
        from .operators import retrieval

        pat = re.compile(
            r"(?:fts_main_(?P<tbl>\w+)\s*\.\s*)?match_bm25\s*\(",
            re.IGNORECASE)
        out, pos = [], 0
        for m in sqltext.finditer(pat, query):
            if m.start() < pos:
                continue
            close = sqltext.match_paren(query, m.end() - 1)
            args = sqltext.split_top_commas(query[m.end():close])
            if len(args) < 2:
                raise ValueError(
                    "match_bm25 needs (id_expr, 'query'[, options])")
            id_expr = args[0].strip()
            qm = re.match(r"^\s*'((?:[^']|'')*)'\s*$", args[1])
            if not qm:
                raise ValueError(
                    "match_bm25: the query must be a string literal")
            terms = [t for t in
                     qm.group(1).replace("''", "'").lower().split() if t]
            named: dict[str, str] = {}
            for a in args[2:]:
                mnv = re.match(r"^\s*(\w+)\s*:=\s*(.+?)\s*$", a, re.DOTALL)
                if mnv:
                    named[mnv.group(1).lower()] = mnv.group(2).strip()
            tbl = m.group("tbl")
            if tbl is None:
                if len(self._fts_indexes) != 1:
                    raise ValueError(
                        "bare match_bm25 needs exactly one FTS index — "
                        "qualify as fts_main_<table>.match_bm25")
                tbl = next(iter(self._fts_indexes))
            info = self._fts_indexes.get(tbl.lower())
            if info is None:
                raise ValueError(
                    f"match_bm25: no FTS index on {tbl!r} — run PRAGMA "
                    f"create_fts_index first")
            fields = info["fields"]
            if "fields" in named:
                fields = [f.strip().strip("'")
                          for f in named["fields"].split(",") if f.strip()]
            from pyspark.sql import functions as F

            src = self.table(tbl)
            text = (F.col(fields[0]) if len(fields) == 1
                    else F.concat_ws(" ", *[F.col(c) for c in fields]))
            k1 = float(named.get("k", 1.2))
            bb = float(named.get("b", 0.75))
            conj = (named.get("conjunctive", "0").strip("'").lower()
                    in ("1", "true"))  # TRUE/True spellings count too
            # one scores view per DISTINCT (index, terms, options) — a
            # session issuing many match_bm25 queries must not leak a new
            # temp view (and recompute bm25) per call site. For tables
            # backed by an immutable registered PATH the memo is
            # SESSION-level (r13, VERDICT item 4): a fresh Engine over the
            # same session and the same files reuses the existing scores
            # view instead of rebuilding the bm25 plan + temp view —
            # metadata-only (the score query itself still recomputes from
            # parquet on every execution; nothing row-valued is cached).
            path = self._table_paths.get(tbl.lower())
            if path is not None:
                cache = catalog.session_state(self.spark).fts_views
                # the file's identity too: a rewritten file at the same
                # path must get a fresh view, not the old file's scores
                try:
                    st = os.stat(path)
                    ident = (st.st_mtime_ns, st.st_size)
                except OSError:
                    ident = None
                ckey = (path, ident, info["id"], tuple(terms),
                        tuple(fields), k1, bb, conj)
            else:
                cache = getattr(self, "_fts_view_cache", None)
                if cache is None:
                    cache = self._fts_view_cache = {}
                ckey = (tbl.lower(), tuple(terms), tuple(fields), k1, bb,
                        conj, getattr(self, "_reg_epoch", 0))
            view = cache.get(ckey)
            if view is None:
                scores = retrieval.bm25_scores(
                    src.withColumn("__fts_text", text.cast("string")),
                    terms, text_col="__fts_text", id_col=info["id"],
                    k1=k1, b=bb, conjunctive=conj,
                ).select(F.col(info["id"]).alias("__id"),
                         F.col("bm25").alias("__score"))
                # session-global name sequence: two Engine instances on
                # one session must never hand out the same view name for
                # different keys (the per-Engine counter collided)
                view = f"__fts_scores_{next(_FTS_VIEW_SEQ)}"
                scores.createOrReplaceTempView(view)
                cache[ckey] = view
            out.append(query[pos:m.start()])
            out.append(f"(SELECT s.__score FROM {view} s "
                       f"WHERE s.__id = {id_expr})")
            pos = close + 1
        out.append(query[pos:])
        return "".join(out)

    def _resolve_read_functions(self, query: str) -> str:
        """``FROM read_parquet('path')`` / read_csv[_auto] / read_json —
        query files directly without registration (the reference's whole
        subject is an engine over file-resident data). Each call site is
        registered as a temp view over the corresponding spark.read (the
        parquet path gets the ns-timestamp shim, CSV gets header +
        schema inference like DuckDB's sniffer) and the call text is
        replaced by the view name. File access from SQL is external
        access: safe mode (enable_external_access=false) blocks it."""
        # DuckDB's bare path-as-table idiom — FROM 'x.parquet' / JOIN
        # 'dir/*.csv' — delegates to the read_* machinery (safe-mode
        # gate, ns-ts shim, CSV sniffing all included). Only positions
        # directly after FROM/JOIN are table positions; a FROM-looking
        # sequence INSIDE a string literal stays data (span guard).
        query = sqltext.sub(
            _PATH_TABLE_RE,
            lambda m: (f"{m.group('kw')} read_"
                       f"{_PATH_READER[m.group('ext').lower()]}"
                       f"('{m.group('path')}')"),
            query)
        if not (_READ_FUNC_RE.search(query) or _GLOB_FUNC_RE.search(query)
                or _TABLE_CHANGES_RE.search(query)):
            return query

        def sub(m: re.Match) -> str:
            import hashlib

            if not self._extensions_allowed:
                raise PermissionError(
                    "read_* table functions are disabled in safe mode "
                    "(enable_external_access=false)")
            kind = (m.group("kind") or m.group("kind2")
                    or m.group("kind3")).lower()
            path = m.group("path")
            argstr = (m.group("args") or "").strip().lstrip(",")
            opts = _parse_read_func_args(argstr)
            name = f"__read_{hashlib.md5((kind + ':' + path + ':' + argstr).encode()).hexdigest()[:12]}"
            if kind in ("parquet_metadata", "parquet_schema"):
                # parquet introspection TVFs (DuckDB shapes): footer
                # reads distributed via mapInPandas, driver only lists
                if opts:
                    raise ValueError(
                        f"{kind}: unrecognized option(s) {sorted(opts)}")
                from .sources import parquet_meta

                fn = (parquet_meta.parquet_metadata_df
                      if kind == "parquet_metadata"
                      else parquet_meta.parquet_schema_df)
                df = fn(self.spark, path)
            elif kind in ("delta", "iceberg", "hudi"):
                # table-format scans (DuckDB's delta_scan/iceberg_scan
                # extension shapes + read_hudi): replay the foreign log
                version = opts.pop("version", None)
                if opts:
                    raise ValueError(
                        f"read_{kind}: unrecognized option(s) "
                        f"{sorted(opts)} — supported: version")
                if (isinstance(version, str) and version.isdigit()
                        and kind != "hudi"):
                    version = int(version)
                from . import deltalog

                if kind == "delta":
                    df = deltalog.read_delta_table(
                        self.spark, path, version)
                elif kind == "iceberg":
                    df = iceberglog.read_iceberg_table(
                        self.spark, path, version)
                else:
                    df = hudilog.read_hudi_table(self.spark, path, version)
            elif kind == "parquet":
                if opts:
                    raise ValueError(
                        f"read_parquet: unrecognized option(s) {sorted(opts)}")
                df = catalog.read_parquet(self.spark, path)
            elif kind in ("csv", "csv_auto"):
                df = self._read_csv_with_opts(path, opts)
            else:
                columns = opts.pop("columns", None)
                if opts:
                    raise ValueError(
                        f"read_json: unrecognized option(s) {sorted(opts)} — "
                        "supported: columns")
                reader = self.spark.read
                if columns is not None:
                    reader = reader.schema(_columns_to_spark_ddl(columns))
                df = reader.json(path)
            df.createOrReplaceTempView(name)
            return name

        def glob_sub(m: re.Match) -> str:
            import glob as globmod
            import hashlib

            if not self._extensions_allowed:
                raise PermissionError(
                    "glob() is disabled in safe mode "
                    "(enable_external_access=false)")
            pat = m.group("pat")
            name = f"__glob_{hashlib.md5(pat.encode()).hexdigest()[:12]}"
            catalog.local_frame(
                self.spark,
                [(f,) for f in sorted(globmod.glob(pat, recursive=True))],
                "file string",
            ).createOrReplaceTempView(name)
            return f"{m.group('kw')} {name}"

        def cdf_sub(m: re.Match) -> str:
            import hashlib

            name = m.group("name")
            a = int(m.group("a"))
            b = int(m.group("b")) if m.group("b") else None
            view = f"__cdf_{hashlib.md5(m.group(0).encode()).hexdigest()[:12]}"
            self.table_changes(name, a, b).createOrReplaceTempView(view)
            return view

        # matches that START inside a string literal or comment stay
        # verbatim (the call's own path literal starts after the match);
        # sqltext.sub re-measures the literal spans on each pass, since
        # the glob rewrite changes string lengths
        query = sqltext.sub(_GLOB_FUNC_RE, glob_sub, query)
        query = sqltext.sub(_TABLE_CHANGES_RE, cdf_sub, query)
        return sqltext.sub(_READ_FUNC_RE, sub, query)

    def _expand_macros(self, query: str) -> str:
        """Expand CREATE MACRO call sites textually (what DuckDB's binder
        does): each argument substitutes its parameter as a parenthesized
        expression; nested macros expand to a bounded fixpoint."""
        if not self._macros:
            return query
        for _ in range(10):
            out = self._expand_macros_once(query)
            if out == query:
                return query
            query = out
        raise ValueError(
            "macro expansion did not terminate — recursive macro?")

    def _expand_macros_once(self, s: str) -> str:
        for name, (params, body) in self._macros.items():
            pat = re.compile(rf"\b{re.escape(name)}\s*\(", re.IGNORECASE)
            out: list[str] = []
            i = 0
            for m in sqltext.finditer(pat, s):
                if m.start() < i:
                    continue  # nested in a call expanded below
                close = sqltext.match_paren(s, m.end() - 1)
                args = sqltext.split_top_commas(s[m.end():close])
                # `p := default` parameters are NAMED with defaults
                # [measured r12: md(a, b := 10) — md(1) takes the
                # default, md(1, b := 2) overrides, md(1, 2) errors
                # ('requires a single positional parameter')]
                pos_params: list[str] = []
                named_params: dict[str, str] = {}
                for p_ in params:
                    mnp = re.match(r"(?is)^([A-Za-z_]\w*)\s*:=\s*(.+)$",
                                   p_.strip())
                    if mnp:
                        named_params[mnp.group(1).lower()] = \
                            mnp.group(2).strip()
                    else:
                        pos_params.append(p_)
                pos_args: list[str] = []
                named_args: dict[str, str] = {}
                for a_ in args:
                    mna = re.match(r"(?is)^([A-Za-z_]\w*)\s*:=\s*(.+)$",
                                   a_)
                    if mna and named_params:
                        an = mna.group(1).lower()
                        if an in named_params:
                            named_args[an] = mna.group(2).strip()
                            continue
                        raise ValueError(
                            f"macro {name}: does not have default "
                            f"parameter {mna.group(1)!r} (same as "
                            f"DuckDB's binder)")
                    pos_args.append(a_)
                if len(pos_args) != len(pos_params):
                    raise ValueError(
                        f"macro {name}: expected {len(pos_params)} "
                        f"argument(s), got {len(pos_args)}")
                if not params:
                    out.append(s[i:m.start()])
                    out.append(f"({body})")
                    i = close + 1
                    continue
                # SIMULTANEOUS substitution (sequential passes would
                # re-substitute an argument whose text matches a later
                # parameter name), guarded against the body's own string
                # literals
                mapping = {p_.lower(): a_
                           for p_, a_ in zip(pos_params, pos_args)}
                for k_, dflt_ in named_params.items():
                    mapping[k_] = named_args.get(k_, dflt_)
                ppat = re.compile(
                    "|".join(rf"\b{re.escape(p_)}\b"
                             for p_ in mapping),
                    re.IGNORECASE)
                expansion = sqltext.sub(
                    ppat, lambda pm: f"({mapping[pm.group(0).lower()]})",
                    body)
                out.append(s[i:m.start()])
                out.append(f"({expansion})")
                i = close + 1
            out.append(s[i:])
            s = "".join(out)
        return s

    _TEMPORAL_LIT_RE = re.compile(
        r"^(?:DATE|TIMESTAMP)\s*'[^']+'$", re.IGNORECASE)
    _INTERVAL_LIT_RE = re.compile(
        r"^INTERVAL\s+(?:'[^']+'|-?\d+)(?:\s+\w+)?$", re.IGNORECASE)

    def _resolve_series_functions(self, query: str) -> str:
        """DuckDB's ``FROM generate_series(a, b[, s])`` (inclusive stop,
        column named ``generate_series``) and ``FROM range(a, b[, s])``
        (exclusive stop, column ``range``) → Spark equivalents with the
        DuckDB column name restored. Integer forms map onto Spark's native
        ``range`` TVF; DATE/TIMESTAMP + INTERVAL forms (the gap-fill spine
        shape) map onto ``explode(sequence(start, stop, step))`` — Spark's
        sequence is stop-inclusive like generate_series, and the ``range``
        form re-applies its exclusive stop as a filter. The literal texts
        (DATE '…', INTERVAL '1 day' / INTERVAL 1 DAY) are valid in both
        dialects and pass through verbatim. Other argument shapes (column
        refs, expressions) stay untouched and fail loudly downstream.
        ``AS t(i)`` column aliases are consumed here so the rewrite needs
        no derived-table column-alias support."""
        pat = re.compile(
            r"\b(?P<kw>FROM|JOIN)\s+(?P<fn>generate_series|range)\s*"
            r"\(\s*(?P<args>[^()]*)\)"
            # both `AS t(i)` and DuckDB's bare `t(i)` alias forms are
            # consumed; the lookahead keeps a following clause keyword
            # (ORDER/WHERE/JOIN/…) from being eaten as a bare alias
            r"(?:\s+(?:AS\s+)?(?!(?:ORDER|WHERE|GROUP|HAVING|QUALIFY|"
            r"LIMIT|OFFSET|UNION|INTERSECT|EXCEPT|JOIN|INNER|LEFT|RIGHT|"
            r"FULL|CROSS|NATURAL|ON|USING|SELECT|WINDOW)\b)"
            r"(?P<alias>[A-Za-z_]\w*)"
            r"(?:\s*\(\s*(?P<colal>[A-Za-z_]\w*)\s*\))?)?",
            re.IGNORECASE,
        )
        def temporal_sub(m: re.Match) -> str | None:
            args = sqltext.split_top_commas(m.group("args"))
            if len(args) != 3:
                return None
            a, b, s = (x.strip() for x in args)
            if not (self._TEMPORAL_LIT_RE.match(a)
                    and self._TEMPORAL_LIT_RE.match(b)
                    and self._INTERVAL_LIT_RE.match(s)):
                return None
            fn = m.group("fn").lower()
            col = m.group("colal") or fn
            alias = m.group("alias") or fn
            # DuckDB's temporal series yield TIMESTAMP even for DATE
            # bounds; Spark's sequence(DATE, …) would yield DATE — cast
            # for identical cross-engine output types
            if a.upper().startswith("DATE"):
                a = f"CAST({a} AS TIMESTAMP)"
            if b.upper().startswith("DATE"):
                b = f"CAST({b} AS TIMESTAMP)"
            inner = f"SELECT explode(sequence({a}, {b}, {s})) AS {col}"
            if fn == "range":  # exclusive stop; sequence() is inclusive
                # Direction comes from the NET step sign — a compound
                # interval like '1 day -1 hour' contains a '-' but steps
                # forward, so sniffing the literal for '-\d' misclassifies
                # it and would flip the filter. Let the engine evaluate
                # the sign instead (constant-folded by Catalyst).
                inner = (f"SELECT {col} FROM ({inner}) "
                         f"WHERE CASE WHEN {a} + {s} >= {a} "
                         f"THEN {col} < {b} ELSE {col} > {b} END")
            return f"{m.group('kw')} ({inner}) {alias}"

        def sub(m: re.Match) -> str:
            try:
                args = [int(a.strip()) for a in m.group("args").split(",")]
            except ValueError:
                return temporal_sub(m) or m.group(0)
            fn = m.group("fn").lower()
            if len(args) == 1:
                a, b, s = 0, args[0], 1
            elif len(args) == 2:
                (a, b), s = args, 1
            elif len(args) == 3:
                a, b, s = args
            else:
                return m.group(0)
            if s == 0:
                raise ValueError(f"{fn}: step must be non-zero")
            if fn == "generate_series":  # inclusive stop → widen by one step-sign
                b = b + (1 if s > 0 else -1)
            col = m.group("colal") or fn
            alias = m.group("alias") or fn
            return (f"{m.group('kw')} (SELECT id AS {col} "
                    f"FROM range({a}, {b}, {s})) {alias}")

        return sqltext.sub(pat, sub, query)

    def _read_csv_with_opts(self, path: str, opts: dict) -> DataFrame:
        """read_csv with DuckDB-style named options mapped onto the Spark
        CSV reader: delim/sep, header, quote, escape, nullstr,
        all_varchar, columns={'name': 'TYPE', ...} (disables inference).
        Unrecognized keys RAISE rather than silently dropping a semantic
        the caller asked for (same contract as COPY options)."""
        header = opts.pop("header", True)
        sep = opts.pop("delim", opts.pop("sep", None))
        quote = opts.pop("quote", None)
        escape = opts.pop("escape", None)
        nullstr = opts.pop("nullstr", None)
        all_varchar = opts.pop("all_varchar", False)
        columns = opts.pop("columns", None)
        names = opts.pop("names", None)
        if opts:
            raise ValueError(
                f"read_csv: unrecognized option(s) {sorted(opts)} — "
                "supported: delim/sep, header, quote, escape, nullstr, "
                "all_varchar, columns, names")
        reader = self.spark.read.option("header", str(bool(header)).lower())
        if sep is None:
            # DuckDB's read_csv sniffs the delimiter; Spark's reader
            # assumes ','. Sniff from a prefix of the first file (a
            # driver-side metadata-sized read): the winning candidate
            # splits every sampled line into the same >1 field count.
            sep = _sniff_csv_delim(path)
        if sep is not None:
            reader = reader.option("sep", sep)
        if quote is not None:
            reader = reader.option("quote", quote)
        if escape is not None:
            reader = reader.option("escape", escape)
        if nullstr is not None:
            reader = reader.option("nullValue", nullstr)
        if columns is not None:
            reader = reader.schema(_columns_to_spark_ddl(columns))
        elif not all_varchar:
            reader = reader.option("inferSchema", "true")
        df = reader.csv(path)
        if not header and columns is None:
            # DuckDB names headerless columns column0..columnN; Spark
            # says _c0.._cN — a silent schema mismatch on every
            # SELECT column0 (r11)
            df = df.toDF(*[f"column{i}" for i in range(len(df.columns))])
        if names is not None:
            # names=[…] renames the LEADING columns, keeping any
            # others [measured r12: a 3-column file with 2 names keeps
            # the third header name]
            if len(names) > len(df.columns):
                raise ValueError(
                    f"read_csv: names= lists {len(names)} columns, "
                    f"file has {len(df.columns)}")
            df = df.toDF(*(list(names)
                           + list(df.columns[len(names):])))
        return df

    def _create_stream(self, name: str, body: str, dialect: str) -> DataFrame:
        """``CREATE STREAM <name> AS SELECT ...`` — the SQL statement form
        of the streaming surface (VERDICT r4 item 5): the first
        registered-with-path table in the SELECT's FROM/JOIN clauses is
        re-bound to a file stream over its parquet path (ns-ts shim
        applied, same as batch); any other tables stay batch views
        (stream-batch join). The streaming plan is built by spark.sql over
        a streaming temp view, drained with availableNow into a memory
        sink registered as ``<name>`` — so a SQL-only user writes
        CREATE STREAM then SELECTs the result, no Python API.

        Scale shape: identical to the Python path (q107/q109) — the
        memory sink is the bounded-replay test harness; a production
        deployment swaps the sink for kafka/parquet via writeStream, the
        plan is unchanged.
        """
        import uuid

        from .streaming.source import events_stream
        from .streaming.windows import run_to_memory

        if dialect == "duckdb":
            ck = (self._column_kinds(body)
                  if re.search(r"\blen\s*\(", body, re.IGNORECASE) else None)
            body = to_spark_sql(body, column_kinds=ck)
        candidates = [
            (m.start(), m.group("tbl"), m)
            for m in re.finditer(
                r"\b(?P<kw>FROM|JOIN)\s+(?P<tbl>[A-Za-z_]\w*)\b", body,
                re.IGNORECASE)
            if m.group("tbl") in self._table_paths
        ]
        if not candidates:
            raise ValueError(
                "CREATE STREAM: no streamable source — the SELECT must "
                "reference a table registered from a parquet path "
                f"(known: {sorted(self._table_paths)})")
        _, src, _m = min(candidates)  # leftmost FROM = the stream source
        stream_view = f"__stream_{uuid.uuid4().hex[:8]}"
        events_stream(self.spark, self._table_paths[src]) \
            .createOrReplaceTempView(stream_view)

        kw_after = {  # words after a table ref that are NOT an alias
            "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "JOIN", "ON",
            "LEFT", "RIGHT", "FULL", "INNER", "CROSS", "UNION", "EXCEPT",
            "INTERSECT", "USING", "QUALIFY", "WINDOW", "VERSION",
            "TIMESTAMP", "ASOF", "ANTI", "SEMI", "LATERAL", "NATURAL"}

        def rebind(m: re.Match) -> str:
            if m.group("tbl") != src:
                return m.group(0)
            alias = m.group("alias")
            if alias and alias.upper() not in kw_after:
                return f"{m.group('kw')} {stream_view} AS {alias}"
            # no alias: keep the original name addressable; re-emit any
            # trailing keyword the optional alias group swallowed
            tail = f" {alias}" if alias else ""
            return f"{m.group('kw')} {stream_view} AS {src}{tail}"

        rewritten = re.sub(
            r"\b(?P<kw>FROM|JOIN)\s+(?P<tbl>[A-Za-z_]\w*)"
            r"(?:\s+(?:AS\s+)?(?P<alias>[A-Za-z_]\w*))?", rebind, body,
            flags=re.IGNORECASE)
        out = self.spark.sql(rewritten)
        if not out.isStreaming:
            raise ValueError("CREATE STREAM: plan did not stream "
                             "(source rebind failed)")
        run_to_memory(out, name)  # availableNow; registers table <name>
        self._bump_registration_epoch(name)
        return self.spark.sql("SELECT 1 AS ok WHERE false")

    # Bound on discovered pivot values: each value becomes an output COLUMN,
    # and a wide-row explosion is a driver/schema problem, not a data
    # problem — same reason Spark caps spark.sql.pivotMaxValues at 10000.
    PIVOT_MAX_VALUES = 1000

    def _dynamize_pivot(self, query: str) -> str:
        """DuckDB's IN-less statement-form ``PIVOT t ON c USING agg``
        discovers the pivot values dynamically. Static Spark SQL cannot —
        so discover them here with one bounded DISTINCT scan (sorted, so
        column order matches DuckDB's sorted dynamic pivot), inject the IN
        list, and let the dialect rewriter compile the now-static form."""
        toks = sqltext.tokenize(query)
        sig = sqltext.significant(toks)
        depths = sqltext.bracket_depths(toks)

        def up(k: int) -> str:
            t = toks[sig[k]]
            return t.text.upper() if t.kind == "ident" else t.text

        try:
            on_k = next(k for k in range(len(sig))
                        if up(k) == "ON" and depths[sig[k]] == 0)
            using_k = next(k for k in range(on_k, len(sig))
                           if up(k) == "USING" and depths[sig[k]] == 0)
        except StopIteration:
            return query  # not the statement form; let the rewriter decide
        if any(up(k) == "IN" for k in range(on_k + 1, using_k)):
            return query  # static form — nothing to discover

        table = sqltext.detokenize(toks[sig[1]:sig[on_k]]).strip()
        on_col = sqltext.detokenize(toks[sig[on_k + 1]:sig[using_k]]).strip()
        vals_df = self.sql(
            f"SELECT DISTINCT {on_col} AS v FROM {table} "
            f"WHERE {on_col} IS NOT NULL ORDER BY v "
            f"LIMIT {self.PIVOT_MAX_VALUES + 1}"
        )
        rows = [r["v"] for r in vals_df.collect()]
        if len(rows) > self.PIVOT_MAX_VALUES:
            raise ValueError(
                f"dynamic PIVOT on {on_col!r}: more than "
                f"{self.PIVOT_MAX_VALUES} distinct values — pivot on a "
                "lower-cardinality column or pass an explicit IN list")
        lits = ", ".join(_pivot_value_literal(v) for v in rows)
        before = sqltext.detokenize(toks[:sig[using_k]])
        after = sqltext.detokenize(toks[sig[using_k]:])
        return f"{before}IN ({lits}) {after}"

    # -- SET statement (pragma surface) ------------------------------------

    # DuckDB option name → handler. The allowlist mirrors safe mode: SQL
    # text must not be able to set arbitrary engine state
    # (/root/reference/duckdb:122-125).
    def _set_option(self, key: str, val: str) -> None:
        raw = val.strip().strip("'\"")
        low = raw.lower()
        truthy = low in ("true", "1", "on")
        k = key.lower()
        if k == "enable_external_access":
            # the reference's safe-mode toggle: disabling locks out
            # extension loading for the session (one-way per DuckDB
            # semantics — re-enabling from SQL would defeat the sandbox)
            if truthy and not self._extensions_allowed:
                raise PermissionError(
                    "enable_external_access cannot be re-enabled from SQL "
                    "once disabled (safe mode is one-way)")
            self._extensions_allowed = truthy
        elif k == "threads":
            self.spark.conf.set("spark.sql.shuffle.partitions", raw)
        elif k == "timezone":
            self.spark.conf.set("spark.sql.session.timeZone", raw)
        elif k.startswith("spark."):
            self.spark.conf.set(key, raw)
        elif k in _ADVISORY_OPTIONS:
            # DuckDB resource/behavior hints with no Spark-session
            # analog (memory_limit, progress bars, insertion order…)
            # — ACCEPTED and tracked so current_setting reads back,
            # but advisory: Spark's own memory/ordering model governs
            # (r12; a loud refusal broke every ported tuning script)
            self._advisory_options[k] = raw
        else:
            raise ValueError(
                f"SET: unknown option {key!r} — supported: "
                "enable_external_access, threads, timezone, spark.*, "
                "and the advisory hints "
                f"{sorted(_ADVISORY_OPTIONS)}")

    # -- session variables (SET VARIABLE surface) --------------------------

    def _set_variable(self, name: str, expr: str, dialect: str) -> DataFrame:
        """``SET VARIABLE name = expr``: evaluate ``expr`` NOW (DuckDB
        evaluates eagerly, not per-use) through the normal sql() path so
        dialect rewrites and previously set variables apply, then store
        the scalar."""
        row = self.sql(f"SELECT ({expr}) AS v", dialect=dialect).first()
        self._variables[name.lower()] = None if row is None else row[0]
        return self._empty()

    def _reset_variable(self, name: str) -> DataFrame:
        self._variables.pop(name.lower(), None)
        return self._empty()

    def _substitute_current_setting(self, query: str) -> str:
        """``current_setting('key')`` → the session value as a literal
        (token-level). Mirrors the SET pragma surface (D3): timezone and
        threads read back what SET wrote; unknown keys refuse like
        DuckB's unrecognized-setting error."""
        toks = sqltext.tokenize(query)
        out: list[str] = []
        i = 0
        while i < len(toks):
            t = toks[i]
            if t.kind == "ident" and t.text.lower() == "current_setting":
                j = i + 1
                while j < len(toks) and toks[j].kind in ("ws", "comment"):
                    j += 1
                ok = j < len(toks) and toks[j].text == "("
                if ok:
                    k1 = j + 1
                    while k1 < len(toks) and toks[k1].kind in ("ws",
                                                               "comment"):
                        k1 += 1
                    k2 = k1 + 1
                    while k2 < len(toks) and toks[k2].kind in ("ws",
                                                               "comment"):
                        k2 += 1
                    ok = (k1 < len(toks) and toks[k1].kind == "str"
                          and k2 < len(toks) and toks[k2].text == ")")
                if ok:
                    key = toks[k1].text[1:-1].replace("''", "'").lower()
                    if key == "timezone":
                        val = self.spark.conf.get(
                            "spark.sql.session.timeZone")
                        out.append("'" + val.replace("'", "''") + "'")
                    elif key == "threads":
                        out.append(self.spark.conf.get(
                            "spark.sql.shuffle.partitions"))
                    elif key == "enable_external_access":
                        out.append("true" if self._extensions_allowed
                                   else "false")
                    elif key in self._advisory_options:
                        v_ = self._advisory_options[key]
                        out.append("'" + v_.replace("'", "''") + "'")
                    else:
                        raise ValueError(
                            f"current_setting: unknown option {key!r} — "
                            "supported: timezone, threads, "
                            "enable_external_access, and set advisory "
                            "hints")
                    i = k2 + 1
                    continue
            out.append(t.text)
            i += 1
        return "".join(out)

    def _substitute_getvariable(self, query: str) -> str:
        """Replace ``getvariable('name')`` call sites with the stored
        value as a typed literal (token-level, so occurrences inside
        string literals are untouched). An unset variable reads as NULL,
        matching DuckDB's getvariable behavior."""
        toks = sqltext.tokenize(query)
        out: list[str] = []
        i = 0
        while i < len(toks):
            t = toks[i]
            if t.kind == "ident" and t.text.lower() == "getvariable":
                j = i + 1
                while j < len(toks) and toks[j].kind in ("ws", "comment"):
                    j += 1
                if j < len(toks) and toks[j].text == "(":
                    k1 = j + 1
                    while k1 < len(toks) and toks[k1].kind in ("ws",
                                                               "comment"):
                        k1 += 1
                    k2 = k1 + 1
                    while k2 < len(toks) and toks[k2].kind in ("ws",
                                                               "comment"):
                        k2 += 1
                    if (k1 < len(toks) and toks[k1].kind == "str"
                            and k2 < len(toks) and toks[k2].text == ")"):
                        name = toks[k1].text[1:-1].replace("''",
                                                           "'").lower()
                        out.append(_variable_literal(
                            self._variables.get(name)))
                        i = k2 + 1
                        continue
            out.append(t.text)
            i += 1
        return "".join(out)

    # -- ENUM types (CREATE TYPE surface) ----------------------------------

    def _types_path(self) -> str | None:
        import os

        if self._warehouse is None:
            return None
        return os.path.join(self._warehouse, "_types.json")

    def _load_enum_types(self) -> dict[str, list[str]]:
        import json
        import os

        if self._enum_types is None:
            self._enum_types = {}
            p = self._types_path()
            if p and os.path.exists(p):
                try:
                    with open(p) as f:
                        self._enum_types = json.load(f)
                except (OSError, ValueError):
                    pass
        return self._enum_types

    def _save_enum_types(self) -> None:
        import json
        import os

        p = self._types_path()
        if p is None:
            return  # no warehouse yet: session-only, like sequences
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._enum_types, f)
        os.replace(tmp, p)

    def _create_enum_type(self, name: str, vals: str) -> DataFrame:
        """``CREATE TYPE name AS ENUM (…)``: record the allowed-value list.
        Enum-typed columns in later CREATE TABLEs expand to VARCHAR + an
        auto CHECK, persisted with the table's other constraints."""
        key = name.lower()
        if key in self._load_enum_types():
            raise ValueError(f"CREATE TYPE: type {name!r} already exists")
        out: list[str] = []
        for part in sqltext.split_top_commas(vals):
            p = part.strip()
            if not (len(p) >= 2 and p.startswith("'") and p.endswith("'")):
                raise ValueError(
                    f"CREATE TYPE {name}: enum values must be string "
                    f"literals, got {p!r}")
            out.append(p[1:-1].replace("''", "'"))
        if not out:
            raise ValueError(f"CREATE TYPE {name}: empty enum")
        if len(set(out)) != len(out):
            raise ValueError(f"CREATE TYPE {name}: duplicate enum value")
        self._enum_types[key] = out
        self._save_enum_types()
        return self._empty()

    def _expand_enum_columns(self, inner: str) -> str:
        """Rewrite ``col enumtype [extras]`` column definitions to
        ``col VARCHAR [extras] CHECK (col IN (…))`` ahead of constraint
        parsing. DuckDB semantics preserved: NULLs pass (CHECK with a NULL
        operand passes, same as DuckDB enum columns accepting NULL);
        out-of-domain INSERTs error in both engines. Known divergence,
        documented in SURVEY: ORDER BY on an enum column sorts by the
        stored string, not by enum definition position."""
        enums = self._load_enum_types()
        if not enums:
            return inner
        parts_out = []
        for part in sqltext.split_top_commas(inner):
            toks = part.strip().split(None, 2)
            if len(toks) >= 2 and toks[1].lower() in enums:
                col = toks[0]
                vals = enums[toks[1].lower()]
                lits = ", ".join("'" + v.replace("'", "''") + "'"
                                 for v in vals)
                tail = (" " + toks[2]) if len(toks) == 3 else ""
                part = f"{col} VARCHAR{tail} CHECK ({col} IN ({lits}))"
            parts_out.append(part)
        return ", ".join(parts_out)

    # -- DDL/DML over versioned tables -------------------------------------

    def _empty(self) -> DataFrame:
        if self._empty_df is None:
            self._empty_df = self.spark.sql("SELECT 1 AS ok WHERE false")
        return self._empty_df

    def _warehouse_dir(self) -> str:
        if self._warehouse is None:
            import tempfile

            self._warehouse = tempfile.mkdtemp(prefix="ddbrs_warehouse_")
        import os

        os.makedirs(self._warehouse, exist_ok=True)
        return self._warehouse

    def _refresh_table(self, name: str) -> None:
        """Re-point the temp view at the table's latest snapshot (and any
        bare-name USE alias over it — temp views freeze plans)."""
        self.register_versioned(name, self._versioned[name])
        for alias, view in getattr(self, "_use_alias_map", {}).items():
            if view == name:
                self.spark.table(view).createOrReplaceTempView(alias)

    def _read_aligned(self, name: str, entries: list[dict],
                      phys_schema: str | None,
                      row_ids: bool = False) -> DataFrame:
        """Manifest ``entries`` of versioned table ``name`` (deletion
        vectors applied), aligned to the current table schema: carried
        files may pre-date appended columns. ``phys_schema`` is the
        snapshot's recorded physical schema (None → inferred from the
        files' footers); ``row_ids`` keeps each row's (file, row index)
        as two trailing columns."""
        schema = self.table(name).schema
        table_dir = self._versioned[name]
        df = snapshots.read_files(self.spark, table_dir, entries,
                                  phys_schema, row_ids=row_ids)
        # Apply the ALTER ledger BEFORE aligning to the table schema:
        # a file written before a RENAME carries the old column name,
        # and without the rename coalesce the select below would surface
        # the renamed column as NULL — silently wrong UNIQUE probes and
        # DML predicates that miss their rows.
        df = snapshots.apply_schema_patches(df, table_dir)
        data = [(f.name, f.dataType) for f in df.schema.fields
                if f.name not in deltalog.ROW_ID_COLS]
        if data == [(f.name, f.dataType) for f in schema.fields]:
            return df                       # already the table's columns
        have = {n for n, _ in data}
        # one selectExpr: a Column per field costs py4j round trips each
        return df.selectExpr(
            *[f"CAST({_bq(f.name) if f.name in have else 'NULL'} AS "
              f"{f.dataType.simpleString()}) AS {_bq(f.name)}"
              for f in schema.fields],
            *(deltalog.ROW_ID_COLS if row_ids else ()))

    def _dml_entries(self, name: str) -> "snapshots.Manifest":
        """The current manifest of DML target ``name``."""
        try:
            return snapshots.snapshot_file_entries(self._versioned[name])
        except FileNotFoundError:
            raise ValueError(
                f"DML on {name!r}: the table has no engine log (a foreign "
                f"Delta/Iceberg/Hudi dir) — CLONE it into an engine table "
                f"first") from None

    @contextlib.contextmanager
    def _dml_probe(self, name: str, entries: "snapshots.Manifest",
                   candidates: list[dict]):
        """Register ``candidates`` (manifest entries of ``name``) with
        their row ids as the private view ``_DML_PROBE``, for the
        statement to alias as the target. The target's own name stays
        bound to the whole pre-statement table, so a subquery over it
        sees every row."""
        from pyspark.sql import functions as F

        if candidates:
            probe = self._read_aligned(name, candidates, entries.schema,
                                       row_ids=True)
        else:
            file_col, pos_col = deltalog.ROW_ID_COLS
            probe = self.table(name).limit(0).select(
                "*", F.lit(None).cast("string").alias(file_col),
                F.lit(None).cast("bigint").alias(pos_col))
        probe.createOrReplaceTempView(_DML_PROBE)
        try:
            yield
        finally:
            self.spark.catalog.dropTempView(_DML_PROBE)

    def _hit_positions(self, name: str, entries: list[dict],
                       rows: DataFrame) -> dict[str, list[int]]:
        """{manifest path: [row index]} of the row ids in ``rows`` (two
        columns, file then row index), collected in one job through
        Arrow."""
        table_dir = self._versioned[name]
        rel_of = {os.path.abspath(os.path.join(table_dir, e["path"])):
                  e["path"] for e in entries}
        out: dict[str, list[int]] = {}
        tbl = rows.toArrow()
        for f, pos in zip(tbl.column(0).to_pylist(),
                          tbl.column(1).to_pylist()):
            if f not in rel_of:  # a row the vectors could not mark
                raise RuntimeError(
                    f"DML on {name!r}: scanned file {f!r} is not in the "
                    f"snapshot manifest")
            out.setdefault(rel_of[f], []).append(pos)
        return out

    def _commit_dml(self, name: str, entries: list[dict],
                    positions: dict[str, list[int]],
                    arriving: DataFrame | None = None,
                    cdc: DataFrame | None = None) -> None:
        """One row-level DML commit: deletion vectors mark ``positions``
        (the rows that leave) and ``arriving`` (the rows that come in, if
        any) becomes one new file; no hit file is rewritten."""
        table_dir = self._versioned[name]
        if arriving is not None:
            arriving = arriving.coalesce(1)
        try:
            carried = snapshots.mark_deleted(table_dir, entries, positions)
            if not carried and arriving is None:
                # every row left: the empty overwrite an unconditional
                # DELETE commits (keeps the schema, derived change feed)
                snapshots.write_table(self.table(name).limit(0), table_dir,
                                      mode="overwrite")
            else:
                snapshots.write_table(arriving, table_dir, mode="overwrite",
                                      carry_files=carried, cdc_df=cdc)
        finally:
            self._refresh_table(name)

    _REC_UNION_N = [0]

    def _try_union_recursive(self, query: str):
        """``WITH RECURSIVE r AS (anchor UNION step) tail`` — the
        DEDUPLICATING recursion Spark refuses
        (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE). Semi-naive iteration:
        the working table is each round's NEW rows, new = step-result
        minus everything seen (standard UNION-recursion semantics);
        stops when a round adds nothing. Single-CTE statements only
        (UNION ALL recursion keeps Spark's native path). Returns None
        when the shape doesn't apply."""
        m = re.match(r"(?is)^\s*WITH\s+RECURSIVE\s+([A-Za-z_]\w*)\s*"
                     r"(?:\(([^)]*)\))?\s+AS\s*\(", query)
        if m is None:
            return None
        name, cols_txt = m.group(1), m.group(2)
        open_pos = m.end() - 1
        try:
            close = sqltext.match_paren(query, open_pos)
        except ValueError:
            return None
        body = query[open_pos + 1:close]
        tail = query[close + 1:]
        if re.match(r"(?is)^\s*,", tail):
            return None  # further CTEs — out of scope, native path
        # top-level UNION (not ALL / BY NAME) inside the body
        toks = sqltext.tokenize(body)
        sig = sqltext.significant(toks)
        depths = sqltext.bracket_depths(toks)
        u = None
        for p, ti in enumerate(sig):
            t = toks[ti]
            if (t.kind == "ident" and t.text.upper() == "UNION"
                    and depths[ti] == 0):
                nxt = toks[sig[p + 1]] if p + 1 < len(sig) else None
                if nxt is not None and nxt.kind == "ident" \
                        and nxt.text.upper() in ("ALL", "BY"):
                    continue
                u = (ti, p)
                break
        if u is None:
            return None
        anchor = sqltext.detokenize(toks[:u[0]])
        step = sqltext.detokenize(toks[u[0] + 1:]).lstrip()
        if step.upper().startswith("DISTINCT"):
            step = step[8:]
        from .plans.recursive import _ref_positions

        self._REC_UNION_N[0] += 1
        view = f"__rec_union_{self._REC_UNION_N[0]}__"

        def rename_refs(text: str) -> str:
            out_t = []
            last = 0
            for a, b in _ref_positions(name, text):
                out_t.append(text[last:a])
                out_t.append(view)
                last = b
            out_t.append(text[last:])
            return "".join(out_t)

        cols = ([c.strip() for c in cols_txt.split(",")]
                if cols_txt else None)
        total = self.spark.sql(anchor)
        if cols:
            total = total.toDF(*cols)
        total = total.distinct().localCheckpoint()
        frontier = total
        step_v = rename_refs(step)
        for _ in range(100_000):
            frontier.createOrReplaceTempView(view)
            nxt = self.spark.sql(step_v)
            if cols:
                nxt = nxt.toDF(*cols)
            else:
                nxt = nxt.toDF(*total.columns)
            nxt = nxt.distinct().subtract(total).localCheckpoint()
            if nxt.limit(1).count() == 0:
                break
            total = total.union(nxt).localCheckpoint()
            frontier = nxt
        else:
            raise RuntimeError(
                "WITH RECURSIVE (UNION) did not converge in 100000 "
                "iterations")
        total.createOrReplaceTempView(view)
        tail_v = rename_refs(tail)
        if not tail_v.strip().rstrip(";").strip():
            tail_v = f"SELECT * FROM {view}"
        return self.spark.sql(tail_v)

    def _split_returning(self, query: str) -> tuple[str, str] | None:
        """Top-level trailing ``RETURNING <list>`` on an INSERT/UPDATE/
        DELETE → (statement-without-clause, list text); None otherwise.
        Depth-0 token match, so subquery/str occurrences stay put."""
        if not re.match(r"(?is)^\s*(INSERT|UPDATE|DELETE)\b", query) \
                or not re.search(r"(?i)\bRETURNING\b", query):
            return None

        toks = sqltext.tokenize(query)
        sig = sqltext.significant(toks)
        depths = sqltext.bracket_depths(toks)
        for p in range(len(sig) - 1, -1, -1):
            t = toks[sig[p]]
            if (t.kind == "ident" and t.text.upper() == "RETURNING"
                    and depths[sig[p]] == 0):
                stmt = sqltext.detokenize(toks[:sig[p]]).rstrip()
                rlist = (sqltext.detokenize(toks[sig[p] + 1:])
                         .strip().rstrip(";").strip())
                if rlist:
                    return stmt, rlist
        return None

    def _dml_returning(self, stmt: str, rlist: str,
                       dialect: str) -> DataFrame:
        """DuckDB DML ``RETURNING`` [measured r9: INSERT returns the
        inserted rows (defaults applied), UPDATE the POST-image of the
        touched rows, DELETE the deleted rows; expressions and * are a
        full select list over the table's columns].

        DELETE/UPDATE pre-compute their result from the PRE-state (the
        UPDATE post-image applies the SET expressions in a derived
        select) and pin it with localCheckpoint before the commit;
        INSERT reads the new commit's change feed (append commits
        derive it from the file-set diff — exact). Join-DML
        (UPDATE…FROM / DELETE…USING), ON CONFLICT, OR REPLACE and
        BY NAME shapes refuse loudly."""
        from pyspark.sql import functions as F

        up = stmt.lstrip().upper()
        if up.startswith("DELETE"):
            if _split_join_dml(stmt, "USING") is not None:
                raise NotImplementedError(
                    "RETURNING with DELETE…USING is not supported")
            m = _DELETE_RE.match(stmt)
            if not m:
                raise NotImplementedError(
                    "RETURNING: unsupported DELETE shape")
            q = f"SELECT {rlist} FROM {m.group('name')}"
            if m.group("pred"):
                q += f" WHERE {m.group('pred')}"
            out = self.sql(q, dialect=dialect).localCheckpoint()
            self.sql(stmt, dialect=dialect)
            return out
        if up.startswith("UPDATE"):
            if _split_join_dml(stmt, "FROM") is not None:
                raise NotImplementedError(
                    "RETURNING with UPDATE…FROM is not supported")
            m = _UPDATE_RE.match(stmt)
            if not m:
                raise NotImplementedError(
                    "RETURNING: unsupported UPDATE shape")
            name, rest = m.group("name"), m.group("rest")
            wpos = sqltext.find_top_level(rest, "WHERE")
            sets_txt = rest if wpos < 0 else rest[:wpos]
            pred = None if wpos < 0 else rest[wpos + 5:]
            sets: dict[str, str] = {}
            for part in sqltext.split_top_commas(sets_txt):
                col, eq, expr = part.partition("=")
                if not eq:
                    raise NotImplementedError(
                        f"RETURNING: cannot parse SET item {part!r}")
                sets[col.strip().lower()] = expr.strip()
            cols = self.table(name).columns
            inner = ", ".join(
                f"({sets[c.lower()]}) AS {c}" if c.lower() in sets else c
                for c in cols)
            q = f"SELECT {rlist} FROM (SELECT {inner} FROM {name}"
            if pred:
                q += f" WHERE {pred}"
            q += ") __returning__"
            out = self.sql(q, dialect=dialect).localCheckpoint()
            self.sql(stmt, dialect=dialect)
            return out
        m = _INSERT_RE.match(stmt)
        if (not m or m.group("orrep") or m.group("byname")
                or _ON_CONFLICT_RE.match(m.group("body"))):
            raise NotImplementedError(
                "RETURNING supports plain INSERT INTO only (no ON "
                "CONFLICT / OR REPLACE / BY NAME)")
        name = m.group("name")
        if name not in self._versioned:
            raise ValueError(f"INSERT INTO unknown table {name!r} — "
                             "only versioned tables accept DML")
        v0 = snapshots.history(self._versioned[name])[0]["version"]
        self.sql(stmt, dialect=dialect)
        feed = (self.table_changes(name, v0 + 1)
                .filter(F.col("_change_type") == "insert")
                .drop("_change_type", "_commit_version",
                      "_commit_timestamp"))
        feed.createOrReplaceTempView("__returning__")
        try:
            return self.sql(f"SELECT {rlist} FROM __returning__",
                            dialect=dialect).localCheckpoint()
        finally:
            self.spark.catalog.dropTempView("__returning__")

    def _ddl_dml(self, query: str, dialect: str) -> DataFrame | None:
        """Route CREATE TABLE [AS SELECT] / INSERT INTO / DROP TABLE /
        DELETE FROM / UPDATE onto snapshots.py versioned tables (the
        statement→pipeline worked example, /root/reference/duckdb:18-55).
        Every write is a new atomic commit, so DML history is time-
        travelable: ``SELECT ... FROM t VERSION AS OF n`` sees the table
        as of any earlier statement. Returns None when the text is not a
        recognized DDL/DML statement (falls through to spark.sql, e.g.
        CREATE VIEW)."""
        import os

        ret = self._split_returning(query)
        if ret is not None:
            return self._dml_returning(ret[0], ret[1], dialect)
        m = _CLONE_RE.match(query)
        if m:
            as_of_ms = None
            if m.group("ts"):
                from datetime import datetime, timezone

                dt = datetime.fromisoformat(m.group("ts"))
                if dt.tzinfo is None:  # same convention as AS OF reads
                    dt = dt.replace(tzinfo=timezone.utc)
                as_of_ms = int(dt.timestamp() * 1000)
            src = m.group("src")
            if src.startswith("'"):
                src = src[1:-1]
            return self.clone_table(
                m.group("name"), src,
                version=int(m.group("ver")) if m.group("ver") else None,
                as_of_ms=as_of_ms)
        mv = _CREATE_VIEW_RE.match(query)
        if mv:
            # CREATE [OR REPLACE] VIEW → a session TEMP view (the whole
            # catalog is temp views; Spark's persistent CREATE VIEW
            # rejects temp-view references outright). The body runs
            # through the dialect first, and the resolved plan FREEZES
            # at definition like any Spark view (documented divergence
            # from DuckDB's name-resolution-at-query-time).
            vname = mv.group("name")
            if not mv.group("orrep") and vname.lower() in {
                    n.lower() for n in self._registered_names()}:
                raise ValueError(
                    f"CREATE VIEW: {vname!r} already exists (same as "
                    f"DuckDB) — use CREATE OR REPLACE VIEW")
            df = self.sql(mv.group("body"), dialect=dialect)
            df.createOrReplaceTempView(vname)
            self._bump_registration_epoch(vname)
            return self._empty()
        m = _CREATE_TABLE_RE.match(query)
        if m and _looks_like_create_table(m.group("rest")):
            name, rest = m.group("name"), m.group("rest").strip()
            # TEMP tables live in their own namespace (DuckDB's temp
            # catalog): a CREATE TEMP TABLE colliding with a permanent
            # table SHADOWS it for the session — it must never clash
            # with, or worse overwrite, the warehouse table (ADVICE r11)
            if m.group("temp"):
                exists = name in self._temp_tables
            else:
                exists = name in self._temp_shadow or (
                    name in self._versioned
                    and name not in self._temp_tables)
            if exists and m.group("ifnx"):
                return self._empty()
            if exists and not m.group("replace"):
                raise ValueError(f"table {name!r} already exists "
                                 "(use CREATE OR REPLACE / IF NOT EXISTS)")
            cons: list[dict] = []
            if rest.startswith("("):
                close = sqltext.match_paren(rest, 0)
                inner, cons = _parse_constraints(
                    self._expand_enum_columns(rest[1:close]))
                schema = _schema_to_spark_ddl(inner)
                tail = rest[close + 1:].strip()
                if tail.upper().startswith("AS"):
                    df = self.sql(tail[2:].strip(), dialect=dialect)
                else:
                    df = catalog.local_frame(self.spark, [], schema)
            else:  # CTAS
                df = self.sql(rest[2:].strip(), dialect=dialect)
            if m.group("temp"):
                # TEMP TABLE: a full versioned table (DML works) whose
                # directory lives OUTSIDE the warehouse, so a fresh
                # Engine over the same warehouse does not see it —
                # DuckDB's session scoping (r11; Spark only offers
                # CREATE TEMPORARY VIEW, which takes no DML). Replacing
                # an existing temp reuses its dir; a NAME COLLISION with
                # a permanent table records the shadowed dir so DROP
                # restores it (never touches the warehouse copy).
                if name in self._temp_tables:
                    table_dir = self._temp_tables[name]
                else:
                    import tempfile as _tempfile

                    table_dir = os.path.join(
                        _tempfile.mkdtemp(prefix="ddbrs_temp_"), name)
                    if name in self._versioned:
                        self._temp_shadow[name] = self._versioned[name]
                self._temp_tables[name] = table_dir
            elif name in self._temp_tables:
                # permanent CREATE while a temp of the same name exists:
                # write the warehouse copy but leave the temp shadowing
                # it for resolution (DuckDB's temp-first search path)
                table_dir = self._temp_shadow.get(
                    name, os.path.join(self._warehouse_dir(), name))
                self._temp_shadow[name] = table_dir
                snapshots.write_table(df, table_dir, mode="overwrite")
                snapshots.write_constraints(table_dir, cons)
                snapshots.clear_schema_patches(table_dir)
                return self._empty()
            else:
                table_dir = self._versioned.get(
                    name, os.path.join(self._warehouse_dir(), name))
            if self._txn_baseline is not None and not exists:
                self._txn_created.add(name)
            snapshots.write_table(df, table_dir, mode="overwrite")
            snapshots.write_constraints(table_dir, cons)
            # a replacement table starts with a clean ALTER ledger —
            # stale drop/rename patches must not apply to its columns
            snapshots.clear_schema_patches(table_dir)
            self.register_versioned(name, table_dir)
            return self._empty()
        m = _INSERT_RE.match(query)
        if m:
            name = m.group("name")
            if name not in self._versioned:
                raise ValueError(f"INSERT INTO unknown table {name!r} — "
                                 "only versioned tables accept DML")
            body = m.group("body")
            if body.upper().startswith("VALUES") and \
                    re.search(r"\bDEFAULT\b", body, re.IGNORECASE):
                # placeholder fill happens BEFORE the ON CONFLICT /
                # OR REPLACE routes split off (review r7-3: they
                # returned early with the bare DEFAULT token unfilled)
                body = self._fill_values_defaults(
                    name, m.group("cols"), body)
            if m.group("byname"):
                # INSERT INTO t BY NAME SELECT … — columns match by NAME
                # against the target schema; unnamed target columns take
                # their DEFAULT (or NULL) [measured in DuckDB 1.0.0: a
                # column list alongside BY NAME is a parse error, a
                # VALUES body binder-errors, an unknown source column
                # binder-errors]
                from pyspark.sql import functions as F

                if m.group("cols"):
                    raise ValueError(
                        "INSERT BY NAME cannot take a column list "
                        "(same as DuckDB)")
                if m.group("orrep"):
                    raise ValueError(
                        "INSERT OR REPLACE … BY NAME is not supported")
                if body.upper().startswith(("VALUES", "TABLE")):
                    raise ValueError(
                        "INSERT BY NAME can only be used when inserting "
                        "from a SELECT statement (same as DuckDB)")
                df = self.sql(body, dialect=dialect)
                target = self.table(name).schema
                tnames = {f.name.lower() for f in target.fields}
                extra = [c for c in df.columns if c.lower() not in tnames]
                if extra:
                    raise ValueError(
                        f"INSERT BY NAME: table {name!r} does not have "
                        f"column(s) {extra}")
                src = {c.lower(): c for c in df.columns}
                defaults = self._column_defaults(name)
                df = df.select(
                    *[F.col(src[f.name.lower()]).cast(f.dataType)
                      .alias(f.name) if f.name.lower() in src
                      else self._default_fill_expr(df, f, defaults)
                      for f in target.fields])
                if self._indexes:
                    self._check_unique_indexes(name, df)
                self._check_constraints(name, df)
                snapshots.write_table(df, self._versioned[name],
                                      mode="append")
                self._refresh_table(name)
                return self._empty()
            moc = _ON_CONFLICT_RE.match(body)
            if moc:
                if m.group("orrep"):
                    raise ValueError(
                        "INSERT OR REPLACE cannot be combined with ON "
                        "CONFLICT (same as DuckDB) — use one or the other")
                return self._insert_on_conflict(
                    name, m.group("cols"), moc.group("body"),
                    moc.group("keys"), moc.group("act"), dialect)
            if m.group("orrep"):
                # INSERT OR REPLACE = upsert on the primary key (DuckDB
                # sugar for ON CONFLICT (pk) DO UPDATE SET all columns);
                # INSERT OR IGNORE = ON CONFLICT (pk) DO NOTHING (r12)
                ignore = "IGNORE" in m.group("orrep").upper()
                verb = "IGNORE" if ignore else "REPLACE"
                keys = self._primary_key_cols(name)
                if not keys:
                    raise ValueError(
                        f"INSERT OR {verb} INTO {name}: table has no "
                        f"PRIMARY KEY or UNIQUE constraint to resolve "
                        f"conflicts on")
                if ignore:
                    act = "NOTHING"
                else:
                    sets = ", ".join(
                        f"{c} = excluded.{c}"
                        for c in self.table(name).columns
                        if c not in keys)
                    act = f"UPDATE SET {sets}" if sets else "NOTHING"
                return self._insert_on_conflict(
                    name, m.group("cols"), body, ", ".join(keys), act,
                    dialect)
            values = body.upper().startswith("VALUES")
            if values:
                body = f"SELECT * FROM {body}"
            df = self.sql(body, dialect=dialect)
            target = self.table(name).schema
            if m.group("cols"):
                given = [c.strip() for c in m.group("cols").split(",")]
                missing = [f.name for f in target.fields if f.name not in given]
                df = df.toDF(*given)
                if missing:
                    from pyspark.sql import functions as F

                    defaults = self._column_defaults(name)
                    casts = dict(zip(given, _duck_value_casts(
                        df, [f for f in target.fields if f.name in given])))
                    df = df.select(
                        *[F.expr(casts[f.name]) if f.name in given
                          else self._default_fill_expr(df, f, defaults)
                          for f in target.fields])
                else:
                    df = df.selectExpr(*_duck_value_casts(df, target.fields))
            else:
                if len(df.columns) != len(target.fields):
                    raise ValueError(
                        f"INSERT INTO {name}: {len(df.columns)} columns "
                        f"provided, table has {len(target.fields)}")
                df = df.toDF(*[f.name for f in target.fields])
                df = df.selectExpr(*_duck_value_casts(df, target.fields))
            if values:
                # a VALUES list is a handful of rows: one file, not one
                # per row (every later stats cut and mirror add pays per
                # file)
                df = df.coalesce(1)
            if self._indexes:
                self._check_unique_indexes(name, df)
            self._check_constraints(name, df)
            snapshots.write_table(df, self._versioned[name], mode="append")
            self._refresh_table(name)
            return self._empty()
        m = _DROP_RE.match(query)
        if m:
            if self._txn_baseline is not None:
                raise ValueError(
                    "DROP TABLE inside an open transaction is not "
                    "supported — dropping deletes warehouse files, which "
                    "ROLLBACK's compensation cannot restore")
            name = m.group("name")
            if name not in self._versioned:
                if m.group("ifex"):
                    return self._empty()
                raise ValueError(f"DROP TABLE unknown table {name!r}")
            if name in self._temp_tables:
                # temp resolves first (DuckDB search path); dropping it
                # un-shadows the permanent table if one was hidden
                tdir = self._temp_tables.pop(name)
                import shutil

                shutil.rmtree(os.path.dirname(tdir), ignore_errors=True)
                shadow = self._temp_shadow.pop(name, None)
                if shadow is not None:
                    self.register_versioned(name, shadow)
                else:
                    self._versioned.pop(name, None)
                    self.spark.catalog.dropTempView(name)
                return self._empty()
            table_dir = self._versioned.pop(name)
            self.spark.catalog.dropTempView(name)
            warehouse = self._warehouse
            if warehouse and os.path.commonpath(
                    [os.path.abspath(table_dir), os.path.abspath(warehouse)]
            ) == os.path.abspath(warehouse):
                import shutil

                shutil.rmtree(table_dir, ignore_errors=True)
            return self._empty()
        mt = _TRUNCATE_RE.match(query)
        if mt:  # DuckDB TRUNCATE = unconditional DELETE (one empty
            # overwrite commit; history stays time-travelable)
            query = f"DELETE FROM {mt.group('name')}"
        # join-DML sugar (r7 DML probes): UPDATE … FROM and DELETE …
        # USING are exactly single-clause MERGEs — re-dispatch through
        # the MERGE machinery rather than growing a second join-rewrite
        # path. Unqualified SET columns bind to the target on both.
        if re.match(r"^\s*UPDATE\b", query, re.IGNORECASE):
            juf = _split_join_dml(query, "FROM")
            if juf is not None:
                return self._update_from(juf, dialect)
        if re.match(r"^\s*DELETE\b", query, re.IGNORECASE):
            jdu = _split_join_dml(query, "USING")
            if jdu is not None:
                # DELETE … USING is a single-clause MERGE; duplicate
                # source matches don't matter for a delete (the row is
                # gone either way), unlike the UPDATE twin
                return self._merge(
                    f"MERGE INTO {jdu['name']} USING {jdu['src']} "
                    f"ON {jdu['pred']} WHEN MATCHED THEN DELETE",
                    dialect)
        m = _DELETE_RE.match(query)
        if m:
            name = m.group("name")
            if name not in self._versioned:
                raise ValueError(f"DELETE FROM unknown table {name!r}")
            pred = m.group("pred")
            if pred is None:
                # full delete: no sidecar needed — table_changes derives
                # the feed from the full-overwrite diff (all rows left)
                snapshots.write_table(self.table(name).limit(0),
                                      self._versioned[name],
                                      mode="overwrite")
                self._refresh_table(name)
                return self._empty()
            # one pushdown scan of the stats-cut candidates' predicate
            # columns finds the rows that leave; the commit only marks
            # them. No sidecar: table_changes derives the feed from the
            # deletion vectors.
            entries = self._dml_entries(name)
            with self._dml_probe(name, entries,
                                 snapshots.prune_by_stats(entries, pred)):
                positions = self._hit_positions(name, entries, self.sql(
                    f"SELECT {name}.__dv_file, {name}.__dv_pos "
                    f"FROM {_DML_PROBE} {name} WHERE {pred}",
                    dialect=dialect))
            self._commit_dml(name, entries, positions)
            return self._empty()
        m = _UPDATE_RE.match(query)
        if m:
            name = m.group("name")
            if name not in self._versioned:
                raise ValueError(f"UPDATE unknown table {name!r}")
            sets_text, pred = _split_where_top_level(m.group("rest"))
            assignments = {}
            for part in sqltext.split_top_commas(sets_text):
                col, _, expr = part.partition("=")
                if not _:
                    raise ValueError(f"UPDATE: cannot parse assignment {part!r}")
                assignments[col.strip()] = expr.strip()
            target = self.table(name).schema
            unknown = set(assignments) - {f.name for f in target.fields}
            if unknown:
                raise ValueError(f"UPDATE {name}: unknown column(s) {sorted(unknown)}")
            if pred is None:
                # every row changes: a plain overwrite with the whole
                # table's postimages, no row ids collected
                cols = ", ".join(
                    f"CAST(({assignments[f.name]}) AS "
                    f"{f.dataType.simpleString()}) AS {f.name}"
                    if f.name in assignments else f.name
                    for f in target.fields)
                try:
                    snapshots.write_table(
                        self.sql(f"SELECT {cols} FROM {name}",
                                 dialect=dialect),
                        self._versioned[name], mode="overwrite",
                        cdc_df=self.sql(
                            f"SELECT *, 'update_preimage' AS _change_type "
                            f"FROM {name} UNION ALL SELECT {cols}, "
                            f"'update_postimage' AS _change_type "
                            f"FROM {name}", dialect=dialect))
                finally:
                    self._refresh_table(name)
                return self._empty()
            sets = [(f, i) for i, f in enumerate(target.fields)
                    if f.name in assignments]
            entries = self._dml_entries(name)
            with self._dml_probe(name, entries,
                                 snapshots.prune_by_stats(entries, pred)):
                # one scan: the hit rows with their row ids and the new
                # values of the assigned columns (cached — the positions
                # collect fills it, the two writes read it)
                hit = self.sql(
                    "SELECT *, " + ", ".join(
                        f"({assignments[f.name]}) AS __set_{i}"
                        for f, i in sets)
                    + f" FROM {_DML_PROBE} {name} WHERE {pred}",
                    dialect=dialect).cache()
                try:
                    positions = self._hit_positions(
                        name, entries, hit.select(*deltalog.ROW_ID_COLS))
                    self._commit_update(name, entries, positions, hit, {
                        f.name: f"__set_{i}" for f, i in sets})
                finally:
                    hit.unpersist()
            return self._empty()
        return None

    def _commit_update(self, name: str, entries: list[dict],
                       positions: dict[str, list[int]], hit: DataFrame,
                       new_cols: dict[str, str]) -> None:
        """Commit an UPDATE from its hit rows: ``hit`` holds each row's
        columns, row ids and, per assigned column, the column named in
        ``new_cols`` with its new value (cast to the column's type here).
        The postimages arrive as one file; the change feed holds the
        pre- and postimages."""
        fields = self.table(name).schema.fields
        post = hit.selectExpr(*[
            f"CAST({new_cols[f.name]} AS {f.dataType.simpleString()}) "
            f"AS {_bq(f.name)}" if f.name in new_cols
            else _bq(f.name) for f in fields])
        pre = hit.selectExpr(*[_bq(f.name) for f in fields],
                             "'update_preimage' AS _change_type")
        self._commit_dml(
            name, entries, positions,
            post if positions else None,
            pre.unionByName(post.selectExpr(
                "*", "'update_postimage' AS _change_type"))
            if positions else None)

    def _primary_key_cols(self, name: str) -> list[str]:
        """The table's single PK/UNIQUE constraint columns from the
        persisted metadata, [] if none — lets ON CONFLICT / INSERT OR
        REPLACE infer their conflict target the way DuckDB does. With
        MULTIPLE unique constraints the inference is ambiguous and
        raises (DuckDB errors identically: 'conflict target has to be
        provided' when more than one candidate exists)."""
        targets: list[list[str]] = []
        table_dir = self._versioned.get(name)
        if table_dir:
            for c in snapshots.read_constraints(table_dir):
                if c.get("kind") == "unique":
                    targets.append(list(c.get("cols") or []))
        for _iname, (tbl, cols, uniq) in self._indexes.items():
            if uniq and tbl == name and list(cols) not in targets:
                targets.append(list(cols))
        if len(targets) > 1:
            raise ValueError(
                f"conflict target has to be provided for table {name!r}: "
                f"it declares multiple UNIQUE/PRIMARY KEY constraints "
                f"({targets}) — use ON CONFLICT (col, …) explicitly")
        return targets[0] if targets else []

    def _insert_on_conflict(
        self, name: str, cols: str | None, body: str,
        keys: str | None, act: str, dialect: str,
    ) -> DataFrame:
        """``INSERT INTO t … ON CONFLICT (k, …) DO NOTHING | DO UPDATE SET
        …`` — DuckDB's upsert statement, compiled onto the MERGE machinery
        (one atomic snapshot commit, same join plan). ``excluded.col`` in
        the DO UPDATE sets refers to the incoming row, per the standard.
        The conflict target is required (this engine has no primary-key
        metadata to infer it from); like MERGE, a source that contains the
        same key twice produces duplicate rows — dedupe the source."""
        from pyspark.sql import functions as F

        key_list = [k.strip() for k in (keys or "").split(",") if k.strip()]
        if not key_list:
            key_list = self._primary_key_cols(name)
        if not key_list:
            raise ValueError(
                "ON CONFLICT needs an explicit conflict target `(col, …)` "
                "— the table declares no PRIMARY KEY/UNIQUE constraint "
                "to infer one from")
        if cols:
            raise ValueError(
                "INSERT … ON CONFLICT supports full-column INSERT only "
                "(drop the column list)")
        target = self.table(name).schema
        unknown = [k for k in key_list
                   if k not in {f.name for f in target.fields}]
        if unknown:
            raise ValueError(
                f"ON CONFLICT: unknown column(s) {unknown}")
        if body.upper().lstrip().startswith("VALUES"):
            body = f"SELECT * FROM {body}"
        src = self.sql(body, dialect=dialect)
        if len(src.columns) != len(target.fields):
            raise ValueError(
                f"INSERT INTO {name}: {len(src.columns)} columns "
                f"provided, table has {len(target.fields)}")
        src = src.toDF(*[f.name for f in target.fields]).select(
            *[F.col(f.name).cast(f.dataType) for f in target.fields])
        # constraints apply to upsert inserts too (NOT NULL/CHECK on
        # the incoming batch; uniqueness is what ON CONFLICT resolves)
        self._check_row_constraints(name, src)
        view = "__upsert_src"
        src.createOrReplaceTempView(view)
        try:
            on = " AND ".join(f"{name}.{k} = {view}.{k}" for k in key_list)
            if act.upper() == "NOTHING":
                clauses = "WHEN NOT MATCHED THEN INSERT *"
            else:
                sets = re.sub(r"\bexcluded\.", f"{view}.",
                              act[len("UPDATE SET"):], flags=re.IGNORECASE)
                # unqualified column refs in the SET exprs mean the
                # EXISTING row (per the standard); qualify them so the
                # compiled MERGE join isn't ambiguous
                sets = _qualify_bare_columns(
                    sets, name, {f.name for f in target.fields})
                clauses = (f"WHEN MATCHED THEN UPDATE SET {sets} "
                           "WHEN NOT MATCHED THEN INSERT *")
            return self._merge(
                f"MERGE INTO {name} USING {view} ON {on} {clauses}",
                dialect)
        finally:
            self.spark.catalog.dropTempView(view)

    def _merge(self, query: str, dialect: str) -> DataFrame:
        """``MERGE INTO target USING source ON cond WHEN [NOT] MATCHED
        [AND c] THEN UPDATE SET …|DELETE|INSERT …`` as one copy-on-write
        snapshot commit (upsert — the Delta/Iceberg MERGE surface over the
        same metadata-log idea, /root/reference/metadata:1-17).

        Plan shape: matched side is target LEFT JOIN source (update/delete
        applied per row via CASE), insert side is source LEFT ANTI JOIN
        target; both are ordinary hash-shuffle joins, unioned into one
        distributed write. Like Delta, a source that matches one target row
        more than once produces duplicate target rows — keep the source
        unique on the join key."""
        import os

        m = _MERGE_HEAD_RE.match(query)
        if not m:
            raise ValueError("cannot parse MERGE INTO statement")
        target, talias = m.group("target"), m.group("talias") or m.group("target")
        if target not in self._versioned:
            raise ValueError(f"MERGE INTO unknown table {target!r} — "
                             "only versioned tables accept DML")
        rest = m.group("rest").strip()
        if rest.startswith("("):
            close = sqltext.match_paren(rest, 0)
            source, tail = rest[:close + 1], rest[close + 1:]
        else:
            ms = re.match(r"^([A-Za-z_]\w*)", rest)
            if not ms:
                raise ValueError("cannot parse MERGE source relation")
            source, tail = ms.group(1), rest[ms.end():]
        mt = _MERGE_TAIL_RE.match(tail)
        if not mt:
            raise ValueError("cannot parse MERGE ON/WHEN clauses")
        salias = mt.group("salias") or (
            source if not source.startswith("(") else None)
        if salias is None:
            raise ValueError("MERGE subquery source needs an alias")
        on, clauses = mt.group("on"), mt.group("clauses")

        def _parse_sets(text: str) -> dict[str, str]:
            sets: dict[str, str] = {}
            for part in sqltext.split_top_commas(text):
                col, eq, expr = part.partition("=")
                if not eq:
                    raise ValueError(f"MERGE UPDATE: bad assignment {part!r}")
                # allow `t.col = …` qualification; strip the qid
                # normalizer's backticks on spaced names (r9)
                sets[col.strip().split(".")[-1].strip("`")] = expr.strip()
            return sets

        upd_sets: dict[str, str] | None = None
        upd_cond = del_cond = None
        has_delete = False
        matched_order: list[str] = []  # WHEN MATCHED clause kinds, in text order
        # WHEN NOT MATCHED BY SOURCE …: target rows with no source match
        bysrc_upd: dict[str, str] | None = None
        bysrc_upd_cond = bysrc_del_cond = None
        bysrc_has_delete = False
        bysrc_order: list[str] = []
        ins_cols: list[str] | None = None
        ins_vals: list[str] | None = None
        ins_star = False
        ins_cond = None
        for c in _MERGE_CLAUSE_RE.finditer(clauses):
            action = c.group("action").strip()
            up = action.upper()
            by = (c.group("by") or "").upper()
            if c.group("not") and by == "SOURCE":
                if up.startswith("UPDATE"):
                    bysrc_order.append("update")
                    bysrc_upd_cond = c.group("cond")
                    bysrc_upd = _parse_sets(action[len("UPDATE SET"):])
                elif up == "DELETE":
                    bysrc_order.append("delete")
                    bysrc_has_delete = True
                    bysrc_del_cond = c.group("cond")
                else:
                    raise ValueError(
                        "WHEN NOT MATCHED BY SOURCE supports only UPDATE/DELETE")
            elif c.group("not"):
                if not up.startswith("INSERT"):
                    raise ValueError("WHEN NOT MATCHED supports only INSERT")
                ins_cond = c.group("cond")
                body = action[6:].strip()
                if body == "*" or body.upper() == "*":
                    ins_star = True
                else:
                    mi = re.match(r"^\((?P<cols>[^)]*)\)\s*VALUES\s*\((?P<vals>.*)\)\s*$",
                                  body, re.IGNORECASE | re.DOTALL)
                    if not mi:
                        raise ValueError(
                            "WHEN NOT MATCHED THEN INSERT needs `*` or "
                            "`(cols) VALUES (exprs)`")
                    ins_cols = [x.strip() for x in mi.group("cols").split(",")]
                    ins_vals = sqltext.split_top_commas(mi.group("vals"))
                    if len(ins_cols) != len(ins_vals):
                        raise ValueError("INSERT column/value count mismatch")
            elif by:
                raise ValueError("BY SOURCE/TARGET only applies to WHEN NOT MATCHED")
            elif up.startswith("UPDATE"):
                matched_order.append("update")
                upd_cond = c.group("cond")
                upd_sets = _parse_sets(action[len("UPDATE SET"):])
            elif up == "DELETE":
                matched_order.append("delete")
                has_delete = True
                del_cond = c.group("cond")
            else:
                raise ValueError(f"unsupported MERGE action {action!r}")

        # Standard MERGE (DuckDB/Delta) applies the FIRST matching WHEN
        # MATCHED clause per row, not every clause independently — gate the
        # later clause's condition on the earlier clause NOT having matched.
        if upd_sets is not None and has_delete:
            if matched_order.index("update") < matched_order.index("delete"):
                if upd_cond:
                    del_cond = (f"({del_cond}) AND NOT ({upd_cond})"
                                if del_cond else f"NOT ({upd_cond})")
                else:  # unconditional UPDATE first → DELETE unreachable
                    has_delete = False
                    del_cond = None
            else:
                if del_cond:
                    upd_cond = (f"({upd_cond}) AND NOT ({del_cond})"
                                if upd_cond else f"NOT ({del_cond})")
                else:  # unconditional DELETE first → UPDATE unreachable
                    upd_sets = None
                    upd_cond = None
        # same first-match rule within the BY SOURCE clause group
        if bysrc_upd is not None and bysrc_has_delete:
            if bysrc_order.index("update") < bysrc_order.index("delete"):
                if bysrc_upd_cond:
                    bysrc_del_cond = (
                        f"({bysrc_del_cond}) AND NOT ({bysrc_upd_cond})"
                        if bysrc_del_cond else f"NOT ({bysrc_upd_cond})")
                else:
                    bysrc_has_delete = False
                    bysrc_del_cond = None
            else:
                if bysrc_del_cond:
                    bysrc_upd_cond = (
                        f"({bysrc_upd_cond}) AND NOT ({bysrc_del_cond})"
                        if bysrc_upd_cond else f"NOT ({bysrc_del_cond})")
                else:
                    bysrc_upd = None
                    bysrc_upd_cond = None

        schema = self.table(target).schema
        names = [f.name for f in schema.fields]
        matched = f"coalesce({salias}.__m, false)"
        # WHEN MATCHED acts on matched rows, WHEN NOT MATCHED BY SOURCE on
        # unmatched ones — disjoint sets, so one CASE per column covers both
        post_exprs = []
        for f in schema.fields:
            branches = []
            if upd_sets and f.name in upd_sets:
                branches.append((
                    matched + (f" AND ({upd_cond})" if upd_cond else ""),
                    upd_sets[f.name]))
            if bysrc_upd and f.name in bysrc_upd:
                branches.append((
                    f"NOT {matched}"
                    + (f" AND ({bysrc_upd_cond})" if bysrc_upd_cond else ""),
                    bysrc_upd[f.name]))
            if branches:
                whens = " ".join(f"WHEN {c} THEN ({e})" for c, e in branches)
                post_exprs.append(
                    f"CAST(CASE {whens} ELSE {talias}.{f.name} END AS "
                    f"{f.dataType.simpleString()})")
            else:
                post_exprs.append(f"{talias}.{f.name}")
        src_marked = (
            f"(SELECT *, true AS __m FROM {source} "
            if not source.startswith("(")
            else f"(SELECT *, true AS __m FROM {source} __mrg_inner "
        ) + f") {salias}"
        # the target's candidate rows are the probe aliased as the
        # target; the target's name stays the whole pre-statement table
        join_from = (f"FROM {_DML_PROBE} {talias} "
                     f"LEFT JOIN {src_marked} ON {on}")
        upd_branches = []
        if upd_sets is not None:
            upd_branches.append(
                matched + (f" AND ({upd_cond})" if upd_cond else ""))
        if bysrc_upd is not None:
            upd_branches.append(
                f"NOT {matched}"
                + (f" AND ({bysrc_upd_cond})" if bysrc_upd_cond else ""))
        del_filters = []
        if has_delete:
            del_filters.append(
                matched + (f" AND ({del_cond})" if del_cond else ""))
        if bysrc_has_delete:
            del_filters.append(
                f"NOT {matched}"
                + (f" AND ({bysrc_del_cond})" if bysrc_del_cond else ""))
        upd_pred = " OR ".join(f"({b})" for b in upd_branches)
        del_pred = " OR ".join(f"({c})" for c in del_filters)
        touched = " OR ".join(f"({p})" for p in (upd_pred, del_pred) if p)
        anti = None
        if ins_star or ins_cols:
            if ins_star:
                ins_map = {n: f"{salias}.{n}" for n in names}
            else:
                given = {c: v for c, v in zip(ins_cols, ins_vals)}
                unknown = set(given) - set(names)
                if unknown:
                    raise ValueError(
                        f"MERGE INSERT: unknown column(s) {sorted(unknown)}")
                ins_map = {n: given.get(n, "NULL") for n in names}
            ins_proj = ", ".join(
                f"CAST({ins_map[f.name]} AS {f.dataType.simpleString()}) AS {f.name}"
                for f in schema.fields)
            anti = (
                f"SELECT {ins_proj} FROM {source} {salias} "
                f"LEFT ANTI JOIN {target} {talias} ON {on}"
            )
            if ins_cond:
                anti += f" WHERE {ins_cond}"
        # The rows that leave are the touched target rows (marked by
        # deletion vectors); the rows that arrive are the updated rows'
        # postimages plus the inserts. Change feed (Delta _change_data
        # design): preimages carry the raw target columns, postimages
        # the update CASE projection.
        entries = self._dml_entries(target)
        with self._dml_probe(target, entries, entries if touched else []):
            hit = None
            arriving: list[DataFrame] = []
            cdc: list[DataFrame] = []
            positions = {}
            try:
                if touched:
                    # one join: the touched rows with their row ids, raw
                    # and postimage columns and clause flag (cached — the
                    # positions collect fills it, the writes read it)
                    hit = self.sql(
                        "SELECT " + ", ".join(
                            [f"{talias}.{n} AS {n}" for n in names]
                            + [f"{e} AS __post_{i}"
                               for i, e in enumerate(post_exprs)])
                        + f", ({upd_pred or 'false'}) IS TRUE AS __upd, "
                        f"{talias}.__dv_file, {talias}.__dv_pos "
                        f"{join_from} WHERE {touched}",
                        dialect=dialect).cache()
                    positions = self._hit_positions(
                        target, entries, hit.select(*deltalog.ROW_ID_COLS))
                    raw = [_bq(n) for n in names]
                    if upd_pred and positions:
                        upd = hit.where("__upd")
                        post = upd.selectExpr(*[
                            f"__post_{i} AS {c}" for i, c in enumerate(raw)])
                        arriving.append(post)
                        cdc.append(upd.selectExpr(
                            *raw, "'update_preimage' AS _change_type"))
                        cdc.append(post.selectExpr(
                            "*", "'update_postimage' AS _change_type"))
                    if del_pred and positions:
                        cdc.append(hit.where("NOT __upd").selectExpr(
                            *raw, "'delete' AS _change_type"))
                if anti:
                    ins = self.sql(anti, dialect=dialect)
                    arriving.append(ins)
                    cdc.append(ins.selectExpr(
                        "*", "'insert' AS _change_type"))
                self._commit_dml(
                    target, entries, positions,
                    *[functools.reduce(DataFrame.unionByName, parts)
                      if parts else None for parts in (arriving, cdc)])
            finally:
                if hit is not None:
                    hit.unpersist()
        return self._empty()

    def _copy_to(self, src: str, path: str, opts: str | None, dialect: str) -> DataFrame:
        """DuckDB ``COPY src TO 'path' (FORMAT x, ...)`` analog. The source
        is a table name or a parenthesized query; format comes from the
        options list, else the path suffix, else parquet. Honored options:
        FORMAT (parquet/csv/json/iceberg — ICEBERG appends a spec-shaped
        v2 snapshot via iceberglog.write_table, creating the table on
        first write), HEADER, DELIMITER/SEPARATOR (csv), COMPRESSION,
        PARTITION_BY (hive layout → partition pruning on read); any other
        key RAISES rather than silently dropping a semantic the caller
        asked for. Writes a directory (Spark layout), not a single file —
        single-file writes serialize through one task and are an
        anti-pattern at scale."""
        from .sources.sinks import write_csv, write_json, write_parquet

        if not self._extensions_allowed:
            raise PermissionError(
                "COPY ... TO is disabled in safe mode "
                "(enable_external_access=false)")
        df = (
            self.sql(src[1:-1], dialect=dialect)
            if src.startswith("(")
            else self.table(src)
        )
        options = _parse_copy_options(opts)
        fmt = options.pop("format", None)
        if fmt is None:
            suffix = path.rsplit(".", 1)[-1].lower() if "." in path else ""
            fmt = {"csv": "csv", "json": "json"}.get(suffix, "parquet")
        partition_by = options.pop("partition_by", None)
        compression = options.pop("compression", None)
        header = options.pop("header", None)
        delimiter = options.pop("delimiter", None)
        null_str = options.pop("null", None)
        quote = options.pop("quote", None)
        escape = options.pop("escape", None)
        if options:
            raise ValueError(
                f"COPY: unrecognized option(s) {sorted(options)} — "
                "supported: FORMAT, HEADER, DELIMITER, COMPRESSION, "
                "PARTITION_BY, NULL, QUOTE, ESCAPE"
            )
        if fmt == "iceberg":
            # Iceberg export (D34 write direction) reachable from SQL:
            # COPY t TO 'dir' (FORMAT ICEBERG) — appends a spec-shaped v2
            # snapshot (or creates the table) at 'dir'
            if header is not None or delimiter is not None \
                    or partition_by is not None or compression is not None:
                raise ValueError(
                    "COPY FORMAT ICEBERG supports no other options")
            mode = ("append" if iceberglog.is_iceberg_table(path)
                    else "overwrite")
            iceberglog.write_table(df, path, mode=mode)
            return self.spark.sql("SELECT 1 AS ok WHERE false")
        if fmt == "delta":
            # Delta export reachable from SQL: COPY t TO 'dir'
            # (FORMAT DELTA) — one snapshot commit whose _delta_log
            # mirror (written by snapshots.write_table) IS the external
            # contract; append if the target is already a table
            if header is not None or delimiter is not None \
                    or partition_by is not None or compression is not None:
                raise ValueError(
                    "COPY FORMAT DELTA supports no other options")
            import os as _os

            has_private = _os.path.isdir(_os.path.join(path, "_log"))
            has_delta = _os.path.isdir(_os.path.join(path, "_delta_log"))
            if has_delta and not has_private:
                # a FOREIGN _delta_log-only table: appending would start
                # a fresh private log whose mirror collides with the
                # foreign version-0 commit — the O_EXCL loss would be
                # silently swallowed as a mirror race and the appended
                # rows would vanish from delta_scan. Refuse loudly.
                raise ValueError(
                    "COPY FORMAT DELTA cannot append to a foreign "
                    "_delta_log-only table — CLONE or register it into "
                    "a private versioned table first")
            snapshots.write_table(
                df, path, mode="append" if has_private else "overwrite")
            return self.spark.sql("SELECT 1 AS ok WHERE false")
        if fmt == "hudi":
            # Hudi COPY_ON_WRITE timeline export (timeline-faithful for
            # this reader; see hudilog.write_hudi_table honesty note)
            if header is not None or delimiter is not None \
                    or partition_by is not None or compression is not None:
                raise ValueError(
                    "COPY FORMAT HUDI supports no other options")
            hudilog.write_hudi_table(
                df, path,
                mode="append" if hudilog.is_hudi_table(path)
                else "overwrite")
            return self.spark.sql("SELECT 1 AS ok WHERE false")
        if fmt == "parquet":
            if header is not None or delimiter is not None \
                    or null_str is not None or quote is not None \
                    or escape is not None:
                raise ValueError("COPY: HEADER/DELIMITER/NULL/QUOTE/"
                                 "ESCAPE only apply to FORMAT csv")
            write_parquet(df, path, mode="overwrite", partition_by=partition_by,
                          **({"compression": compression} if compression else {}))
        elif fmt == "csv":
            write_csv(df, path, mode="overwrite",
                      header=True if header is None else header,
                      compression=compression, delimiter=delimiter,
                      partition_by=partition_by, null_str=null_str,
                      quote=quote, escape=escape)
        elif fmt == "json":
            if header is not None or delimiter is not None:
                raise ValueError("COPY: HEADER/DELIMITER only apply to FORMAT csv")
            write_json(df, path, mode="overwrite", compression=compression,
                       partition_by=partition_by)
        else:
            raise ValueError(f"COPY: unsupported format {fmt!r}")
        return self.spark.sql("SELECT 1 AS ok WHERE false")

    def _copy_from(self, name: str, path: str, opts: str | None) -> DataFrame:
        """DuckDB ``COPY tbl FROM 'path' (FORMAT x, ...)`` analog: load a
        file into an existing versioned table as ONE append commit
        (atomic, time-travelable — a failed load leaves no partial
        snapshot). Format from the options, else the path suffix, else
        parquet; CSV honors HEADER/DELIMITER (header defaults on, like
        the sniffer). Source columns are matched by name when present and
        by position for headerless CSV; values cast to the table schema."""
        from pyspark.sql import functions as F

        if not self._extensions_allowed:
            raise PermissionError(
                "COPY ... FROM is disabled in safe mode "
                "(enable_external_access=false)")
        if name not in self._versioned:
            raise ValueError(f"COPY FROM unknown table {name!r} — "
                             "only versioned tables accept imports")
        options = _parse_copy_options(opts)
        fmt = options.pop("format", None)
        if fmt is None:
            suffix = path.rsplit(".", 1)[-1].lower() if "." in path else ""
            fmt = {"csv": "csv", "json": "json"}.get(suffix, "parquet")
        header = options.pop("header", True)
        delimiter = options.pop("delimiter", None)
        if options:
            raise ValueError(
                f"COPY FROM: unrecognized option(s) {sorted(options)} — "
                "supported: FORMAT, HEADER, DELIMITER")
        target = self.table(name).schema
        if fmt == "parquet":
            if delimiter is not None:
                raise ValueError("COPY FROM: DELIMITER only applies to FORMAT csv")
            df = catalog.read_parquet(self.spark, path)
        elif fmt == "csv":
            reader = (self.spark.read
                      .option("header", str(bool(header)).lower())
                      .option("inferSchema", "true"))
            if delimiter:
                reader = reader.option("sep", delimiter)
            df = reader.csv(path)
            if not header:
                if len(df.columns) != len(target.fields):
                    raise ValueError(
                        f"COPY FROM {name}: headerless csv has "
                        f"{len(df.columns)} columns, table has "
                        f"{len(target.fields)}")
                df = df.toDF(*[f.name for f in target.fields])
        elif fmt == "json":
            if delimiter is not None:
                raise ValueError("COPY FROM: DELIMITER only applies to FORMAT csv")
            df = self.spark.read.json(path)
        else:
            raise ValueError(f"COPY FROM: unsupported format {fmt!r}")
        missing = [f.name for f in target.fields if f.name not in df.columns]
        if missing:
            raise ValueError(
                f"COPY FROM {name}: source is missing column(s) {missing}")
        df = df.select(
            *[F.col(f.name).cast(f.dataType) for f in target.fields])
        if self._indexes:
            self._check_unique_indexes(name, df)
        self._check_constraints(name, df)  # imports are INSERTs too
        snapshots.write_table(df, self._versioned[name], mode="append")
        self._refresh_table(name)
        return self._empty()

    def execute(self, script: str, dialect: str = "spark") -> list[DataFrame]:
        """Execute a multi-statement script (the CLI path, shell.cpp analog:
        /root/reference/duckdb:18 ExtractStatements → per-statement Query)."""
        return [self.sql(stmt, dialect=dialect) for stmt in split_statements(script)]

    def table(self, name: str) -> DataFrame:
        if "." in name:
            db, _, t = name.partition(".")
            view = self._attached.get(db, {}).get(t)
            if view is not None:
                return self.spark.table(view)
        return self.spark.table(name)

    def summarize(self, name: str) -> DataFrame:
        """Per-column profile of a registered table — the DuckDB
        ``SUMMARIZE t`` analog (count/nulls/distinct/min/max/mean/median in
        one scan; operators/profile.py). Distinct counts are HLL-approx,
        matching SUMMARIZE's approx_unique."""
        from .operators.profile import profile_columns

        return profile_columns(self.table(name))

    def explain(self, query: str, dialect: str = "spark", mode: str = "formatted") -> str:
        """EXPLAIN analog (/root/reference/duckdb:101 pipeline inspection)."""
        df = self.sql(query, dialect=dialect)
        jmode = self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
        return df._jdf.queryExecution().explainString(jmode)

    # -- extension registry (INSTALL/LOAD analog, /root/reference/duckdb:23-55)

    def install(self, module_name: str, repository: str = "core",
                version: str | None = None) -> None:
        """INSTALL analog: make an extension module available (import check).

        Mirrors ExtensionHelper::InstallExtension recording the artifact —
        the registry entry is the LoadInfo triple {module, repository,
        version} from the reference's worked example
        (/root/reference/duckdb:30-33, 38-45); here the artifact is an
        importable Python module. ``version`` pins the extension: the pin
        is recorded at INSTALL and enforced at LOAD (like a downloaded
        artifact whose binary version is checked when it is dlopen'd).
        """
        if not self._extensions_allowed:
            raise PermissionError("extensions disabled (safe mode)")
        if repository not in EXTENSION_REPOSITORIES:
            raise ValueError(
                f"unknown extension repository {repository!r} — known: "
                f"{sorted(EXTENSION_REPOSITORIES)}")
        known = module_name in EXTENSION_ALIASES or module_name in EXTENSION_ALIASES.values()
        if not known and not self._allow_arbitrary_extensions:
            # SQL text must not be able to import arbitrary Python modules:
            # the reference's unsigned-extension load likewise requires an
            # explicit opt-in flag (/root/reference/duckdb:122-125).
            raise PermissionError(
                f"unknown extension {module_name!r}: not in EXTENSION_ALIASES; "
                "pass allow_arbitrary_extensions=True to load arbitrary modules"
            )
        mod = importlib.import_module(
            EXTENSION_ALIASES.get(module_name, module_name))
        self._extensions[module_name] = {
            "module": mod,
            "repository": repository,
            "version": version,
        }

    def load(self, module_name: str) -> None:
        """LOAD analog: call the module's ``register(engine)`` entry symbol
        (≈ find entry symbol + FinishLoad, /root/reference/duckdb:46-55).
        Auto-installs on first load, like autoinstall_known_extensions
        (/root/reference/duckdb:51-52). A version pinned at INSTALL must
        match the module's ``__extension_version__`` or the load raises."""
        if module_name not in self._extensions:
            self.install(module_name)
        info = self._extensions[module_name]
        mod = info["module"] if isinstance(info, dict) else info
        pinned = info.get("version") if isinstance(info, dict) else None
        actual = getattr(mod, "__extension_version__",
                         getattr(mod, "__version__", None))
        if pinned is not None and actual is not None and pinned != actual:
            raise ValueError(
                f"extension {module_name!r}: installed pin {pinned!r} does "
                f"not match module version {actual!r} — "
                "FORCE INSTALL with the matching version first")
        entry = getattr(mod, "register", None)
        if entry is None:
            raise ValueError(f"extension {module_name!r} has no register(engine) entry point")
        entry(self)

    def register_function(self, name: str, fn: Callable, return_type=None) -> None:
        """Register a Python function as a SQL-callable UDF."""
        self._functions[name] = fn
        self.spark.udf.register(name, fn, return_type)

    @property
    def functions(self) -> dict[str, Callable]:
        return dict(self._functions)

    def stop(self) -> None:
        self.spark.stop()


_DUCK_TYPE_NAMES = {
    "int": "INTEGER", "bigint": "BIGINT", "smallint": "SMALLINT",
    "tinyint": "TINYINT", "string": "VARCHAR", "double": "DOUBLE",
    "float": "FLOAT", "boolean": "BOOLEAN", "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP", "date": "DATE", "binary": "BLOB",
}


def _schema_columns(schema, notnull=frozenset()) -> list[tuple]:
    """(field, DuckDB type, not_null) per field of ``schema``; a field
    named in ``notnull`` is NOT NULL whatever Spark's schema says."""
    return [(f, _duck_type_name(f.dataType.simpleString()),
             f.name in notnull or not f.nullable) for f in schema.fields]


def _duck_type_name(simple: str) -> str:
    """Spark simpleString → DuckDB information_schema data_type spelling."""
    if simple in _DUCK_TYPE_NAMES:
        return _DUCK_TYPE_NAMES[simple]
    if simple.startswith("array<") and simple.endswith(">"):
        return _duck_type_name(simple[6:-1]) + "[]"
    return simple.upper()


def _rewrite_from_first(query: str) -> str:
    """DuckDB's FROM-first syntax: ``FROM t [WHERE …]`` ≡ ``SELECT * FROM
    t [WHERE …]`` and ``FROM t SELECT list [tail]`` ≡ ``SELECT list FROM
    t [tail]``. Only applies when the statement literally starts with
    FROM; everything else (including subqueries) is untouched."""
    if query.lstrip()[:5].upper() not in ("FROM ", "FROM\t", "FROM\n"):
        return query
    sel = sqltext.find_top_level(query, "SELECT")
    if sel < 0:
        return "SELECT * " + query.lstrip()
    from_part = query[:sel].strip()
    rest = query[sel + 6:]  # after 'SELECT'
    # the select list ends at the first top-level clause keyword
    cut = len(rest)
    for kw in ("WHERE", "GROUP", "HAVING", "QUALIFY", "ORDER", "LIMIT"):
        k = sqltext.find_top_level(rest, kw)
        if 0 <= k < cut:
            cut = k
    # newline-joined: a piece may end in a -- comment
    return (f"SELECT {rest[:cut].strip()}\n{from_part}\n"
            f"{rest[cut:].strip()}").strip()


def _looks_like_create_table(rest: str) -> bool:
    """True for the two shapes we manage: ``(col type, ...)`` or ``AS
    <select>``. Anything else (USING, LIKE, ...) falls through to
    spark.sql untouched."""
    rest = rest.strip()
    return rest.startswith("(") or rest[:2].upper() == "AS"


def _qualify_bare_columns(expr: str, table: str, columns: set[str]) -> str:
    """Prefix unqualified references to ``columns`` with ``table.`` —
    token-aware (skips qualified refs, function calls, string literals)."""
    toks = sqltext.tokenize(expr)
    sig = sqltext.significant(toks)
    for pos, i in enumerate(sig):
        t = toks[i]
        if t.kind != "ident" or t.text not in columns:
            continue
        if pos > 0 and toks[sig[pos - 1]].text == ".":
            continue          # already qualified
        if pos + 1 < len(sig) and toks[sig[pos + 1]].text in (".", "("):
            continue          # qualifier itself / function call
        toks[i] = type(t)("other", f"{table}.{t.text}")
    return sqltext.detokenize(toks)


def _variable_literal(v) -> str:
    """Render a session-variable value as a typed SQL literal for
    getvariable() substitution. Extends the pivot renderer with the value
    shapes a variable can legally hold: NULL, non-finite doubles, decimals,
    and lists."""
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        return f"CAST({v} AS DECIMAL(38,18))"
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            sign = "-" if v < 0 else ""
            return f"CAST('{sign}Infinity' AS DOUBLE)"
        return f"CAST({v!r} AS DOUBLE)"
    if isinstance(v, (list, tuple)):
        return "array(" + ", ".join(_variable_literal(x) for x in v) + ")"
    if isinstance(v, (str, bool, datetime.datetime, datetime.date, int)):
        return _pivot_value_literal(v)
    raise ValueError(
        f"getvariable: unsupported variable value type {type(v).__name__}")


def _pivot_value_literal(v) -> str:
    """Render a discovered pivot value as a typed SQL literal. str(v) is
    only safe for numbers — dates/timestamps would inject unquoted
    ``IN (2024-01-01 00:00:00)`` (invalid or misparsed arithmetic)."""
    import datetime

    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    return str(v)


def _sniff_csv_delim(path: str, sample_bytes: int = 65536) -> str | None:
    """Detect the CSV delimiter from a prefix of the first file at
    ``path`` (DuckDB sniffer's core heuristic): among the candidate
    delimiters, keep those that split every sampled line into the SAME
    field count > 1, and prefer the highest field count. Returns None
    (Spark's ',' default) when nothing qualifies — e.g. a single-column
    file, where the delimiter is irrelevant."""
    import glob as _glob
    import os

    if os.path.isdir(path):
        files = sorted(os.path.join(path, f) for f in os.listdir(path)
                       if not f.startswith((".", "_")))
    elif any(ch in path for ch in "*?["):
        files = sorted(_glob.glob(path))
    else:
        files = [path]
    if not files:
        return None
    try:
        with open(files[0], "rb") as f:
            sample = f.read(sample_bytes).decode("utf-8", "replace")
    except OSError:
        return None
    lines = [ln for ln in sample.splitlines()[:64] if ln.strip()]
    if len(lines) > 1:
        lines = lines[:-1]   # last line may be truncated by the sample
    if not lines:
        return None
    # candidates inside double-quoted fields are DATA, not structure —
    # counting them elects the wrong delimiter on uniformly quoted rows
    # (review r6: '1,"x;y;z"' must sniff ',', not ';')
    lines = [re.sub(r'"[^"]*("|$)', "", ln) for ln in lines]
    best: tuple[int, str] | None = None
    for cand in (",", ";", "\t", "|"):
        counts = {ln.count(cand) for ln in lines}
        if len(counts) == 1 and (n := counts.pop()) > 0:
            if best is None or n > best[0]:
                best = (n, cand)
    return best[1] if best else None


def _parse_read_func_args(argstr: str) -> dict:
    """Parse DuckDB-style named args of a read_* table function
    (``delim='|', header=true, columns={'a': 'INTEGER'}``) into a
    lowercase-key dict. Values: quoted strings (unescaped), booleans,
    numbers, or a ``{...}`` struct kept as its raw text."""
    out: dict = {}
    for part in sqltext.split_top_commas(argstr):
        m = re.match(r"^(?P<key>[A-Za-z_]\w*)\s*:?=\s*(?P<val>.+)$", part,
                     re.DOTALL)
        if not m:
            raise ValueError(f"read_*: cannot parse option {part!r} — "
                             "expected key=value")
        key, val = m.group("key").lower(), m.group("val").strip()
        if val.startswith("'") and val.endswith("'"):
            out[key] = val[1:-1].replace("''", "'")
        elif val.startswith("[") and val.endswith("]"):
            # list options (names=['a','b'], types=[…]) — quoted
            # string elements (r12)
            out[key] = [e[1:-1].replace("''", "'") if e.startswith("'")
                        else e for e in sqltext.split_top_commas(val[1:-1])]
        elif val.lower() in ("true", "false"):
            out[key] = val.lower() == "true"
        elif re.fullmatch(r"-?\d+", val):
            out[key] = int(val)
        else:
            out[key] = val  # struct text ({'a': 'INTEGER'}) or bareword
    return out


# DuckDB type names → Spark DDL types (for read_* columns={} options).
_DUCK_TO_SPARK_TYPES = {
    "INTEGER": "INT", "INT": "INT", "INT4": "INT", "SIGNED": "INT",
    "BIGINT": "BIGINT", "INT8": "BIGINT", "LONG": "BIGINT",
    "HUGEINT": "DECIMAL(38,0)",
    "SMALLINT": "SMALLINT", "INT2": "SMALLINT", "TINYINT": "TINYINT",
    "VARCHAR": "STRING", "TEXT": "STRING", "STRING": "STRING",
    "CHAR": "STRING", "BPCHAR": "STRING", "UUID": "STRING",
    "INT1": "TINYINT", "BLOB": "BINARY", "BYTEA": "BINARY",
    "NUMERIC": "DECIMAL(18,3)",  # DuckDB's bare-NUMERIC default
    "DOUBLE": "DOUBLE", "FLOAT8": "DOUBLE",
    "REAL": "FLOAT", "FLOAT4": "FLOAT", "FLOAT": "FLOAT",
    "BOOLEAN": "BOOLEAN", "BOOL": "BOOLEAN",
    "DATE": "DATE", "TIMESTAMP": "TIMESTAMP", "DATETIME": "TIMESTAMP",
}


def _bq(name: str) -> str:
    """``name`` as a backquoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _duck_value_casts(df, fields) -> list[str]:
    """SQL expressions casting INSERT value columns to the target
    ``fields`` with DuckDB's semantics: a DECIMAL→DECIMAL downscale
    TRUNCATES toward zero [measured r9: INSERT 2.9999 into DECIMAL(9,3)
    stores 2.999; Spark's cast would round to 3.000]; everything else
    is Spark's plain (ANSI) cast. The source schema is read once and the
    expressions are text, for one ``selectExpr``: a Column per field
    costs py4j round trips each."""
    from pyspark.sql import types as T

    src = {f.name: f.dataType for f in df.schema.fields}
    out = []
    for field in fields:
        col = _bq(field.name)
        st, dt = src.get(field.name), field.dataType
        if (isinstance(st, T.DecimalType) and isinstance(dt, T.DecimalType)
                and st.scale > dt.scale):
            s_ = dt.scale
            unit = "1" if s_ == 0 else "0." + "0" * (s_ - 1) + "1"
            out.append(f"CAST({col} - ({col} % {unit}) AS "
                       f"DECIMAL({dt.precision},{dt.scale})) AS {col}")
        else:
            out.append(f"CAST({col} AS {dt.simpleString()}) AS {col}")
    return out


def _map_duck_type(typ: str) -> str | None:
    """One DuckDB type spelling → Spark DDL type, parameterized forms
    included. ``NUMERIC(10,2)``/``DEC(10,2)``/``DECIMAL(10,2)`` keep the
    user's precision/scale as ``DECIMAL(p,s)``; bare NUMERIC/DEC get
    DuckDB's default DECIMAL(18,3); VARCHAR(n)/CHAR(n) lengths drop
    (Spark's carrier is bare STRING). Returns None when the base type
    is unknown (callers decide whether that's an error)."""
    t = typ.strip()
    # DuckDB array suffixes: INT[] / VARCHAR[][] → ARRAY<…> wrapping
    dims = 0
    while True:
        m_arr = re.search(r"\[\s*\]\s*$", t)
        if not m_arr:
            break
        t = t[:m_arr.start()].rstrip()
        dims += 1
    if dims:
        inner = _map_duck_type(t)
        if inner is None:
            return None
        for _ in range(dims):
            inner = f"ARRAY<{inner}>"
        return inner
    m = re.match(r"^([A-Za-z_][A-Za-z0-9_]*)"
                 r"(\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?$", t)
    if not m:
        return None
    base, paren = m.group(1).upper(), m.group(2)
    if base in ("DECIMAL", "NUMERIC", "DEC"):
        if paren:
            return "DECIMAL" + re.sub(r"\s+", "", paren)
        return "DECIMAL(18,3)"  # DuckDB's bare default
    # every other parameterized spelling (VARCHAR(40), CHAR(8)) drops
    # its parameter — the mapped Spark carrier is unparameterized
    return _DUCK_TO_SPARK_TYPES.get(base)


def _columns_to_spark_ddl(columns: str) -> str:
    """``{'a': 'INTEGER', 'b': 'VARCHAR'}`` → ``a INT, b STRING`` (the
    read_csv/read_json columns= option; declaration order preserved)."""
    pairs = re.findall(r"'((?:[^']|'')+)'\s*:\s*'((?:[^']|'')+)'", columns)
    if not pairs:
        raise ValueError(
            f"read_*: cannot parse columns option {columns!r} — expected "
            "{'name': 'TYPE', ...}")
    cols = []
    for name, typ in pairs:
        t = typ.strip().upper()
        base = re.match(r"^[A-Za-z]+", t)
        mapped = _DUCK_TO_SPARK_TYPES.get(t)
        if mapped is None and base and base.group() == "DECIMAL":
            mapped = t
        if mapped is None:
            raise ValueError(f"read_*: unsupported column type {typ!r}")
        cols.append(f"{name.replace(chr(39) * 2, chr(39))} {mapped}")
    return ", ".join(cols)


def _parse_constraints(inner: str) -> tuple[str, list[dict]]:
    """Extract column- and table-level constraints from a CREATE TABLE
    definition list: NOT NULL, CHECK (expr), UNIQUE, PRIMARY KEY
    (expanded to NOT NULL + UNIQUE). Returns (definition list with the
    constraint text removed, constraint dicts)."""
    cons: list[dict] = []
    parts_out: list[str] = []
    for part in sqltext.split_top_commas(inner):
        p = part.strip()
        up = p.upper()
        m = re.match(r"^CHECK\s*\(", p, re.IGNORECASE)
        if m:  # table-level CHECK
            close = sqltext.match_paren(p, m.end() - 1)
            cons.append({"kind": "check", "expr": p[m.end():close]})
            continue
        m = re.match(r"^PRIMARY\s+KEY\s*\(\s*(?P<c>[^)]*)\)\s*$", p,
                     re.IGNORECASE)
        if m:  # table-level PRIMARY KEY
            pk = [c.strip() for c in m.group("c").split(",")]
            cons.append({"kind": "unique", "cols": pk, "pk": True})
            cons.extend({"kind": "not_null", "col": c} for c in pk)
            continue
        m = re.match(r"^UNIQUE\s*\(\s*(?P<c>[^)]*)\)\s*$", p, re.IGNORECASE)
        if m:  # table-level UNIQUE
            cons.append({"kind": "unique",
                         "cols": [c.strip() for c in m.group("c").split(",")]})
            continue
        name = p.split()[0] if p.split() else ""
        mck = re.search(r"\bCHECK\s*\(", p, re.IGNORECASE)
        if mck:
            close = sqltext.match_paren(p, mck.end() - 1)
            cons.append({"kind": "check", "expr": p[mck.end():close]})
            p = (p[:mck.start()] + p[close + 1:]).strip()
        # DEFAULT expr extends to the next constraint keyword, not to the
        # end of the definition — 'DEFAULT 0 UNIQUE' keeps its UNIQUE
        mdf = re.search(
            r"\bDEFAULT\s+(?P<e>.+?)"
            r"(?=\s+(?:NOT\s+NULL|UNIQUE|PRIMARY\s+KEY)\b|\s*$)",
            p, re.IGNORECASE | re.DOTALL)
        if mdf:
            cons.append({"kind": "default", "col": name,
                         "expr": mdf.group("e").strip()})
            p = (p[:mdf.start()] + p[mdf.end():]).strip()
        if re.search(r"\bPRIMARY\s+KEY\b", p, re.IGNORECASE):
            cons.append({"kind": "unique", "cols": [name], "pk": True})
            cons.append({"kind": "not_null", "col": name})
            p = re.sub(r"\s*PRIMARY\s+KEY\b", "", p, flags=re.IGNORECASE)
        if re.search(r"\bNOT\s+NULL\b", p, re.IGNORECASE):
            cons.append({"kind": "not_null", "col": name})
            # the NOT NULL text itself is stripped by _schema_to_spark_ddl
        if re.search(r"\bUNIQUE\b", p, re.IGNORECASE):
            cons.append({"kind": "unique", "cols": [name]})
            p = re.sub(r"\s*\bUNIQUE\b", "", p, flags=re.IGNORECASE)
        parts_out.append(p)
    return ", ".join(parts_out), cons


def _schema_to_spark_ddl(inner: str) -> str:
    """Column-definition list → Spark DDL schema string. Maps DuckDB's
    type-alias fan (bare VARCHAR, TEXT, INT4/INT8, HUGEINT, BOOL, REAL,
    DATETIME, …) onto Spark spellings; drops NOT NULL (snapshot tables
    don't enforce constraints — same as parquet)."""
    cols = []
    for part in sqltext.split_top_commas(inner):
        part = re.sub(r"\s+NOT\s+NULL\b", "", part, flags=re.IGNORECASE)

        # map only the BASE TYPE token (first word after the column
        # name, with an optional (p[,s]) parameter) — token-wide mapping
        # would corrupt words inside DEFAULT string literals. NUMERIC/
        # DEC(p,s) keep the user's precision/scale (bare-NUMERIC only
        # gets the DECIMAL(18,3) default); VARCHAR(n) lengths drop.
        # the column name may be a backtick-quoted identifier with
        # spaces (`a b` — the qid normalizer's output for "a b")
        mcol = re.match(r"^(\s*(?:`[^`]*`|\S+)\s+)"
                        r"([A-Za-z_][A-Za-z0-9_]*"
                        r"(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?"
                        r"(?:\s*\[\s*\])*)(.*)$",
                        part, re.DOTALL)
        if mcol:
            mapped = _map_duck_type(mcol.group(2))
            if mapped is not None:
                part = mcol.group(1) + mapped + mcol.group(3)
        cols.append(part)
    return ", ".join(cols)


def _parse_copy_options(opts: str | None) -> dict:
    """Parse a DuckDB COPY options list (``FORMAT csv, HEADER, DELIMITER
    '|', PARTITION_BY (a, b)``) into a lowercase-key dict. Splits on
    top-level commas only, so parenthesized value lists stay intact."""
    out: dict = {}
    for part in sqltext.split_top_commas(opts or ""):
        m = re.match(r"^(\w+)\s*(.*)$", part, re.DOTALL)
        if not m:
            raise ValueError(f"COPY: cannot parse option {part!r}")
        key, val = m.group(1).lower(), m.group(2).strip()
        if key in ("sep", "separator"):
            key = "delimiter"
        if key == "partition_by":
            cols = val[1:-1] if val.startswith("(") and val.endswith(")") else val
            out[key] = [c.strip().strip("'\"") for c in cols.split(",") if c.strip()]
        elif key == "header":
            out[key] = val == "" or val.strip("'\"").lower() in ("true", "1", "on")
        elif val == "":
            out[key] = True
        else:
            # unquote ONE layer precisely — a generic strip("'\"")
            # empties a QUOTE '"' value (r9)
            if len(val) >= 2 and val[0] == val[-1] and val[0] in "'\"":
                val = val[1:-1].replace(val[0] * 2, val[0])
            out[key] = val.lower() if key == "format" else val
    return out


def split_statements(script: str) -> list[str]:
    """Split a multi-statement SQL script on its top-level semicolons
    (``sqltext``'s rule: none inside a literal, quoted identifier or
    comment)."""
    stmts, last = [], 0
    for m in sqltext.top_level_finditer(script, ";"):
        stmts.append(script[last:m.start()])
        last = m.end()
    stmts.append(script[last:])
    return [s for s in (x.strip() for x in stmts) if s]
