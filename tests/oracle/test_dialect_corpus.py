"""The dialect rewriter's frozen corpus.

``goldens/dialect_corpus.json`` holds every distinct
``(sql, column_kinds)`` pair that ``to_spark_sql`` received during a full
run of this test suite, recorded before the rewriter moved onto the
shared lexer in ``sqltext.py``, with the output it gave then (or the
name of the exception it raised). Each entry is
``[sql, column_kinds as sorted [name, kind] pairs or null,
{"out": text} or {"error": exception name}]``.

A change to the rewriter must keep every output byte-identical. The file
is not regenerated to absorb a change: an output that changes as a fix
is pinned here, next to a test showing that the new output gives
DuckDB's result.
"""

from __future__ import annotations

import json
from pathlib import Path

from duckdb_read_spark.dialect import to_spark_sql

_CORPUS = Path(__file__).parent / "goldens" / "dialect_corpus.json"


def _rewrite(sql: str, kinds: list | None) -> dict:
    try:
        return {"out": to_spark_sql(
            sql, column_kinds=None if kinds is None else dict(kinds))}
    except Exception as e:  # noqa: BLE001 — the exception type is pinned
        return {"error": type(e).__name__}


def test_dialect_corpus_is_byte_identical():
    corpus = json.loads(_CORPUS.read_text(encoding="utf-8"))
    assert len(corpus) > 1000
    diffs = []
    for sql, kinds, want in corpus:
        got = _rewrite(sql, kinds)
        if got != want:
            diffs.append((sql, want, got))
    assert not diffs, (f"{len(diffs)} of {len(corpus)} rewrites changed; "
                       f"first: {diffs[0]!r}")
