"""Canonical file-path comparison between Spark ``_metadata.file_path``
and local filesystem paths.

Spark renders ``_metadata.file_path`` as a Hadoop URI: ``file:`` scheme
plus a PERCENT-ENCODED path (space → %20, # → %23, % → %25, …), while
literal ``+`` stays raw (URI path charset). Joining that against a raw
``os.path.abspath`` silently matches NOTHING for any path containing an
encoded character — which for the deletion-vector/positional-join
anti-joins means deleted rows would quietly come back (review r6).

Canonical form: strip the scheme, protect raw ``+`` (Java's URLDecoder
would turn it into a space), then ``url_decode`` — the exact inverse of
any percent-encoding — yielding the bare absolute path that
``os.path.abspath`` produces on the Python side.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

_SCHEME_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*:/*"
_PLUS_RE = r"\+"


def decoded_file_path(col: Column) -> Column:
    """``_metadata.file_path`` (or any file URI column) → decoded bare
    absolute path, comparable to ``os.path.abspath`` output."""
    stripped = F.regexp_replace(col, _SCHEME_RE, "/")
    protected = F.regexp_replace(stripped, _PLUS_RE, "%2B")
    return F.url_decode(protected)


def sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal (backslash escapes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def decoded_file_path_sql(col: str) -> str:
    """``decoded_file_path`` as SQL text over the column expression
    ``col``, for filters built as one string."""
    return (f"url_decode(regexp_replace(regexp_replace({col}, "
            f"{sql_string(_SCHEME_RE)}, '/'), {sql_string(_PLUS_RE)}, "
            f"'%2B'))")
