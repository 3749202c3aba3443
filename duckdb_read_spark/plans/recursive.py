"""WITH RECURSIVE input materialization (VERDICT r5 "what's wrong" #3).

Spark 4's recursive CTE execution re-evaluates any non-recursive CTE
referenced inside the recursive step's body on EVERY iteration — for a
successor relation built by a self-join aggregate (the q94 shape) that
re-evaluation is ~half the query's wall time at 27 iterations. DuckDB
materializes such CTEs once; this pass does the same at the text level:

* parse the ``WITH RECURSIVE`` CTE list;
* every non-recursive CTE referenced by a recursive CTE's body is
  executed once, ``cache()``d, registered as a temp view, and its
  references rewritten — the recursion then probes the cached result per
  iteration instead of replaying the CTE's plan;
* anything unparseable falls back to the untouched text (conservative).

Scale shape: the materialized CTE is exactly the relation the recursion
would rebuild depth-times — caching it trades one extra pass of executor
storage for depth× plan replays. The remaining per-iteration cost is
Spark's own planning+job-launch floor (~70 ms/iteration measured), which
is intrinsic to iterative execution — documented in SCALE.md §2 (D7).

Caches from the session's previous recursive query are unpersisted on
its next one (bounded memory; the views are tiny by recursion's nature).
They live on the session's ``catalog.SessionState``, so a recursive
query in one session leaves another session's cached inputs alone.
"""

from __future__ import annotations

import re

from .. import catalog, sqltext

_VIEW_N = [0]

# Materialized recursion inputs at or below this row count are collapsed
# to a single cached partition: the recursion re-reads them once per
# iteration, so per-iteration task count scales with their partition
# count, and ~100k rows (a few MB) is comfortably a one-task read. Above
# it, the distributed layout stands (scale-adaptive, not fixture-tuned).
_COALESCE_ROWS = 100_000
# ... AND at or below this many cached bytes (ADVICE r12: a 100k-row
# relation of long text/binary rows would otherwise serialize every
# per-iteration probe onto one task). The size comes from the cache's
# own accumulated stats — already materialized by the count, no extra
# job.
_COALESCE_BYTES = 64 * 1024 * 1024


def _ref_positions(name: str, text: str):
    """Spans where ``name`` can be a TABLE reference: word-bounded, not
    preceded by ``.`` (that's a qualified column like ``e.name``), not
    preceded by the keyword ``AS`` (that's an alias/output-column
    definition), and not inside a string literal or line comment.
    Rewriting those other occurrences corrupts valid queries (an
    ``e.lvl`` column ref sharing a CTE's name would become
    ``e.__rec_cte_1``)."""
    for mm in sqltext.finditer(rf"\b{re.escape(name)}\b", text,
                               re.IGNORECASE):
        pre = text[:mm.start()].rstrip()
        if pre.endswith(".") or re.search(r"\bAS$", pre, re.IGNORECASE):
            continue
        yield mm.span()


def _refs(name: str, text: str) -> bool:
    return next(iter(_ref_positions(name, text)), None) is not None


def materialize_recursive_inputs(spark, query: str) -> str:
    """Rewrite ``query`` (Spark dialect) so the recursion joins cached
    inputs; returns the original text when nothing applies."""
    m = re.match(r"^\s*WITH\s+RECURSIVE\b", query, re.IGNORECASE)
    if not m:
        return query
    pos = m.end()
    ctes: list[tuple[str, str]] = []
    while True:
        mh = re.match(r"\s*(?:,\s*)?([A-Za-z_]\w*)\s+AS\s*\(",
                      query[pos:], re.IGNORECASE)
        if not mh:
            break
        open_idx = pos + mh.end() - 1
        try:
            close = sqltext.match_paren(query, open_idx)
        except ValueError:
            return query
        ctes.append((mh.group(1), query[open_idx + 1:close]))
        pos = close + 1
    final = query[pos:].strip()
    if not ctes or not final.upper().startswith(("SELECT", "(")):
        return query
    recursive = {n for n, b in ctes if _refs(n, b)}
    if not recursive:
        return query
    needed: set[str] = set()
    for n, b in ctes:
        if n in recursive:
            for n2, _ in ctes:
                if n2 != n and n2 not in recursive and _refs(n2, b):
                    needed.add(n2)
    # a candidate must not itself depend on a recursive CTE
    needed = {n for n, b in ctes if n in needed and not any(
        _refs(r, b) for r in recursive)}
    if not needed:
        return query
    cached = catalog.session_state(spark).recursive_inputs
    for df in cached:
        try:
            df.unpersist()
        except Exception:
            pass
    cached.clear()
    subst: dict[str, str] = {}

    def apply_subst(text: str) -> str:
        for old, new in subst.items():
            # replace back-to-front so earlier spans stay valid
            for a, b in reversed(list(_ref_positions(old, text))):
                text = text[:a] + new + text[b:]
        return text

    remaining: list[tuple[str, str]] = []
    for name, body in ctes:
        body = apply_subst(body)
        if name in needed:
            try:
                df = spark.sql(body).cache()
                n = df.count()  # materialize once
                try:
                    # cached-stats bytes (exact after the count — the
                    # InMemoryRelation accumulated its batch sizes);
                    # guards the row gate against wide text/binary rows
                    nbytes = int(df._jdf.queryExecution()
                                 .optimizedPlan().stats().sizeInBytes())
                except Exception:
                    nbytes = 0  # stats unavailable — keep the row gate
                if n <= _COALESCE_ROWS and nbytes <= _COALESCE_BYTES:
                    # size-adaptive layout (r12, guide §2): the recursion
                    # probes this relation EVERY iteration, and a tiny
                    # input cached as shuffle-partition-many blocks makes
                    # each iteration launch that many probe tasks.
                    # Collapse small inputs to one partition (reads the
                    # already-cached blocks, one cheap pass); large inputs
                    # keep their distributed layout. Measured q94:
                    # med 9.5 → 6.7 s at sf0.1 / 27 iterations.
                    small = df.coalesce(1).cache()
                    small.count()
                    df.unpersist()
                    df = small
            except Exception:
                return query  # conservative fallback
            _VIEW_N[0] += 1
            view = f"__rec_cte_{_VIEW_N[0]}"
            df.createOrReplaceTempView(view)
            cached.append(df)
            subst[name] = view
        else:
            remaining.append((name, body))
    final = apply_subst(final)
    if not remaining:
        return final
    with_list = ", ".join(f"{n} AS ({b})" for n, b in remaining)
    return f"WITH RECURSIVE {with_list} {final}"
