"""In-memory span tracer for the traced benchmark run.

The layers are traced from outside: `install()` wraps the public entry
points of each layer (engine, catalog, dialect, Spark, snapshots) with
functions that record a span ``(name, start, end, parent, op)``; `remove()`
puts the originals back. Nothing in the library is edited. Spans stay in
memory until the run writes them out, and self time is computed from them
afterwards.
"""

from __future__ import annotations

import functools
import time
from collections import Counter, defaultdict


class Tracer:
    def __init__(self) -> None:
        # (name, start, end, parent index or -1, op id, extra)
        self.spans: list[list] = []
        self.counts: Counter = Counter()  # (op id, name) -> calls
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.op = "-"

    # -- recording ---------------------------------------------------------

    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.op, None])
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def end(self, idx: int, extra=None) -> None:
        span = self.spans[idx]
        span[2] = time.perf_counter()
        span[5] = extra
        self._stack.pop()

    def unwind(self) -> None:
        """Close every open span (after an exception in a traced op)."""
        while self._stack:
            self.end(self._stack[-1])

    def count(self, name: str) -> None:
        self.counts[(self.op, name)] += 1

    # -- patching ----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, extra=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper. ``extra``
        maps the call's result to a number kept with the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            idx = self.begin(name)
            result = None
            try:
                result = orig(*args, **kwargs)
                return result
            finally:
                self.end(idx, extra(result) if extra and result is not None else None)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def wrap_count(self, owner, attr: str, name: str) -> None:
        """Count calls only: for entry points called dozens of times per
        statement, where a span each would cost more than the call."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def counted(*args, **kwargs):
            self.count(name)
            return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, counted)

    def install(self) -> None:
        from pyspark.sql import SparkSession

        from duckdb_read_spark import dialect, engine, snapshots

        self.wrap(engine.Engine, "__init__", "engine.init")
        self.wrap(engine.Engine, "register_fixture_dir", "catalog.register")
        self.wrap(engine.Engine, "sql", "engine.sql")
        # engine.py imports to_spark_sql by name, so its binding is patched
        # as well as the module attribute other callers look up
        self.wrap(dialect, "to_spark_sql", "dialect.rewrite")
        self.wrap(engine, "to_spark_sql", "dialect.rewrite")
        self.wrap_count(dialect, "tokenize", "dialect.tokenize")
        self.wrap(SparkSession, "sql", "spark.sql")
        self.wrap(snapshots, "write_table", "snapshots.write_table")
        self.wrap(snapshots, "read_log", "snapshots.read_log", extra=len)
        self.wrap(snapshots, "snapshot_file_entries", "snapshots.file_probe")
        self.wrap(snapshots, "prune_by_stats", "snapshots.file_probe")

    def remove(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- analysis ----------------------------------------------------------

    def by_op(self) -> dict[str, list[int]]:
        out: dict[str, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            out[s[4]].append(i)
        return out

    def layer_times(self, idxs: list[int]) -> dict[str, float]:
        """Per span name: inclusive seconds of the outermost spans of that
        name (a span nested in one of the same name is not counted twice),
        plus ``<name>.self`` (time not spent in child spans) and
        ``<name>.calls``."""
        children: dict[int, float] = defaultdict(float)
        for i in idxs:
            s = self.spans[i]
            if s[3] >= 0 and s[2] is not None:
                children[s[3]] += s[2] - s[1]
        out: dict[str, float] = defaultdict(float)
        for i in idxs:
            name, start, end, parent = self.spans[i][:4]
            if end is None:
                continue
            dur = end - start
            out[name + ".calls"] += 1
            out[name + ".self"] += dur - children[i]
            if not self._has_ancestor(parent, name):
                out[name] += dur
        return dict(out)

    def extra_sum(self, idxs: list[int], name: str) -> float:
        return float(sum(self.spans[i][5] or 0 for i in idxs
                         if self.spans[i][0] == name))

    def _has_ancestor(self, parent: int, name: str) -> bool:
        while parent >= 0:
            if self.spans[parent][0] == name:
                return True
            parent = self.spans[parent][3]
        return False

    def dump(self) -> list[list]:
        return [[n, round(s, 6), None if e is None else round(e, 6), p, op, x]
                for n, s, e, p, op, x in self.spans]
