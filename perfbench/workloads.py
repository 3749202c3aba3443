"""The three benchmark workloads and their correctness checks.

Each workload turns the seed into passes of ops. An op is one call into the
library's public API whose result the harness then fetches with
``collect()``. Every pass of a workload runs the same multiset of ops; the
seed only permutes their order and picks the DML literals. The checks run
after the timed window and compare every timed result with DuckDB.
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass, field
from typing import Callable

from duckdb_read_spark.conf import TABLES
from duckdb_read_spark.op_queries import OP_QUERIES
from duckdb_read_spark.oracle import duckdb_rows, normalize_rows
from duckdb_read_spark.queries import QUERIES

# Declared queries timed in the analytic pass (DuckDB text through
# Engine.sql). A subset of the 62 so that a run fits its time budget: scan
# and aggregate, a 5-way join, window functions, and dates, arrays, JSON
# and maps in the DuckDB-only syntax the rewrite handles.
ANALYTIC_OPS = (
    "q05_pricing_summary",
    "q07_agg_filter_clause",
    "q14_multiway_star",
    "q24_laglead",
    "q29_topk_per_group",
    "q36_date_arith",
    "q40_array_ops",
    "q43_json_extract",
    "q98_map_ops",
)
# Probes run once each, traced, after the timed window of a traced run:
# too slow for every pass, but the per-op breakdown must show them.
ANALYTIC_PROBES = ("q50_asof_join", "q94_recursive_chain")

# Operator runners timed in the pipeline pass, with their operator family.
PIPELINE_OPS = {
    "q54_exact_dup_groups": "dedup",
    "q63_cosine_topk_pandas": "similarity",
    "q84_scrub_text": "text",
    "q106_decode_audio": "multimodal",
    "q81_hash_sample": "sampling",
}
# q80 (ROADMAP's duplicate-cluster item) takes 2-3 s per call: traced probe.
PIPELINE_PROBES = {"q80_dup_clusters": "dedup"}
FAMILIES = ("dedup", "similarity", "text", "multimodal", "sampling")

# dml: cycles per epoch; the table is rebuilt after every epoch so each
# epoch covers the same version range (1 .. 1 + 4 * DML_CYCLES).
DML_CYCLES = 2
DML_TABLE = "li"
DML_COLUMNS = ("l_orderkey, l_partkey, l_linenumber, l_quantity, "
               "l_extendedprice, l_discount, l_shipdate")
DML_BUILD = f"CREATE TABLE {DML_TABLE} AS SELECT {DML_COLUMNS} FROM lineitem"
DML_STATE = (f"SELECT COUNT(*) AS n, SUM(l_orderkey) AS k, SUM(l_quantity) AS q, "
             f"SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS p, "
             f"MIN(l_shipdate) AS d0, MAX(l_shipdate) AS d1 FROM {DML_TABLE}")


@dataclass
class Op:
    name: str                          # declared op name, e.g. q05_pricing_summary
    call: Callable                     # engine -> lazy DataFrame
    kind: str = "read"                 # read | commit
    family: str | None = None          # operator family (pipeline)
    duck_sql: str | None = None        # DuckDB replay text (dml)
    version: int | None = None         # table version a commit writes (dml)


@dataclass
class Record:
    pass_no: int
    pos: int
    op: Op
    plan_s: float = 0.0
    total_s: float = 0.0
    rows: list | None = None
    error: str | None = None
    traced: bool = False
    ok: bool | None = None
    phases: dict = field(default_factory=dict)  # planning phases (traced)
    probe_plan_s: list = field(default_factory=list)  # schema-probe plan times

    @property
    def op_id(self) -> str:
        return f"{self.pass_no}:{self.pos}:{self.op.name}"


def rows_equal(got: list[tuple], want: list[tuple]) -> bool:
    """Normalized rows equal, allowing one unit in the sixth decimal where
    two engines round a float to opposite sides of a boundary."""
    if got == want:
        return True
    if len(got) != len(want):
        return False
    for a, b in zip(got, want):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if x == y:
                continue
            if (isinstance(x, float) and isinstance(y, float)
                    and math.isclose(x, y, rel_tol=1e-9, abs_tol=1.5e-6)):
                continue
            return False
    return True


def duck_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


class Workload:
    name = ""
    # seconds one warm pass takes on 4 cores; a run times
    # round(--seconds / PASS_S) whole passes, so its work is fixed
    PASS_S = 1.0
    PROBES: tuple[str, ...] = ()
    # schema probes per timed op: the same API call again without collect(),
    # so that plan_p50_ms rests on more than one sample per op (dml has
    # none: its call commits)
    PLAN_PROBES = 0

    def __init__(self, seed: int, sf_dir: str) -> None:
        self.seed = seed
        self.sf_dir = sf_dir

    def setup(self, eng) -> None:
        """Workload-specific set-up, timed inside each set-up cycle."""

    def make_pass(self, pass_no: int) -> list[Op]:
        raise NotImplementedError

    def warmup_pass(self) -> list[Op]:
        """Every distinct op once."""
        return self.make_pass(0)

    def after_pass(self, eng, pass_no: int) -> None:
        """Untimed work between passes."""

    def check(self, records: list[Record], warmup: list[Record]) -> None:
        raise NotImplementedError

    def _permuted(self, items, pass_no: int) -> list:
        items = list(items)
        random.Random(self.seed * 1000 + pass_no).shuffle(items)
        return items


class Analytic(Workload):
    name = "analytic"
    PASS_S = 3.0
    PLAN_PROBES = 3
    PROBES = ANALYTIC_PROBES

    def make_pass(self, pass_no: int) -> list[Op]:
        return [self.op(n) for n in self._permuted(ANALYTIC_OPS, pass_no)]

    def op(self, name: str) -> Op:
        spec = QUERIES[name]
        text = spec.duckdb or spec.spark
        return Op(name, lambda eng, t=text: eng.sql(t, dialect="duckdb"))

    def check(self, records, warmup) -> None:
        con = duck_connection(self.sf_dir)
        expected: dict[str, list] = {}
        for r in records:
            if r.error is not None:
                r.ok = False
                continue
            if r.op.name not in expected:
                expected[r.op.name] = duckdb_rows(con, QUERIES[r.op.name].duckdb_sql)
            r.ok = rows_equal(normalize_rows(r.rows), expected[r.op.name])
        con.close()


class Pipeline(Workload):
    name = "pipeline"
    PASS_S = 3.2
    PLAN_PROBES = 1
    PROBES = tuple(PIPELINE_PROBES)

    def make_pass(self, pass_no: int) -> list[Op]:
        return [self.op(n) for n in self._permuted(PIPELINE_OPS, pass_no)]

    def op(self, name: str) -> Op:
        runner = OP_QUERIES[name].runner
        return Op(name, lambda eng: runner(eng.spark, self.sf_dir),
                  family={**PIPELINE_OPS, **PIPELINE_PROBES}[name])

    def check(self, records, warmup) -> None:
        """Ops with a DuckDB twin are compared with it; the rows-only ops
        must return the rows they returned in the warm-up pass."""
        con = duck_connection(self.sf_dir)
        first = {r.op.name: normalize_rows(r.rows) for r in warmup
                 if r.error is None}
        expected: dict[str, list] = {}
        for r in records:
            if r.error is not None:
                r.ok = False
                continue
            got = normalize_rows(r.rows)
            twin = OP_QUERIES[r.op.name].duckdb_sql
            if twin is None:
                r.ok = r.op.name in first and got == first[r.op.name]
                continue
            if r.op.name not in expected:
                expected[r.op.name] = duckdb_rows(con, twin)
            r.ok = rows_equal(got, expected[r.op.name])
        con.close()


class Dml(Workload):
    """A versioned table built by CTAS from lineitem; each pass is one
    epoch of DML_CYCLES cycles, and the table is rebuilt after it."""

    name = "dml"
    PASS_S = 9.0

    def __init__(self, seed: int, sf_dir: str) -> None:
        super().__init__(seed, sf_dir)
        import pyarrow.parquet as pq

        col = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"),
                            columns=["l_orderkey"]).column(0)
        self.orderkeys = sorted(set(col.to_pylist()))

    def setup(self, eng) -> None:
        eng.sql(DML_BUILD, dialect="duckdb").collect()
        self.states: dict[int, list] = {}

    def after_pass(self, eng, pass_no: int) -> None:
        self.states[pass_no] = eng.sql(DML_STATE, dialect="duckdb").collect()
        eng.sql(f"DROP TABLE {DML_TABLE}", dialect="duckdb").collect()
        eng.sql(DML_BUILD, dialect="duckdb").collect()

    def warmup_pass(self) -> list[Op]:
        # one cycle already holds every distinct statement shape
        return self.make_pass(0, cycles=1)

    def make_pass(self, pass_no: int, cycles: int = DML_CYCLES) -> list[Op]:
        rng = random.Random(self.seed * 1000 + pass_no)
        # DELETE and MERGE keys are distinct existing keys, so that every
        # statement changes rows
        keys = rng.sample(self.orderkeys, 3 * cycles)
        ops: list[Op] = []
        version = 1  # CTAS writes version 1; every commit adds one
        t = DML_TABLE
        for c in range(cycles):
            rows = []
            for j in range(3):
                key = 1_000_000 + pass_no * 100 + c * 10 + j
                rows.append(
                    f"({key}, {rng.randrange(2000)}, {rng.randint(1, 7)}, "
                    f"{rng.randint(1, 50)}.0, {rng.randrange(90000, 10500000) / 100:.2f}, "
                    f"0.0{rng.randint(0, 9)}, DATE '{rng.randint(1995, 2001)}-"
                    f"{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}')")
            lo = rng.randrange(self.orderkeys[-1] - 19)
            dkey, *mk = keys[3 * c:3 * c + 3]
            mk.sort()
            mq = [rng.randint(1, 50) for _ in mk]
            src = (f"(SELECT {mk[0]} AS k, {mq[0]}.0 AS q UNION ALL "
                   f"SELECT {mk[1]}, {mq[1]}.0) s")
            stmts = [
                ("dml.insert", f"INSERT INTO {t} VALUES {', '.join(rows)}", None),
                ("dml.update", f"UPDATE {t} SET l_quantity = l_quantity + 1 "
                               f"WHERE l_orderkey BETWEEN {lo} AND {lo + 19}", None),
                ("dml.delete", f"DELETE FROM {t} WHERE l_orderkey = {dkey}", None),
                ("dml.merge", f"MERGE INTO {t} USING {src} ON {t}.l_orderkey = s.k "
                              f"WHEN MATCHED THEN UPDATE SET l_quantity = s.q",
                 # DuckDB 1.0 has no MERGE: replay it as the equivalent UPDATE
                 f"UPDATE {t} SET l_quantity = s.q FROM {src} "
                 f"WHERE {t}.l_orderkey = s.k"),
            ]
            for name, sql, duck in stmts:
                version += 1
                ops.append(Op(name, lambda eng, s=sql: eng.sql(s, dialect="duckdb"),
                              kind="commit", duck_sql=duck or sql,
                              version=version))
            grp = (f"SELECT l_linenumber, COUNT(*) AS n, SUM(l_quantity) AS q, "
                   f"SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS p FROM {t} "
                   f"GROUP BY l_linenumber ORDER BY l_linenumber")
            ops.append(Op("dml.group_read", lambda eng, s=grp: eng.sql(s, dialect="duckdb"),
                          duck_sql=grp))
            v = rng.randint(1, version)
            tt = (f"SELECT COUNT(*) AS n, SUM(l_quantity) AS q, "
                  f"SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS p "
                  f"FROM {t} VERSION AS OF {v}")
            ops.append(Op("dml.version_read", lambda eng, s=tt: eng.sql(s, dialect="duckdb"),
                          duck_sql=tt.replace(f" VERSION AS OF {v}", f"_v{v}")))
        return ops

    def check(self, records, warmup) -> None:
        """Replay every epoch's statements in DuckDB: each read must match
        the replayed state at its version, and at the epoch end the table's
        count and column sums must match."""
        con = duck_connection(self.sf_dir)
        by_pass: dict[int, list[Record]] = {}
        for r in records:
            by_pass.setdefault(r.pass_no, []).append(r)
        for pass_no, recs in by_pass.items():
            con.execute(f"DROP TABLE IF EXISTS {DML_TABLE}")
            con.execute(DML_BUILD)
            con.execute(f"CREATE OR REPLACE TABLE {DML_TABLE}_v1 AS SELECT * FROM {DML_TABLE}")
            for r in sorted(recs, key=lambda r: r.pos):
                op = r.op
                if op.kind == "commit":
                    con.execute(op.duck_sql)
                    con.execute(f"CREATE OR REPLACE TABLE {DML_TABLE}_v{op.version} "
                                f"AS SELECT * FROM {DML_TABLE}")
                    r.ok = r.error is None
                else:
                    r.ok = r.error is None and rows_equal(
                        normalize_rows(r.rows), duckdb_rows(con, op.duck_sql))
            state = self.states.get(pass_no)
            if state is None or not rows_equal(normalize_rows(state),
                                               duckdb_rows(con, DML_STATE)):
                # a wrong end state fails every commit of the epoch
                for r in recs:
                    if r.op.kind == "commit":
                        r.ok = False
        con.close()


WORKLOADS = {w.name: w for w in (Analytic, Dml, Pipeline)}
