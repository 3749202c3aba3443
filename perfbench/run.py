#!/usr/bin/env python3
"""Closed-loop benchmark of duckdb_read_spark through its public API.

    python3 perfbench/run.py --workload analytic|dml|pipeline --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. One process, one client thread, no think
time: the harness generates the sf0.01 fixtures from the seed, builds
``Engine(master="local[n]", warehouse_dir=...)`` the way a user does
(n = min(4, nproc)) three times over, runs every distinct op once to warm
up, then times round(--seconds / PASS_S) whole passes. Every timed result
is checked against DuckDB after the window. The last stdout line is one
JSON object: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (see perfbench/README.md).
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_CYCLES = 3


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("analytic", "dml", "pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-wrong", type=int, choices=(0, 1), default=0,
                    help="self-test: corrupt one timed result before the check")
    return ap.parse_args()


def _prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout.
    Must run before pyspark starts the JVM."""
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    java = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + java).strip()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


# -- process tree -------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _tree_peak_rss_mb() -> float:
    """Sum of each live process's peak RSS (VmHWM) over this process and its
    descendants: the Python driver, the JVM and the Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def _stop_spark(spark) -> None:
    """Stop the session and the JVM gateway, then wait for every process
    this run started to end."""
    from pyspark import SparkContext

    pids = _descendants(os.getpid())
    try:
        spark.stop()
    except Exception:
        pass
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        if gw is not None:
            gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in pids:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# -- the run ------------------------------------------------------------------

def _pct(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo, hi = int(k), min(int(k) + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def main() -> None:
    args = _parse()
    if not (ROOT / "duckdb_read_spark" / "__init__.py").is_file():
        _fail(f"no duckdb_read_spark package next to {HERE.name}/; run from a checkout")
    load1_start = os.getloadavg()[0]
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    out_dir = ROOT / ".perfbench" / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    _prepare_env(work)
    sys.path.insert(0, str(ROOT))
    sys.path.insert(1, str(HERE))

    import duckdb_read_spark

    if Path(duckdb_read_spark.__file__).resolve().parent != ROOT / "duckdb_read_spark":
        _fail(f"imported {duckdb_read_spark.__file__}, not the checkout's package")
    from duckdb_read_spark import Engine

    import datagen
    from spans import Tracer
    from workloads import FAMILIES, WORKLOADS, Record

    try:
        nproc = len(os.sched_getaffinity(0))
    except AttributeError:
        nproc = os.cpu_count() or 1
    master = f"local[{min(4, nproc)}]"
    sf_dir = datagen.write(args.seed, str(work / "data"))
    wl = WORKLOADS[args.workload](args.seed, sf_dir)
    tracer = Tracer() if args.trace else None
    if tracer:
        tracer.install()

    # -- set-up: the same session set-up SETUP_CYCLES times -----------------
    cycles: list[float] = []
    engines = []  # kept alive: per-session caches are keyed by id()
    eng = None
    for k in range(SETUP_CYCLES):
        t0 = time.perf_counter() if k else PROCESS_START
        if eng is not None:
            eng.spark.stop()
        if tracer:
            tracer.op = f"setup{k}"
        eng = Engine(master=master, warehouse_dir=str(work / f"warehouse{k}"))
        eng.register_fixture_dir(sf_dir)
        wl.setup(eng)
        cycles.append(time.perf_counter() - t0)
        engines.append(eng)
    if tracer:
        tracer.remove()
    sc = eng.spark.sparkContext

    def run_op(pass_no: int, pos: int, op, traced: bool) -> Record:
        """One op: the API call, then collect(). A traced op also records
        its spans, with one Spark job group per phase."""
        rec = Record(pass_no, pos, op, traced=traced)
        op_id = rec.op_id
        if traced:
            tracer.op = op_id
            sc.setJobGroup(op_id + ":plan", op.name)
            root = tracer.begin("op")
            plan = tracer.begin("op.plan")
        t0 = time.perf_counter()
        try:
            df = op.call(eng)
            t1 = time.perf_counter()
            if traced:
                tracer.end(plan)
                sc.setJobGroup(op_id + ":exec", op.name)
                act = tracer.begin("collect")
            rec.rows = df.collect()
            t2 = time.perf_counter()
            rec.plan_s, rec.total_s = t1 - t0, t2 - t0
            if traced:
                tracer.end(act)
                tracer.end(root)
                rec.phases = _phases(df)
        except Exception as exc:  # counted as a failed op
            rec.error = f"{type(exc).__name__}: {exc}"[:500]
            rec.total_s = time.perf_counter() - t0
            if traced:
                tracer.unwind()
        return rec

    def run_pass(pass_no: int, ops, traced: bool, probes: int = 0) -> list[Record]:
        if traced:
            tracer.install()
        recs = []
        for pos, op in enumerate(ops):
            rec = run_op(pass_no, pos, op, traced)
            # schema probes: the same call again without collect(), for
            # more plan-time samples than one per op
            for _ in range(probes if rec.error is None else 0):
                t0 = time.perf_counter()
                op.call(eng)
                rec.probe_plan_s.append(time.perf_counter() - t0)
            recs.append(rec)
        if traced:
            tracer.remove()
            sc.setJobGroup("harness", "between passes")
        wl.after_pass(eng, pass_no)
        return recs

    # -- warm-up: every distinct op once -------------------------------------
    t0 = time.perf_counter()
    warm = run_pass(0, wl.warmup_pass(), False)
    warmup_s = time.perf_counter() - t0
    setup_s = statistics.median(cycles) + warmup_s

    # -- timed window: a fixed number of whole passes, about --seconds of work
    # on 4 cores. A traced run alternates untraced and traced passes, with
    # untraced ones on both sides, so the warming trend cancels out of the
    # overhead figure ---------------------------------------------------------
    n_passes = max(3 if tracer else 1, round(args.seconds / wl.PASS_S))
    gc0 = _gc_ms(eng.spark) if tracer else 0.0
    records: list[Record] = []
    timed_s = 0.0
    pass_s: list[float] = []
    for pass_no in range(1, n_passes + 1):
        traced = bool(tracer) and pass_no % 2 == 0
        recs = run_pass(pass_no, wl.make_pass(pass_no), traced,
                        0 if traced else wl.PLAN_PROBES)
        pass_s.append(sum(r.total_s for r in recs))
        timed_s += pass_s[-1]
        records.extend(recs)
    gc_ms = _gc_ms(eng.spark) - gc0 if tracer else 0.0
    rss_mb = _tree_peak_rss_mb()

    # -- traced probes: ops too slow for every pass, run once each ----------
    probes: list[Record] = []
    if tracer and wl.PROBES:
        tracer.install()
        probes = [run_op(-1, i, wl.op(name), True) for i, name in enumerate(wl.PROBES)]
        tracer.remove()

    # -- correctness, outside the timed window --------------------------------
    if args.plant_wrong and records:
        victim = next((r for r in records if r.rows), records[0])
        victim.rows = (victim.rows or []) + [tuple(range(7))]
    wl.check(records, warm)
    if probes:
        wl.check(probes, [])
    failed = sum(1 for r in records + probes if not r.ok)
    attempted = len(records) + len(probes)
    untraced = [r for r in records if not r.traced]

    # Each distinct op's best time over its repetitions first: contention
    # from other tenants only ever adds time, so the best of N is what a
    # burst during part of the run moves least.
    by_op: dict[str, list[Record]] = {}
    for r in untraced:
        by_op.setdefault(r.op.name, []).append(r)
    op_total = {n: min(r.total_s for r in rs) for n, rs in by_op.items()}
    op_plan = {n: min(p for r in rs for p in (r.plan_s, *r.probe_plan_s))
               for n, rs in by_op.items()}
    ok_share = sum(1 for r in records if r.ok) / len(records)
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (1000 * _pct(list(op_total.values()), 0.5), "ms"),
        "ops_per_s": (ok_share * len(op_total) / sum(op_total.values()), "1/s"),
        "plan_p50_ms": (1000 * _pct(list(op_plan.values()), 0.5), "ms"),
    }
    load1_end = os.getloadavg()[0]
    meta = {
        "workload": args.workload, "seed": args.seed, "master": master,
        "nproc": nproc, "load1_start": load1_start, "load1_end": load1_end,
        "passes": n_passes, "timed_s": timed_s, "pass_s": pass_s, "setup_cycles_s": cycles,
        "warmup_s": warmup_s, "error_rate": failed / attempted if attempted else 0.0,
        "latency_p90_ms": 1000 * _pct([r.total_s for r in untraced], 0.9),
        "samples": len(untraced), "rss_peak_mb": rss_mb,
        "op_best_ms": {n: 1000 * v for n, v in sorted(op_total.items())},
        "errors": [f"{r.op.name}: {r.error or 'wrong result'}"
                   for r in records + probes if not r.ok][:10],
    }
    if tracer:
        layers, breakdown = _per_layer(tracer, sc, records, probes, warmup_s, gc_ms,
                                       rss_mb, FAMILIES, wl.name)
        metrics = layers
        trace_file = out_dir / f"trace-{args.workload}-seed{args.seed}.json"
        with open(trace_file, "w") as f:
            json.dump({"meta": meta, "per_layer": {k: v[0] for k, v in layers.items()},
                       "end_to_end": {k: v[0] for k, v in e2e.items()},
                       "ops": breakdown, "spans": tracer.dump()}, f, indent=1, default=str)
        meta["trace_file"] = str(trace_file.relative_to(ROOT))
    else:
        metrics = e2e

    _stop_spark(eng.spark)
    shutil.rmtree(work, ignore_errors=True)
    print("# meta " + json.dumps(meta, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def _phases(df) -> dict[str, float]:
    """QueryPlanningTracker phase durations (ms) of the collected plan."""
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        return {k: float(phases.apply(k).durationMs()) for k in ("optimization", "planning")
                if phases.contains(k)}
    except Exception:
        return {}


def _gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(max(0, b.getCollectionTime()) for b in beans))


def _jobs(sc, group: str) -> tuple[int, int, int]:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else ()):
            stages += 1
            si = st.getStageInfo(s)
            tasks += si.numTasks if si else 0
    return len(jobs), stages, tasks


def _per_layer(tracer, sc, records, probes, warmup_s, gc_ms, rss_mb, families, workload):
    """Per-layer metrics (per traced op unless named otherwise) and the
    per-op breakdown, from the spans of the traced passes."""
    traced = [r for r in records if r.traced]
    untraced = [r for r in records if not r.traced]
    spans_by_op = tracer.by_op()

    per_rec = {}
    for r in traced + probes:
        oid = r.op_id
        lt = tracer.layer_times(spans_by_op.get(oid, []))
        plan_jobs = _jobs(sc, oid + ":plan")
        exec_jobs = _jobs(sc, oid + ":exec")
        ph = r.phases
        per_rec[oid] = {
            "name": r.op.name, "pass": r.pass_no, "pos": r.pos, "kind": r.op.kind,
            "latency_ms": 1000 * r.total_s, "plan_ms": 1000 * r.plan_s,
            "engine.sql.self_ms": 1000 * lt.get("engine.sql.self", 0.0),
            "engine.sql.calls": lt.get("engine.sql.calls", 0),
            "dialect.rewrite_ms": 1000 * lt.get("dialect.rewrite", 0.0),
            "dialect.tokenize.calls": tracer.counts[(oid, "dialect.tokenize")],
            "spark.analyze_ms": 1000 * lt.get("spark.sql", 0.0),
            "spark.optimize_ms": ph.get("optimization", 0.0),
            "spark.planning_ms": ph.get("planning", 0.0),
            "spark.exec_ms": max(0.0, 1000 * lt.get("collect", 0.0)
                                 - ph.get("optimization", 0.0) - ph.get("planning", 0.0)),
            "spark.jobs_in_plan": plan_jobs[0],
            "spark.jobs": plan_jobs[0] + exec_jobs[0],
            "spark.stages": plan_jobs[1] + exec_jobs[1],
            "spark.tasks": plan_jobs[2] + exec_jobs[2],
            "snapshots.write_table_ms": 1000 * lt.get("snapshots.write_table", 0.0),
            "snapshots.read_log_ms": 1000 * lt.get("snapshots.read_log", 0.0),
            "snapshots.read_log.calls": lt.get("snapshots.read_log.calls", 0),
            "snapshots.read_log.entries": tracer.extra_sum(spans_by_op.get(oid, []),
                                                           "snapshots.read_log"),
            "snapshots.file_probe_ms": 1000 * lt.get("snapshots.file_probe", 0.0),
            "op.plan_ms": 1000 * lt.get("op.plan", 0.0),
            "collect_ms": 1000 * lt.get("collect", 0.0),
        }
    timed = [per_rec[r.op_id] for r in traced]

    def mean(key, rows=timed):
        return sum(x[key] for x in rows) / max(1, len(rows))

    commits = [x for x in timed if x["kind"] == "commit"]
    layers = {
        "engine.init_ms": (1000 * _median_span(tracer, "engine.init"), "ms"),
        "catalog.register_ms": (1000 * _median_span(tracer, "catalog.register"), "ms"),
        "engine.sql.self_ms": (mean("engine.sql.self_ms"), "ms"),
        "engine.sql.calls": (mean("engine.sql.calls"), "count"),
        "dialect.rewrite_ms": (mean("dialect.rewrite_ms"), "ms"),
        "dialect.tokenize.calls": (mean("dialect.tokenize.calls"), "count"),
        "spark.analyze_ms": (mean("spark.analyze_ms"), "ms"),
        "spark.optimize_ms": (mean("spark.optimize_ms"), "ms"),
        "spark.planning_ms": (mean("spark.planning_ms"), "ms"),
        "spark.exec_ms": (mean("spark.exec_ms"), "ms"),
        "spark.jobs": (mean("spark.jobs"), "count"),
        "spark.stages": (mean("spark.stages"), "count"),
        "spark.tasks": (mean("spark.tasks"), "count"),
        "jvm.gc_ms": (gc_ms, "ms"),
        "snapshots.write_table_ms": (mean("snapshots.write_table_ms"), "ms"),
        "snapshots.read_log_ms": (mean("snapshots.read_log_ms"), "ms"),
        "snapshots.read_log.calls": (mean("snapshots.read_log.calls"), "count"),
        "snapshots.read_log.entries": (
            sum(x["snapshots.read_log.entries"] for x in commits) / len(commits)
            if commits else 0.0, "count"),
        "snapshots.file_probe_ms": (mean("snapshots.file_probe_ms"), "ms"),
    }
    for fam in families:
        rows = [per_rec[r.op_id] for r in traced if r.op.family == fam]
        layers[f"operators.{fam}.plan_ms"] = (mean("op.plan_ms", rows), "ms")
        layers[f"operators.{fam}.exec_ms"] = (mean("collect_ms", rows), "ms")
    layers["warmup_s"] = (warmup_s, "s")
    layers["rss_peak_mb"] = (rss_mb, "MB")
    for metric, attr in (("latency", "total_s"), ("plan", "plan_s")):
        p50 = [1000 * _pct([getattr(r, attr) for r in rs], 0.5) for rs in (traced, untraced)]
        layers[f"trace.overhead.{metric}_p50_ms"] = (p50[0] - p50[1], "ms")

    breakdown: dict[str, dict] = {}
    for x in list(per_rec.values()):
        b = breakdown.setdefault(x["name"], {"n": 0})
        b["n"] += 1
        for k, v in x.items():
            if isinstance(v, (int, float)) and k not in ("pass", "pos"):
                b[k] = b.get(k, 0.0) + v
    for b in breakdown.values():
        for k in list(b):
            if k != "n":
                b[k] = round(b[k] / b["n"], 3)
    if workload == "dml":
        breakdown["epoch_halves"] = _epoch_halves(timed)
    return layers, breakdown


def _median_span(tracer, name: str) -> float:
    durs = [e - s for n, s, e, *_ in tracer.spans if n == name and e is not None]
    return statistics.median(durs) if durs else 0.0


def _epoch_halves(timed: list[dict]) -> dict:
    """dml latency and log-read cost in the first and second half of each
    epoch, so growth with the version count stays visible."""
    out = {}
    by_pass: dict[int, list[dict]] = {}
    for x in timed:
        by_pass.setdefault(x["pass"], []).append(x)
    halves: dict[str, list[dict]] = {"first": [], "second": []}
    for xs in by_pass.values():
        xs.sort(key=lambda x: x["pos"])
        mid = len(xs) // 2
        halves["first"] += xs[:mid]
        halves["second"] += xs[mid:]
    for h, xs in halves.items():
        commits = [x for x in xs if x["kind"] == "commit"]
        out[h] = {
            "ops": len(xs),
            "latency_p50_ms": round(_pct([x["latency_ms"] for x in xs], 0.5), 3),
            "commit_latency_p50_ms": round(_pct([x["latency_ms"] for x in commits], 0.5), 3),
            "read_log_ms_per_commit": round(sum(x["snapshots.read_log_ms"] for x in commits)
                                            / max(1, len(commits)), 3),
            "read_log_entries_per_commit": round(sum(x["snapshots.read_log.entries"]
                                                     for x in commits) / max(1, len(commits)), 3),
        }
    return out


if __name__ == "__main__":
    main()
