"""pandrs_spark benchmark: one closed-loop client on a local[nproc]
session, each query built and then executed to the ``noop`` sink, one
at a time, checked against its DuckDB oracle.

Usage (from the repository root)::

    python3 perfbench/run.py --workload olap_warm --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (event log, job groups, spans). The last line of
standard output is one JSON object; the lines before it repeat every
metric by name and unit. Everything the run writes goes under
``.perfbench_run/`` at the repository root; a per-run detail file (pass
walls, warm-up trajectory, spans) stays there after the run.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field, replace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
RUN_DIR = os.path.join(ROOT, ".perfbench_run")

sys.path[:0] = [HERE, ROOT]
import procstat  # noqa: E402
import spans  # noqa: E402

@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    sf: str
    # True: catalog.enable_cache(warm=True), prebuilt plans and bench.py's
    # interactive profile (AQE off, few shuffle partitions). False: the
    # library-default session, plans built fresh from parquet every time.
    warm: bool
    warmup_passes: int  # untimed passes before the measured ones, in their session
    min_passes: int  # measured passes, however long --seconds is


def workloads() -> dict[str, Workload]:
    from bench import HEADLINE  # the historical headline, kept in one place

    HEADLINE = tuple(HEADLINE)
    # q230's k-core peeling is an eager checkpoint-per-round loop like
    # connected_components, at less than half the jobs of q143; q383
    # writes many small parquet files and compacts them.
    loops_io = ("q230_kcore_membership", "q383_small_file_compaction")
    return {
        "olap_warm": Workload(HEADLINE, "sf0.01", True, warmup_passes=1, min_passes=3),
        "loops_io": Workload(loops_io, "sf0.001", False, warmup_passes=0, min_passes=2),
        "olap_cold": Workload(HEADLINE, "sf0.01", False, warmup_passes=1, min_passes=3),
    }


WORKLOAD_NAMES = ("olap_warm", "loops_io", "olap_cold")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MiB",
}

PER_LAYER = {
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "operators.job_s": "s",
    "operators.driver_gap_s": "s",
    "operators.stages": "count",
    "operators.tasks": "count",
    "catalog.cache_fill_s": "s",
    "catalog.cached_mb": "MiB",
    "sources.read_mb": "MiB",
    "sources.write_mb": "MiB",
    "sources.files_written": "count",
    "sources.write_amp": "ratio",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.job_s": "s",
    "exec.driver_gap_s": "s",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.deser_s": "s",
    "exec.shuffle_write_mb": "MiB",
    "exec.shuffle_read_mb": "MiB",
    "exec.fetch_wait_s": "s",
    "exec.spill_mb": "MiB",
    "exec.python_mb": "MiB",
    "exec.slot_util": "ratio",
    "exec.skew_max": "ratio",
    "exec.failed_tasks": "count",
    "frame.released": "count",
    "frame.cache_left": "count",
    "jvm.gc_s": "s",
    "jvm.live_heap_mb": "MiB",
    "failed_frac": "ratio",
    "trace.orphan_jobs": "count",
    "bench.trace_overhead": "ratio",
    **{f"span.{layer}.self_s": "s" for layer in spans.SPAN_LAYERS},
}


@dataclass
class Pass:
    kind: str  # first | warmup | measured | traced
    wall: float = 0.0
    cpu: float = 0.0
    latencies: dict[str, float] = field(default_factory=dict)  # per query
    layer: dict[str, float] = field(default_factory=dict)  # traced passes
    root: int = -1  # bench.pass span of a traced pass


class Run:
    """One benchmark run: owns the session, the scratch tree and the
    failure counts."""

    def __init__(self, name: str, seed: int, seconds: float, traced: bool, sf: str | None = None):
        self.name, self.wl = name, workloads()[name]
        if sf:
            self.wl = replace(self.wl, sf=sf)
        self.seconds, self.traced = seconds, traced
        self.rng = random.Random(seed)
        self.sf_dir = os.path.join(DATA, self.wl.sf)
        self.scratch = os.path.join(RUN_DIR, "scratch")
        self.tmp = os.path.join(self.scratch, "tmp")
        self.warehouse = os.path.join(self.scratch, "warehouse")
        self.event_dir = os.path.join(self.scratch, "eventlog")
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.cache_left = 0
        self.passes: list[Pass] = []
        self.setups: list[float] = []
        self.tracer = spans.Tracer()
        self.catalyst: dict[str, dict[str, float]] = {}  # per query, traced runs
        self.spark = None
        self.plans: dict = {}
        self.fill_s = self.cached_mb = 0.0

    # --- environment ------------------------------------------------------

    def pin_environment(self) -> None:
        """Keep every file the run writes under RUN_DIR and size the
        session to the CPUs this process may run on."""
        shutil.rmtree(self.scratch, ignore_errors=True)
        for d in (self.tmp, self.warehouse, self.event_dir, os.path.join(self.scratch, "local")):
            os.makedirs(d)
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        # A fixed heap (with -Xms2g -Xmn512m below): under the 8g default
        # G1 resized heap and young generation at timing-dependent moments,
        # and the JVM's peak RSS varied by ±25 % between identical runs.
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.scratch, "local")
        tempfile.tempdir = None  # re-read TMPDIR
        os.chdir(self.scratch)

    def guard(self) -> dict:
        """bench.py's quiet-machine record. bench._load_guard itself waits
        up to 90 s for the 1-minute load to fall below 2, which a
        back-to-back run on 4 cores never sees, so only its probe is
        reused and the load is recorded, not waited for."""
        import bench

        load1 = os.getloadavg()[0]
        foreign = bench._foreign_spark_pids()
        return {
            "loadavg_1m_at_start": round(load1, 2),
            "cpus": os.cpu_count(),
            "foreign_spark_pids": foreign,
            "load_warning": bool(load1 > len(os.sched_getaffinity(0)) or foreign),
        }

    # --- session and set-up ----------------------------------------------

    def start(self, traced: bool) -> None:
        from pandrs_spark import catalog
        from pandrs_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": self.warehouse,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -Xms2g -Xmn512m",
        }
        if traced:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{self.name}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.cpus_effective = spark.sparkContext.defaultParallelism
        if self.wl.warm:
            t1 = time.perf_counter()
            catalog.enable_cache(warm=True, spark=spark, sf_dir=self.sf_dir)
            self.fill_s = time.perf_counter() - t1
            infos = spark._jsc.sc().getRDDStorageInfo()
            self.cached_mb = sum(i.memSize() + i.diskSize() for i in infos) / spans.MiB
            # bench.py's interactive profile
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(max(4, spark.sparkContext.defaultParallelism // 8)),
            )
            self.plans = {q: self.build(q) for q in self.wl.queries}
            if traced:
                self.catalyst = {q: self.force_plan(df, q) for q, df in self.plans.items()}
        self.setups.append(time.perf_counter() - t0)

    def stop(self) -> None:
        from pandrs_spark import catalog
        from pandrs_spark.frame import release_persisted

        self.plans = {}
        release_persisted()
        if self.wl.warm:
            catalog.disable_cache()
            self.check_cache_clean("teardown")
        self.spark.stop()
        self.spark = None

    def build(self, q: str):
        import __spark_entry__ as E

        return E.queries()[q](self.spark, self.sf_dir)

    def check_cache_clean(self, where: str) -> None:
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        if not cm.isEmpty():
            self.cache_left += 1
            self.fail(f"{where}: persisted-cache leak after release_persisted()")
            self.spark.catalog.clearCache()

    def fail(self, why: str) -> None:
        self.failed += 1
        self.failures.append(why)
        print(f"FAIL {self.name}: {why}", file=sys.stderr)

    # --- passes ----------------------------------------------------------

    def run_pass(self, kind: str, oracle=None) -> Pass:
        """Run every query once, in a seed-permuted order. ``oracle``
        switches the action to toPandas() and checks each result."""
        from pandrs_spark.frame import release_persisted

        spark, traced = self.spark, kind == "traced"
        sc = spark.sparkContext
        p = Pass(kind)
        idx = len(self.passes)
        order = self.rng.sample(self.wl.queries, len(self.wl.queries))
        if traced:
            p.root = self.tracer.add("bench.pass", time.time(), 0.0, None)
            gc0 = _jvm_gc_s(spark)
            p.layer = {"frame.released": 0}
        cpu0, t0, wall0 = procstat.tree_cpu_s(), time.perf_counter(), time.time()
        for q in order:
            self.attempted += 1
            try:
                if traced:
                    sc.setJobGroup(spans.group_id(idx, q, "build"), q)
                a = time.time()
                df = self.plans[q] if self.wl.warm else self.build(q)
                b = time.time()
                if traced:
                    if not self.wl.warm:
                        self.tracer.add(f"queries.build:{q}", a, b, p.root, spans.group_id(idx, q, "build"))
                        self.catalyst[q] = self.force_plan(df, q)
                        self.tracer.add(f"catalyst.force:{q}", b, time.time(), p.root)
                    for k, v in self.catalyst[q].items():
                        p.layer[k] = p.layer.get(k, 0) + v
                    sc.setJobGroup(spans.group_id(idx, q, "action"), q)
                c = time.time()
                if oracle is None:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    pdf = df.toPandas()
                d = time.time()
                if traced:
                    self.tracer.add(f"exec.action:{q}", c, d, p.root, spans.group_id(idx, q, "action"))
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                p.latencies[q] = (b - a) + (d - c)
                if oracle is not None:
                    oracle(q, pdf)
            except Exception:  # noqa: BLE001 — a failed query is counted, the run goes on
                traceback.print_exc(file=sys.stderr)
                self.fail(f"{q}: exception in {kind} pass")
            if not self.wl.warm:
                r = time.time()
                n = release_persisted()
                if traced:
                    p.layer["frame.released"] += n
                    self.tracer.add(f"frame.release:{q}", r, time.time(), p.root)
                self.check_cache_clean(q)
        p.wall = time.perf_counter() - t0
        p.cpu = procstat.tree_cpu_s() - cpu0
        if traced:
            self.tracer.spans[p.root].end = time.time()
            files, nbytes = _written_since(wall0, (self.tmp, self.warehouse))
            p.layer.update(
                {
                    "jvm.gc_s": _jvm_gc_s(spark) - gc0,
                    "sources.files_written": files,
                    "sources.write_mb": nbytes / spans.MiB,
                }
            )
            p.layer["jvm.live_heap_mb"] = _jvm_live_heap_mb(spark)
        self.passes.append(p)
        return p

    def force_plan(self, df, q: str) -> dict[str, float]:
        """Force the final plan and read its QueryPlanningTracker phases
        (traced sessions only). A tracker re-entering a phase stretches it
        from the first start to the last end, so each plan is read once,
        right after it is built: a prebuilt plan at set-up."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for ph in ("analysis", "optimization", "planning"):
            opt = phases.get(ph)
            out[f"catalyst.{ph}_ms"] = opt.get().durationMs() if opt.isDefined() else 0
        return out

    def warm_up(self) -> None:
        for _ in range(self.wl.warmup_passes):
            self.run_pass("warmup")

    def measure(self, kind: str, n: int, seconds: float) -> list[Pass]:
        """At least ``n`` passes of ``kind``, for at least ``seconds``."""
        out: list[Pass] = []
        t0 = time.perf_counter()
        while len(out) < n or time.perf_counter() - t0 < seconds:
            out.append(self.run_pass(kind))
        return out


def _jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000


def _jvm_live_heap_mb(spark) -> float:
    """Heap in use right after a full collection: the program's live data.
    VmHWM cannot show it, because the benchmark pins the heap size."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / spans.MiB


def _written_since(t0: float, roots: tuple[str, ...]) -> tuple[int, int]:
    files = nbytes = 0
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                try:
                    st = os.stat(os.path.join(d, n))
                except FileNotFoundError:
                    continue
                if st.st_mtime >= t0:
                    files += 1
                    nbytes += st.st_size
    return files, nbytes


def tail(samples: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it, as
    (value, percentile, n). Below 20 samples that percentile would not
    exceed the median, so the maximum is reported (percentile 100)."""
    xs, n = sorted(samples), len(samples)
    if n < 20:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def make_oracle(run: Run):
    """DuckDB twin check, reusing tools/check_oracle's canonicalization:
    row count, column names and value hash must all match."""
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import TABLES, canon, value_hash

    import __spark_entry__ as E

    oracles = E.oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.sf_dir}/{t}.parquet'")

    def check(q: str, sdf) -> None:
        cs, co = canon(sdf), canon(con.execute(oracles[q]).fetchdf())
        got = (len(cs), list(cs.columns), value_hash(cs))
        want = (len(co), list(co.columns), value_hash(co))
        if got != want:
            run.fail(f"{q}: oracle mismatch ({got[0]} vs {want[0]} rows)")

    return check, con


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", choices=sorted(os.listdir(DATA)), help="override the workload's scale (self-test)")
    args = ap.parse_args(argv)

    try:
        import __spark_entry__  # noqa: F401
        import bench  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the library from {ROOT}: {e}", file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.sf)
    run.pin_environment()
    guard = run.guard()
    traced = run.traced
    try:
        result = _run(run, traced)
    finally:
        if run.spark is not None:
            run.spark.stop()
        _shutdown_gateway()
        killed = procstat.reap_descendants()
        os.chdir(ROOT)
        shutil.rmtree(run.scratch, ignore_errors=True)
    if killed:
        print(f"perfbench: killed leftover processes {killed}", file=sys.stderr)
    run_s = time.perf_counter() - t_start
    result["lines"].append(f"  run took {run_s:.1f} s")
    result["detail"].update(guard=guard, loadavg_1m_at_end=round(os.getloadavg()[0], 2), run_s=run_s)
    os.makedirs(RUN_DIR, exist_ok=True)
    detail_path = os.path.join(RUN_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(detail_path, "w") as fh:
        json.dump(result["detail"], fh, indent=1)

    metrics = result["metrics"]
    for line in result["lines"]:
        print(line)
    print(f"detail: {os.path.relpath(detail_path, ROOT)}")
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


def _run(run: Run, traced: bool) -> dict:
    wl = run.wl
    # Set-up 1 starts the JVM; setup_s is its time. It is not repeated in
    # the warm JVM: on olap_warm a repeat refills the cache and rebuilds
    # the plans (5 to 8 s), more than the run budget has, and elsewhere it
    # is a 0.2 s session restart whose median spread 0.5 between runs,
    # against 0.19 for set-up 1. The first pass runs on that fresh session
    # and is also the oracle check; first_pass_s is its build + action
    # time, without the comparison.
    run.start(traced=False)
    check, con = make_oracle(run)
    first = run.run_pass("first", oracle=check)
    con.close()
    # The warm-up passes run in the session that is measured: in a traced
    # run's new sessions, the first pass over olap_warm's freshly prebuilt
    # plans is about a third slower than the next.
    ticks = procstat.cpu_times()
    measured: list[Pass] = []
    if traced:
        # Untraced sessions before and after the one with the event log, so
        # bench.trace_overhead includes the listener and JIT warming
        # favours neither kind of pass.
        for kind, n in (("measured", 1), ("traced", 2), ("measured", 1)):
            run.stop()
            run.start(traced=kind == "traced")
            run.warm_up()
            measured += run.measure(kind, n, run.seconds * n / 4)
    else:
        run.warm_up()
        measured = run.measure("measured", wl.min_passes, run.seconds)
    steal = procstat.steal_share(ticks, procstat.cpu_times())
    plain = [p for p in measured if p.kind == "measured"]
    peak = procstat.vm_hwm_mb(procstat.jvm_pid())
    run.stop()

    walls = [p.wall for p in plain]
    lats = [x for p in plain for x in p.latencies.values()]
    # The median over queries of each query's median: the olap_warm
    # queries form clusters of latencies, and the median of the pooled
    # samples jumps between them from run to run.
    per_query = [[p.latencies[q] for p in plain if q in p.latencies] for q in wl.queries]
    query_p50 = statistics.median(statistics.median(v) for v in per_query if v)
    tail_v, tail_pct, tail_n = tail(lats)
    e2e = {
        "setup_s": run.setups[0],
        "wall_s": statistics.median(walls),
        "cpu_s": statistics.median(p.cpu for p in plain),
        "peak_rss_mb": peak,
    }
    failed_frac = run.failed / max(1, run.attempted)
    first_pass_s = sum(first.latencies.values())
    trajectory = [round(p.wall, 3) for p in run.passes]
    half = len(walls) // 2
    drift = (statistics.median(walls[half:]) - statistics.median(walls[:half])) / e2e["wall_s"] if half else 0.0
    warm_walls = [p.wall for p in run.passes if p.kind in ("first", "warmup")]
    warmup_s = sum(warm_walls)
    lines = [
        f"workload {run.name}: {len(wl.queries)} queries at {wl.sf}, "
        f"local[{os.environ['SPARK_GRAFT_CPUS']}], {'warm cache' if wl.warm else 'library-default session'}",
    ]
    lines += [f"  {k:<14} {v:.4f} {END_TO_END[k]}" for k, v in e2e.items()]
    # printed but not in BENCHMARK.json: failed_frac is 0 on a correct
    # build; first_pass_s (a single cold pass), query_p50_s and
    # query_tail_s spread to or beyond the largest allowed bound in
    # ten-run sets on olap_warm
    lines.append(f"  {'first_pass_s':<14} {first_pass_s:.4f} s")
    lines.append(f"  {'query_p50_s':<14} {query_p50:.4f} s")
    lines.append(f"  {'failed_frac':<14} {failed_frac:.4f} ratio ({run.failed}/{run.attempted})")
    lines.append(f"  {'query_tail_s':<14} {tail_v:.4f} s (p{tail_pct:.1f} of n={tail_n})")
    lines.append(
        f"  warm-up {warmup_s:.3f} s over {len(warm_walls)} passes (excluded from setup_s); "
        f"pass walls {trajectory}; measured-pass drift {drift:+.1%}"
    )
    lines.append(f"  CPU steal after the first pass {steal:.1%}")
    detail = {
        "workload": run.name,
        "sf": wl.sf,
        "cpus_effective": run.cpus_effective,
        "end_to_end": e2e,
        "first_pass_s": first_pass_s,
        "query_p50_s": query_p50,
        "failed_frac": failed_frac,
        "failures": run.failures,
        "query_tail": {"value": tail_v, "percentile": tail_pct, "n": tail_n},
        "setups_s": run.setups,
        "warmup_s": warmup_s,
        "pass_walls": [(p.kind, p.wall) for p in run.passes],
        "measured_drift": drift,
        "steal_share": steal,
    }
    if not traced:
        return {"metrics": {k: (v, END_TO_END[k]) for k, v in e2e.items()}, "lines": lines, "detail": detail}

    layer = _per_layer(run, measured, failed_frac)
    lines = [f"workload {run.name}: traced run, per-layer metrics (median over traced passes)"]
    lines += [f"  {k:<30} {v:.4f} {PER_LAYER[k]}" for k, v in layer.items()]
    detail["per_layer"] = layer
    detail["spans"] = [vars(s) for s in run.tracer.spans]
    return {"metrics": {k: (v, PER_LAYER[k]) for k, v in layer.items()}, "lines": lines, "detail": detail}


def _per_layer(run: Run, measured: list[Pass], failed_frac: float) -> dict[str, float]:
    jobs, stages = spans.parse_event_log(spans.find_event_log(run.event_dir))
    orphans = spans.attach_spark_spans(run.tracer, jobs, stages)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    rows = []
    for p in measured:
        if p.kind != "traced":
            continue
        rows.append(spans.pass_metrics(run.tracer, p.root, stages, cores, p.layer))
    plain = statistics.median(p.wall for p in measured if p.kind == "measured")
    out = {}
    for name in PER_LAYER:
        if name == "catalog.cache_fill_s":
            out[name] = run.fill_s
        elif name == "catalog.cached_mb":
            out[name] = run.cached_mb
        elif name == "frame.cache_left":
            out[name] = run.cache_left
        elif name == "failed_frac":
            out[name] = failed_frac
        elif name == "trace.orphan_jobs":
            out[name] = orphans
        elif name == "bench.trace_overhead":
            out[name] = statistics.median(p.wall for p in measured if p.kind == "traced") / plain
        else:
            out[name] = statistics.median(r.get(name, 0.0) for r in rows)
    return out


def _shutdown_gateway() -> None:
    """Close the py4j gateway so the JVM exits, and wait for it."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    gw = SparkContext._gateway
    if gw is None:
        return
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    proc = getattr(gw, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        proc.wait(timeout=30)
    SparkContext._gateway = SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
