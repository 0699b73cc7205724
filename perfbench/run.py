"""Layered benchmark of spark-graft: one workload, one process, one JSON line.

    python3 perfbench/run.py --workload tpch22 --seed 7 --seconds 10 --trace 0

A run sets up a session (``get_session``, ``load_all`` and one cold
``q1_pricing_summary``), runs the workload's warm-up queries untimed, then
times whole passes over the workload's queries in a seed-permuted order until
``--seconds`` have been measured, then checks every query once, untimed,
against its DuckDB oracle. ``--trace 1`` turns on
Spark's event log and the per-layer spans and prints the per-layer metrics
instead of the end-to-end ones. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Exit codes: 0 all outputs correct, 1 an oracle mismatch or a query error,
2 the program or its data is missing, 3 the run hit its time limit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
import procstat  # noqa: E402

PKG = "apache_hive_1_2_2_src_spark"
try:
    from workloads import OWNER_GROUPS, WORKLOADS, owner_group, pass_orders  # noqa: E402
except ImportError as exc:  # bench.py (and the engine it imports) is not next to perfbench/
    print(f"perfbench: bench.py and the {PKG} package must sit next to perfbench/ "
          f"(looked in {ROOT}): {exc}", file=sys.stderr)
    sys.exit(2)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
TIME_LIMIT_S = 170.0
# The tail is the highest percentile that still has this many samples above it.
TAIL_BEYOND = 10

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "offheap_peak_mb": "MB",
    "write_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    units = {
        "query.p50_s": "s",
        "query.tail_s": "s",
        "query.samples": "count",
        "session.start_s": "s",
        "registry.load_all_s": "s",
        "session.cold_query_s": "s",
        "tables.load_calls": "count",
        "tables.load_s": "s",
        "build.s": "s",
        "build.jobs": "count",
    }
    for g in OWNER_GROUPS:
        units[f"build.s.{g}"] = "s"
        units[f"build.jobs.{g}"] = "count"
    units.update({
        "catalyst.plan_s": "s",
        "exec.s": "s",
        "exec.jobs": "count",
        "jobs.busy_s": "s",
        "driver.gap_s": "s",
        "stage.skew_max": "ratio",
        "stage.single_task_s": "s",
        "shuffle.write_mb": "MB",
        "spill.mb": "MB",
        "pyworker.cpu_s": "s",
        "pyworker.hwm_mb": "MB",
        "jvm.nonheap_peak_mb": "MB",
        "jvm.heap_peak_mb": "MB",
        "rss.peak_mb": "MB",
        "jvm.rss_growth_mb": "MB",
        "scratch.retained_mb": "MB",
        "trace.wall_s": "s",
        "trace.coverage_pct": "%",
        "host.load1": "load",
        "host.steal_pct": "%",
    })
    return units


PER_LAYER_UNITS = per_layer_units()


def process_age_s() -> float:
    """Seconds since this process was started (exec of the interpreter)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rpartition(")")[2].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / procstat.CLK_TCK


def tail_index(n: int) -> int:
    """Index into the sorted samples of the highest percentile with
    TAIL_BEYOND samples above it; never below the median."""
    return max(n - TAIL_BEYOND - 1, n // 2)


@dataclass
class QueryRun:
    pass_no: int
    name: str
    owner: str
    t0: float
    t_build: float = 0.0
    t_plan: float = 0.0
    t_end: float = 0.0
    rows: int = -1
    error: str = ""
    load_calls: int = 0
    load_s: float = 0.0

    @property
    def seconds(self) -> float:
        return self.t_end - self.t0


@dataclass
class LoadTableTimer:
    """Times ``tables.load_table`` from outside by rebinding every module
    attribute that refers to it (the function is imported by name into each
    query module)."""

    calls: int = 0
    seconds: float = 0.0
    lock: threading.Lock = field(default_factory=threading.Lock)

    def install(self) -> int:
        from apache_hive_1_2_2_src_spark import tables

        orig = tables.load_table

        def timed_load_table(*args, **kwargs):
            t = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                with self.lock:
                    self.calls += 1
                    self.seconds += time.perf_counter() - t

        n = 0
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PKG) and getattr(mod, "load_table", None) is orig:
                mod.load_table = timed_load_table
                n += 1
        return n

    def read(self) -> tuple[int, float]:
        with self.lock:
            return self.calls, self.seconds


@dataclass(frozen=True)
class PoolPeaks:
    """Peak use of the JVM's memory pools since the last reset, in MB. Each
    pool peaks at its own time, so a sum bounds the joint peak from above."""

    heap_mb: float
    nonheap_mb: float


def _memory_pools(spark):
    return spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()


def reset_pool_peaks(spark) -> None:
    for pool in _memory_pools(spark):
        pool.resetPeakUsage()


def pool_peaks(spark) -> PoolPeaks:
    mb = {"HEAP": 0.0, "NON_HEAP": 0.0}
    for pool in _memory_pools(spark):
        mb[pool.getType().name()] += pool.getPeakUsage().getUsed() / 2**20
    return PoolPeaks(mb["HEAP"], mb["NON_HEAP"])


def abort_overrun() -> None:
    """Kill the Spark process tree and exit without a result, so the caller
    never waits on a hung run."""
    print("perfbench: time limit reached, aborting run", file=sys.stderr, flush=True)
    kill_all(procstat.descendants(os.getpid()))
    os._exit(3)


def prepare_env(work: str, trace: bool) -> str:
    """Point every scratch and log location into the run's work dir and set the
    Spark confs the benchmark needs before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    for d in (tmp, events, os.path.join(work, "local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))
    confs = [f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"]
    if trace:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{events}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"
    return events


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and its Python workers have
    exited (the workers are re-parented away from us when the JVM exits, so
    they are tracked by pid)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spawned = procstat.descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    kill_all(wait_gone(spawned, 10))


def wait_gone(pids, timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` runs; return those still running at the timeout."""
    deadline = time.monotonic() + timeout_s
    while (alive := [p for p in pids if procstat.is_running(p)]) and time.monotonic() < deadline:
        time.sleep(0.05)
    return alive


def kill_all(pids) -> None:
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run_query(spark, query, sf_dir: str, pass_no: int, trace: bool, timer: LoadTableTimer | None):
    qr = QueryRun(pass_no, query.name, owner_group(query.build.__module__), time.time())
    calls0, secs0 = timer.read() if timer else (0, 0.0)
    df = None
    try:
        df = query.build(spark, sf_dir)
        qr.t_build = time.time()
        if trace:
            # Plan the same aggregate count() runs, then execute that plan.
            cdf = df.groupBy().count()
            cdf._jdf.queryExecution().executedPlan()
            qr.t_plan = time.time()
            qr.rows = cdf.collect()[0][0]
        else:
            qr.rows = df.count()
            qr.t_plan = qr.t_build
    except Exception as exc:  # noqa: BLE001 - a failing query is counted, not fatal
        qr.error = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
        traceback.print_exc(file=sys.stderr)
        qr.t_build = qr.t_build or time.time()
        qr.t_plan = qr.t_plan or qr.t_build
    qr.t_end = time.time()
    if timer:
        calls1, secs1 = timer.read()
        qr.load_calls, qr.load_s = calls1 - calls0, secs1 - secs0
    return qr, df


def check_oracles(frames: dict, reg: dict, counts: dict[str, int], sf_dir: str) -> dict[str, str]:
    """Collect each frame and compare it with the query's DuckDB oracle using
    tools/check.py's normalisation. Returns {query: problem} for failures."""
    import duckdb

    from apache_hive_1_2_2_src_spark.tables import TABLES
    from tools.check import norm_rows

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    problems: dict[str, str] = {}
    for name, df in frames.items():
        try:
            srows = [tuple(r) for r in df.collect()]
            scols = df.columns
            if len(srows) != counts.get(name, len(srows)):
                problems[name] = f"count() gave {counts[name]} rows, collect() {len(srows)}"
                continue
            oracle = reg[name].oracle
            if oracle is None:
                continue
            orows = con.execute(oracle).fetchall()
            ocols = [d[0] for d in con.description]
            if sorted(scols) != sorted(ocols):
                problems[name] = f"columns spark={sorted(scols)} oracle={sorted(ocols)}"
            elif norm_rows(scols, srows) != norm_rows(ocols, orows):
                problems[name] = f"values differ (spark {len(srows)} rows, oracle {len(orows)})"
        except Exception as exc:  # noqa: BLE001
            problems[name] = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
    con.close()
    return problems


def latency(runs) -> dict[str, float]:
    """Per-query latency: the median and the tail (see ``tail_index``)."""
    lat = sorted(r.seconds for r in runs)
    return {"query.p50_s": statistics.median(lat), "query.tail_s": lat[tail_index(len(lat))],
            "query.samples": len(lat)}


def end_to_end(setup_s, pass_walls, tree0, tree1, pools, passes) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(pass_walls),
        "cpu_s": (tree1.cpu_s - tree0.cpu_s) / passes,
        "offheap_peak_mb": pools.nonheap_mb + tree1.worker_hwm_kb / 1024,
        "write_mb": (tree1.jvm_write_bytes - tree0.jvm_write_bytes) / 1e6 / passes,
    }


def per_layer(setup_parts, runs, pass_walls, log, tree0, tree1, pools, host0, host1,
              scratch_mb, passes) -> dict[str, float]:
    windows = []
    for r in runs:
        for phase, a, b in (("build", r.t0, r.t_build), ("plan", r.t_build, r.t_plan),
                            ("exec", r.t_plan, r.t_end)):
            windows.append(eventlog.Window((r.pass_no, r.name, phase), a * 1000, b * 1000))
    stats = eventlog.attribute(log, windows)
    m: dict[str, float] = {**latency(runs), **setup_parts}
    m["tables.load_calls"] = sum(r.load_calls for r in runs) / passes
    m["tables.load_s"] = sum(r.load_s for r in runs) / passes
    m["build.s"] = sum(r.t_build - r.t0 for r in runs) / passes
    m["build.jobs"] = sum(stats[(r.pass_no, r.name, "build")].jobs for r in runs) / passes
    for g in OWNER_GROUPS:
        mine = [r for r in runs if r.owner == g]
        m[f"build.s.{g}"] = sum(r.t_build - r.t0 for r in mine) / passes
        m[f"build.jobs.{g}"] = sum(stats[(r.pass_no, r.name, "build")].jobs for r in mine) / passes
    m["catalyst.plan_s"] = sum(r.t_plan - r.t_build for r in runs) / passes
    m["exec.s"] = sum(r.t_end - r.t_plan for r in runs) / passes
    m["exec.jobs"] = sum(stats[(r.pass_no, r.name, "exec")].jobs for r in runs) / passes
    busy_ms = sum(s.busy_ms for s in stats.values())
    span_s = sum(r.seconds for r in runs)
    m["jobs.busy_s"] = busy_ms / 1000 / passes
    m["driver.gap_s"] = (span_s - busy_ms / 1000) / passes
    m["stage.skew_max"] = max((s.skew_max for s in stats.values()), default=1.0)
    m["stage.single_task_s"] = sum(s.single_task_ms for s in stats.values()) / 1000 / passes
    m["shuffle.write_mb"] = sum(s.shuffle_write_bytes for s in stats.values()) / 1e6 / passes
    m["spill.mb"] = sum(s.spill_bytes for s in stats.values()) / 1e6 / passes
    m["pyworker.cpu_s"] = (tree1.worker_cpu_s - tree0.worker_cpu_s) / passes
    m["pyworker.hwm_mb"] = tree1.worker_hwm_kb / 1024
    m["jvm.nonheap_peak_mb"] = pools.nonheap_mb
    m["jvm.heap_peak_mb"] = pools.heap_mb
    m["rss.peak_mb"] = tree1.peak_rss_mb
    m["jvm.rss_growth_mb"] = (tree1.jvm_hwm_kb - tree0.jvm_hwm_kb) / 1024 / passes
    m["scratch.retained_mb"] = scratch_mb
    m["trace.wall_s"] = statistics.median(pass_walls)
    m["trace.coverage_pct"] = 100.0 * span_s / sum(pass_walls)
    m["host.load1"] = max(host0.load1, host1.load1)
    m["host.steal_pct"] = procstat.steal_pct(host0, host1)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tools", "check.py")):
        print(f"perfbench: tools/check.py must sit next to perfbench/ (looked in {ROOT})",
              file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(DATA_DIR, "lineitem.parquet")):
        print(f"perfbench: test tables missing under {DATA_DIR}", file=sys.stderr)
        return 2

    # SIGTERM unwinds like an exception, so the Spark processes are stopped
    # and the work dir removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    workload = WORKLOADS[args.workload]
    trace = bool(args.trace)
    watchdog = threading.Timer(TIME_LIMIT_S - process_age_s(), abort_overrun)
    watchdog.daemon = True
    watchdog.start()
    work = tempfile.mkdtemp(prefix=f"run_{args.workload}_", dir=_ensure(WORK_ROOT))
    try:
        return _run(args, workload, trace, work)
    finally:
        watchdog.cancel()
        # Normally empty: only a run cut short (SIGTERM during set-up) leaves a JVM.
        leftovers = procstat.descendants(os.getpid())
        kill_all(leftovers)
        wait_gone(leftovers, 10)
        shutil.rmtree(work, ignore_errors=True)


def _ensure(path: str) -> str:
    os.makedirs(path, exist_ok=True)
    return path


@dataclass
class Measured:
    setup_s: float
    setup_parts: dict[str, float]
    runs: list[QueryRun]
    pass_walls: list[float]
    tree0: procstat.TreeSample
    tree1: procstat.TreeSample
    pools: PoolPeaks
    scratch_mb: float
    warmup_s: float
    oracle_s: float
    problems: dict[str, str]


def measure(spark, t_start: float, workload, seed: int, seconds: float, trace: bool) -> Measured:
    """Everything between JVM start and JVM stop: registry, cold query, warm-up,
    timed passes and the oracle check."""
    t_session = time.perf_counter()
    from apache_hive_1_2_2_src_spark.registry import load_all

    reg = load_all()
    t_registry = time.perf_counter()
    reg["q1_pricing_summary"].build(spark, DATA_DIR).count()
    t_cold = time.perf_counter()
    setup_s = process_age_s()
    setup_parts = {
        "session.start_s": t_session - t_start,
        "registry.load_all_s": t_registry - t_session,
        "session.cold_query_s": t_cold - t_registry,
    }
    missing = [q for q in workload.queries if q not in reg]
    if missing:
        raise LookupError(f"queries not registered: {missing}")

    jvm = procstat.find_jvm()
    timer = LoadTableTimer() if trace else None
    if timer:
        timer.install()
    for name in workload.warmup:  # a failure here recurs, and is counted, in the pass
        run_query(spark, reg[name], DATA_DIR, -1, False, None)
    warmup_s = time.perf_counter() - t_cold

    runs: list[QueryRun] = []
    pass_walls: list[float] = []
    frames: dict = {}
    tree0 = procstat.sample_tree(jvm)
    reset_pool_peaks(spark)
    for pass_no, order in enumerate(pass_orders(workload, seed)):
        p0 = time.time()
        for name in order:
            qr, df = run_query(spark, reg[name], DATA_DIR, pass_no, trace, timer)
            runs.append(qr)
            if not qr.error:
                frames[name] = df
        pass_walls.append(time.time() - p0)
        if sum(pass_walls) >= seconds:
            break
    tree1 = procstat.sample_tree(jvm)
    pools = pool_peaks(spark)
    scratch_mb = procstat.dir_mb(os.environ["TMPDIR"], "hive_spark_")

    t_oracle = time.perf_counter()
    counts = {r.name: r.rows for r in runs if not r.error}
    problems = check_oracles(frames, reg, counts, DATA_DIR)
    return Measured(setup_s, setup_parts, runs, pass_walls, tree0, tree1, pools, scratch_mb,
                    warmup_s, time.perf_counter() - t_oracle, problems)


def _run(args, workload, trace: bool, work: str) -> int:
    events_dir = prepare_env(work, trace)
    os.chdir(work)  # spark-warehouse, metastore_db and derby.log land here
    host0 = procstat.sample_host()

    t_start = time.perf_counter()
    from apache_hive_1_2_2_src_spark.session import get_session

    spark = get_session("perfbench")
    try:
        m = measure(spark, t_start, workload, args.seed, args.seconds, trace)
    finally:
        stop_spark(spark)
    host1 = procstat.sample_host()

    runs, passes = m.runs, len(m.pass_walls)
    problems = dict(m.problems)
    errors = [r for r in runs if r.error]
    attempted, failed = len(runs), len(errors) + len(problems)
    problems.update((r.name, r.error) for r in errors)
    if trace:
        log = eventlog.read(eventlog.find_log(events_dir))
        metrics = per_layer(m.setup_parts, runs, m.pass_walls, log, m.tree0, m.tree1, m.pools,
                            host0, host1, m.scratch_mb, passes)
        units = PER_LAYER_UNITS
    else:
        metrics = end_to_end(m.setup_s, m.pass_walls, m.tree0, m.tree1, m.pools, passes)
        units = END_TO_END_UNITS
    for r in runs:
        print("query " + json.dumps({
            "pass": r.pass_no, "query": r.name, "owner": r.owner,
            "build_s": round(r.t_build - r.t0, 4), "plan_s": round(r.t_plan - r.t_build, 4),
            "exec_s": round(r.t_end - r.t_plan, 4), "load_table_calls": r.load_calls,
            "load_table_s": round(r.load_s, 4), "rows": r.rows, "error": r.error,
        }))
    n, lat = len(runs), latency(runs)
    print(f"workload={workload.name} seed={args.seed} trace={int(trace)} passes={passes} "
          f"query_p50={lat['query.p50_s']:.3f}s query_tail=p{100 * (tail_index(n) + 1) // n}:"
          f"{lat['query.tail_s']:.3f}s samples={n} "
          f"jvm_hwm={m.tree1.jvm_hwm_kb // 1024}MB worker_hwm={m.tree1.worker_hwm_kb // 1024}MB "
          f"heap_peak={m.pools.heap_mb:.0f}MB nonheap_peak={m.pools.nonheap_mb:.0f}MB "
          f"error_ratio={failed / attempted:.4f} warmup={m.warmup_s:.1f}s oracle={m.oracle_s:.1f}s "
          f"load1 start={host0.load1:.2f} end={host1.load1:.2f} "
          f"steal={procstat.steal_pct(host0, host1):.2f}%")
    for name, why in sorted(problems.items()):
        print(f"FAIL {name}: {why}")
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    sys.stderr.flush()
    print(json.dumps(result), flush=True)
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
