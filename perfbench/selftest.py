"""Self-test of the benchmark at sf0.001 (about a minute):

    python3 perfbench/selftest.py

Checks that
- the metric names and units the code prints are the ones BENCHMARK.json lists;
- a seed always yields the same query order, and different seeds differ;
- the event-log reader attributes jobs to time windows (synthetic log);
- a tiny traced run at sf0.001 produces an event log the reader parses, with
  jobs in every query's exec window, every per-layer metric, ≥90% of the wall
  time inside build + plan + exec, and oracle-clean results.
Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import procstat  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS, pass_orders  # noqa: E402

SF_TINY = os.path.join(HERE, "data", "sf0.001")
TINY_QUERIES = ("q1_pricing_summary", "workload_shipping_priority", "hive_bucketed_read_prune")


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def check_names() -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check({w["name"] for w in spec["workloads"]} == set(WORKLOADS), "workload names match BENCHMARK.json")
    check({m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS,
          "end-to-end metric names and units match BENCHMARK.json")
    check({m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS,
          "per-layer metric names and units match BENCHMARK.json")


def check_orders() -> None:
    for w in WORKLOADS.values():
        a, b = pass_orders(w, 5), pass_orders(w, 5)
        check([next(a) for _ in range(3)] == [next(b) for _ in range(3)],
              f"{w.name}: seed 5 gives the same order on every call")
        first = {tuple(next(pass_orders(w, s))) for s in range(8)}
        check(len(first) > 1, f"{w.name}: different seeds give different orders")
        check(sorted(next(pass_orders(w, 9))) == sorted(w.queries), f"{w.name}: an order is a permutation")


def check_attribution() -> None:
    log = eventlog.EventLog(
        jobs={
            0: eventlog.Job(0, 100, 200),
            1: eventlog.Job(1, 150, 400),  # overlaps job 0, runs past its window
            2: eventlog.Job(2, 600, 700),
            3: eventlog.Job(3, 950, 990),  # outside every window
        },
        stages={
            (0, 0): eventlog.Stage(0, 0, 100, 200, 2, task_ms=[10, 30]),
            (1, 0): eventlog.Stage(1, 0, 600, 650, 1, task_ms=[50], shuffle_write_bytes=7),
        },
    )
    windows = [eventlog.Window("a", 0, 300), eventlog.Window("b", 500, 800)]
    st = eventlog.attribute(log, windows)
    check(st["a"].jobs == 2 and st["b"].jobs == 1, "jobs attributed by submission time")
    check(st["a"].busy_ms == 200 and st["b"].busy_ms == 100, "busy time is the clipped union of jobs")
    check(st["a"].skew_max == 1.5 and st["b"].single_task_ms == 50, "stage skew and single-task time")
    check(st["b"].shuffle_write_bytes == 7, "shuffle bytes follow their stage")


def check_tiny_traced_run() -> None:
    work = tempfile.mkdtemp(prefix="selftest_", dir=run._ensure(run.WORK_ROOT))
    try:
        events_dir = run.prepare_env(work, trace=True)
        os.chdir(work)
        from apache_hive_1_2_2_src_spark.registry import load_all
        from apache_hive_1_2_2_src_spark.session import get_session

        spark = get_session("perfbench-selftest")
        reg = load_all()
        jvm = procstat.find_jvm()
        check(jvm is not None, "the Spark JVM is found under this process")
        timer = run.LoadTableTimer()
        check(timer.install() >= 10, "load_table is rebound in the query modules")
        host0, tree0 = procstat.sample_host(), procstat.sample_tree(jvm)
        run.reset_pool_peaks(spark)
        runs, frames, p0 = [], {}, time.time()
        for name in TINY_QUERIES:
            qr, df = run.run_query(spark, reg[name], SF_TINY, 0, True, timer)
            check(not qr.error, f"{name} runs traced at sf0.001")
            runs.append(qr)
            frames[name] = df
        walls = [time.time() - p0]
        tree1, pools = procstat.sample_tree(jvm), run.pool_peaks(spark)
        check(pools.heap_mb > 0 and pools.nonheap_mb > 0, "JVM memory-pool peaks are read")
        problems = run.check_oracles(frames, reg, {r.name: r.rows for r in runs}, SF_TINY)
        check(not problems, f"oracles match at sf0.001 {problems or ''}")
        run.stop_spark(spark)
        log = eventlog.read(eventlog.find_log(events_dir))
        check(len(log.jobs) > 0 and len(log.stages) > 0, "the event log has jobs and stages")
        windows = [eventlog.Window(r.name, r.t_plan * 1000, r.t_end * 1000) for r in runs]
        stats = eventlog.attribute(log, windows)
        check(all(stats[r.name].jobs >= 1 for r in runs), "every query's exec window holds a job")
        m = run.per_layer({"session.start_s": 0.0, "registry.load_all_s": 0.0,
                           "session.cold_query_s": 0.0}, runs, walls, log, tree0, tree1,
                          pools, host0, procstat.sample_host(), 0.0, 1)
        check(set(m) == set(run.PER_LAYER_UNITS), "per_layer() yields every per-layer metric")
        check(m["tables.load_calls"] >= len(TINY_QUERIES), "load_table calls are counted")
        check(m["trace.coverage_pct"] >= 90.0, "build + plan + exec cover ≥90% of wall time")
        e2e = run.end_to_end(1.0, walls, tree0, tree1, pools, 1)
        check(set(e2e) == set(run.END_TO_END_UNITS), "end_to_end() yields every end-to-end metric")
    finally:
        os.chdir(run.ROOT)
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    check_names()
    check_orders()
    check_attribution()
    check_tiny_traced_run()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
