"""Isolated per-query timing, bench.py methodology (warm session, count()
action, sequential). Usage: python tools/minibench.py q1 q2 ... [--reps N]
(``--reps=N`` also accepted). Prints one JSON line {name: sec}."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apache_hive_1_2_2_src_spark.registry import load_all
from apache_hive_1_2_2_src_spark.session import get_session


def main() -> int:
    ap = argparse.ArgumentParser(description="Isolated per-query timing.")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--reps", type=int, default=1)
    opts = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reg = load_all()
    unknown = [n for n in opts.queries if n not in reg]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = get_session("minibench")
    # warmup: flagship query, absorbs session/scan/codegen startup
    reg["q1_pricing_summary"].build(spark, sf_dir).count()
    out = {}
    for name in opts.queries:
        vals = []
        for _ in range(opts.reps):
            spark.sparkContext.setJobDescription(f"minibench:{name}")
            t0 = time.time()
            reg[name].build(spark, sf_dir).count()
            vals.append(round(time.time() - t0, 3))
        out[name] = vals[0] if opts.reps == 1 else vals
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
