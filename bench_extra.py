"""Extra benchmark tooling for optimization work (bench.py is FROZEN for
measurement; this file is the builder's instrument, per the optimization
guide §1: noop-sink isolation, per-query trials, plan dumps).

Usage:
  python bench_extra.py q1 q2 ...          # time named bench queries
  python bench_extra.py --all              # the full BENCH_QUERY_NAMES list
  python bench_extra.py --plans q1 q2 ...  # dump .explain("formatted") to plans/r07/
  SPARK_GRAFT_TRIALS=3 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 ...

Timing methodology matches bench.py (same .count() action, min-of-N,
round-robin trials, gc between rounds) so numbers are comparable; the
--noop flag times a full-materialization noop write instead (guide §1.4).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_trials = int(os.environ.get("SPARK_GRAFT_TRIALS", "3"))

    import bench as bench_mod
    import __spark_entry__ as entry
    from robosat_spark.session import get_spark

    spark = get_spark(app="robosat_spark_bench_extra")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.bench_queries()
    names = bench_mod.BENCH_QUERY_NAMES if "--all" in flags else args
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)

    if "--plans" in flags:
        out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r07")
        os.makedirs(out_dir, exist_ok=True)
        suffix = os.environ.get("SPARK_GRAFT_PLAN_SUFFIX", "before")
        for name in names:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path}")
        spark.stop()
        return

    # warmup identical in spirit to bench.py
    spark.range(1000).selectExpr("sum(id)").collect()
    qs["tile_encode"](spark, sf_dir).limit(1).count()

    use_noop = "--noop" in flags

    def run(df):
        if use_noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()

    trials = {n: [] for n in names}
    for _ in range(n_trials):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.perf_counter()
            run(qs[name](spark, sf_dir))
            trials[name].append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        gc.collect()
        spark.sparkContext._jvm.System.gc()
    best = {n: min(ts) for n, ts in trials.items()}
    print(json.dumps({"queries": best, "trials": trials, "sf_dir": sf_dir,
                      "cpus": spark.sparkContext.defaultParallelism,
                      "total_min_sum": round(sum(best.values()), 2)}))
    spark.stop()


if __name__ == "__main__":
    main()
