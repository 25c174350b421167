"""Extra benchmarks for the optimization round (guide §1.4): per-query
noop-sink isolation + .explain("formatted") capture. NOT part of the frozen
driver contract (bench.py is the measured artifact); this file exists so
optimization work can time one query at a time without paying the whole
suite, and so plan claims in OPTIMIZATION_r06.md are reproducible.

Usage:
  python bench_extra.py <query_name> [query_name ...]   # time + plan
  python bench_extra.py --plans-only <names...>          # just capture plans
  PLAN_TAG=before python bench_extra.py ...              # plans/r06/<q>_<tag>.txt

Each query is timed with the noop sink (computes every column of every row,
no output cost) after an untimed session warm-up. Plans land in plans/r06/.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TAG = os.environ.get("PLAN_TAG", "before")
REPS = int(os.environ.get("BENCH_EXTRA_REPS", "1"))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    plans_only = "--plans-only" in sys.argv

    from elektra_spark.session import get_spark

    spark = get_spark("bench-extra", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    qs = entry.queries()
    os.makedirs("plans/r06", exist_ok=True)
    results = {}
    for name in args:
        if name not in qs:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        df = qs[name](spark, SF_DIR)
        with open(f"plans/r06/{name}_{TAG}.txt", "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        if plans_only:
            continue
        best = None
        for _ in range(REPS):
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            df = qs[name](spark, SF_DIR)  # rebuild: builder cost is part of the query
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        results[name] = round(best, 2)
        print(f"{name}: {results[name]}s", flush=True)
    print({"tag": TAG, "sf_dir": SF_DIR, "results": results})
    spark.stop()


if __name__ == "__main__":
    main()
