"""Dump .explain('formatted') for named registry queries to files.

Usage: python scripts/dump_plans.py OUTDIR SUFFIX [sf_dir] query [query ...]

Writes OUTDIR/<query>_<SUFFIX>.txt for each query — the judge-checkable
plan evidence required by the optimization rounds (plans/r13/...).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    outdir, suffix = sys.argv[1], sys.argv[2]
    rest = sys.argv[3:]
    sf_dir = "/root/testdata/sf0.1"
    if rest and os.path.isdir(rest[0]):
        sf_dir = rest[0]
        rest = rest[1:]
    names = rest
    os.makedirs(outdir, exist_ok=True)

    from smartpool_bigdata_spark.queries import REGISTRY
    from smartpool_bigdata_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="dump-plans", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    for name in names:
        df = REGISTRY[name].build(spark, sf_dir)
        # Execute first so AQE finalizes the plan (isFinalPlan=true) —
        # the pre-execution explain shows only the initial plan.
        df.write.format("noop").mode("overwrite").save()
        formatted = (
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(formatted)
        n_ex = formatted.count("Exchange")
        n_reuse = formatted.count("ReusedExchange")
        print(f"{name}: exchanges={n_ex - n_reuse} reused={n_reuse} -> {path}")
        spark.catalog.clearCache()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
