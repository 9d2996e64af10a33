"""Per-row cost breakdown: DataFrame construction (py4j) vs physical
planning (analysis+optimization) vs execution (noop sink).

Usage: row_breakdown.py [-nN] q35 t29 ...
Each query is measured N times (default 2): build / plan / run, so the
second round shows the warm constants the bench's single run pays.
"""

from __future__ import annotations

import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def main() -> None:
    n = 2
    args = []
    for a in sys.argv[1:]:
        if a.startswith("-n"):
            n = int(a[2:])
        else:
            args.append(a)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from censo_escolar_spark.session import get_spark

    spark = get_spark("censo-breakdown")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    queries = entrymod.queries()

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    run(queries["q01_pricing_summary"](spark, sf_dir))  # warm-up

    def _warm(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from batches

    cpus = spark.sparkContext.defaultParallelism
    run(spark.range(0, 100 * cpus, 1, cpus).mapInPandas(_warm, "id long"))

    wanted = [
        nm
        for nm in sorted(queries)
        if any(nm.split("_", 1)[0] == a or nm.startswith(a) for a in args)
    ]
    print(f"{'row':8} {'build':>7} {'plan':>7} {'run':>7} {'total':>7}")
    for name in wanted:
        short = name.split("_", 1)[0]
        for _ in range(n):
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            t1 = time.perf_counter()
            # force analysis + optimization + physical planning (not AQE)
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            run(df)
            t3 = time.perf_counter()
            print(
                f"{short:8} {t1 - t0:7.3f} {t2 - t1:7.3f} {t3 - t2:7.3f}"
                f" {t3 - t0:7.3f}",
                flush=True,
            )


if __name__ == "__main__":
    main()
