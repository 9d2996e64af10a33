"""Warm min-of-N wall timing for named queries through the noop sink.

Usage: python scripts/time_queries.py [-nN] [--prime] q01 d19 ...
Methodology matches bench.py (same session confs, same sink); each
query runs once untimed (warm) is NOT done — instead every query runs N
times and the MIN is reported, which is the SCALEBENCH discipline for
A/B claims. Prints one line per query: <short> <min> [runs...].
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
    prime = False
    for a in sys.argv[1:]:
        if a.startswith("-n"):
            n = int(a[2:])
        elif a == "--prime":
            prime = True
        else:
            args.append(a)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from censo_escolar_spark.session import get_spark

    spark = get_spark("censo-time")
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

    if prime:
        from censo_escolar_spark.plans import fixtures

        t0 = time.perf_counter()
        fixtures.prime(spark, sf_dir)
        print(f"fixtures.prime {time.perf_counter() - t0:.2f}")

    wanted = [
        nm
        for nm in sorted(queries)
        if any(nm.split("_", 1)[0] == a or nm.startswith(a) for a in args)
    ]
    for name in wanted:
        short = name.split("_", 1)[0]
        walls = []
        for _ in range(n):
            t0 = time.perf_counter()
            run(queries[name](spark, sf_dir))
            walls.append(time.perf_counter() - t0)
        print(
            f"{short} {min(walls):.2f}  " + " ".join(f"{w:.2f}" for w in walls),
            flush=True,
        )


if __name__ == "__main__":
    main()
