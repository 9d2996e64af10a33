"""COLD e45 state-partition knee: time the FIRST e45 invocation in a
fresh JVM (after the bench's standard untimed warm-ups), one value of
SPARK_GRAFT_E45_STATE per process.

Usage: python scripts/sweep_e45_cold.py   (single measurement; the
driver loop lives in the shell: for v in 4 8 12 16; do for i in 1 2 3;
do SPARK_GRAFT_E45_STATE=$v python scripts/sweep_e45_cold.py; done; done)
"""

from __future__ import annotations

import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from censo_escolar_spark.session import get_spark

    spark = get_spark("censo-e45-cold")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    queries = entrymod.queries()

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    run(queries["q01_pricing_summary"](spark, sf_dir))  # JVM warm-up

    def _warm(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from batches

    cpus = spark.sparkContext.defaultParallelism
    run(spark.range(0, 100 * cpus, 1, cpus).mapInPandas(_warm, "id long"))

    t0 = time.perf_counter()
    run(queries["e45_stateful_timeout_segments"](spark, sf_dir))
    el = time.perf_counter() - t0
    print(
        f"E45_COLD state={os.environ.get('SPARK_GRAFT_E45_STATE', 'auto')}"
        f" {el:.2f}s",
        flush=True,
    )


if __name__ == "__main__":
    main()
