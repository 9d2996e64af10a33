"""Interleaved warm sweep of SPARK_GRAFT_SPREAD_WIDTH over the direct
spread rows: one session, rounds of (width -> each row once), min per
(row, width). Usage: sweep_spread_width.py [-nROUNDS] [widths...]
"""

from __future__ import annotations

import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

ROWS = ["s03", "s05", "t37", "t03", "t10", "c02", "m02", "m03", "d12", "d20"]


def main() -> None:
    rounds = 4
    widths = []
    for a in sys.argv[1:]:
        if a.startswith("-n"):
            rounds = int(a[2:])
        else:
            widths.append(int(a))
    widths = widths or [32, 16, 8]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from censo_escolar_spark.session import get_spark

    spark = get_spark("censo-spreadsweep")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    by_short = {n.split("_", 1)[0]: n for n in queries}

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    run(queries["q01_pricing_summary"](spark, sf_dir))

    def _warm(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from batches

    cpus = spark.sparkContext.defaultParallelism
    run(spark.range(0, 100 * cpus, 1, cpus).mapInPandas(_warm, "id long"))

    best: dict[tuple[str, int], float] = {}
    for r in range(rounds):
        for w in widths:
            os.environ["SPARK_GRAFT_SPREAD_WIDTH"] = str(w)
            for short in ROWS:
                t0 = time.perf_counter()
                run(queries[by_short[short]](spark, sf_dir))
                el = time.perf_counter() - t0
                key = (short, w)
                best[key] = min(best.get(key, 1e9), el)
        print(f"round {r + 1}/{rounds} done", flush=True)
    os.environ.pop("SPARK_GRAFT_SPREAD_WIDTH", None)
    hdr = "row    " + "".join(f"{w:>8}" for w in widths)
    print(hdr)
    for short in ROWS:
        print(
            f"{short:6}"
            + "".join(f"{best[(short, w)]:8.2f}" for w in widths)
        )


if __name__ == "__main__":
    main()
