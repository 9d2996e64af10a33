"""Layer probes of a traced ``analytics`` run: the stored-index maintainer
layer (``censo_escolar_spark.streaming``), its base-store fixtures, PQ
search and perceptual hashing.

No workload's timed passes enter these layers, so a traced analytics run
measures them once each after its timed passes and checks: it builds the
maintainer base stores with ``plans.fixtures.prime`` (span
``probe.prime``), then calls each probe row once through the registry
(span ``probe:<row>``) and compares its result with the row's DuckDB
oracle. Every streaming module is entered by at least one row:

==================  ============================================
row                 layers it enters
==================  ============================================
``e47``             streaming.windows (dedup within watermark)
``d25``             streaming.dedup (dedup store snapshot read)
``t41``             streaming.lexindex (BM25 index deletes)
``s30``             streaming.ivfindex (IVF-PQ), operators.pq
``q75``             streaming.merge (MERGE snapshot read)
``e33``             streaming.scd2
``e49``             streaming.stats (stats snapshot read)
``m15``             streaming.imagededup (image forget)
``s10``             operators.pq (PQ top-k)
``m09``             plans.multimodal (perceptual hash)
==================  ============================================

The probes run outside the timed passes and outside ``attempted``; a
probe that fails or disagrees with its oracle makes the run incorrect.
"""

from __future__ import annotations

import oracle
import spans
import workloads

PROBES = ("e47", "d25", "t41", "s30", "q75", "e33", "e49", "m15", "s10", "m09")


def run_probes(spark, sf_dir: str, con) -> list[str]:
    """Prime the base stores and run every probe row once; returns the
    errors (failed rows and oracle mismatches)."""
    from censo_escolar_spark.plans import fixtures

    queries, oracles = workloads._registry()
    with spans.span("probe.prime"):
        fixtures.prime(spark, sf_dir)
    errors = []
    for short in PROBES:
        name = workloads._full_name(short)
        fn = queries[name]
        try:
            with spans.span(f"probe:{short}", op=short, module=fn.__module__.rsplit(".", 1)[-1]):
                got = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # reported as a wrong output of the run
            errors.append(f"probe {short} failed: {type(exc).__name__}: {str(exc)[:300]}")
            continue
        msg = oracle.mismatch(got, con.execute(oracles[name]).fetch_df())
        if msg:
            errors.append(f"probe {short}: {msg}")
    return errors

