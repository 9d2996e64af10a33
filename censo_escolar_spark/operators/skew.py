"""Skew-mitigated shuffle join (salting).

The reference never joins at scale (its one wide table is built by
per-year unions — transform.py:151-152), but a 100 TB fact⋈dim join with
a hot key is the canonical Spark failure mode this engine must survive:
one reduce partition receives the hot key's entire row set and spills or
OOMs while 999 executors idle.

``salted_join`` is the standard mitigation for the regime AQE's skew
split doesn't cover (build side too large to broadcast, probe-side hot
key concentrated in one shuffle partition *and* the matching build rows
needed by every salt replica):

- probe (big) side: append ``__salt = pmod(xxhash64(salt_from), n)``,
  computed from a probe-side column that varies WITHIN a join key, so a
  hot key's rows spread over ``n_salts`` reduce partitions;
- build (small) side: replicate each row ``n_salts`` times via
  ``explode(sequence(0, n-1))`` — size cost n·|build|, bounded and
  chosen by the caller;
- equi-join on (keys + __salt): every probe row meets exactly one
  replica of each matching build row, so the result is row-identical to
  the un-salted join (verified by the q40 oracle).

AQE's ``skewJoin`` handles the common case adaptively; this operator is
the explicit, planner-independent form for when the salt must be chosen
ahead of time (e.g. feeding a downstream bucketed write).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["salted_join", "spread_small_input"]

#: Rows per spread partition when the caller knows the input's row count
#: (parquet footer metadata — sources/readers.table_rows). Sized from the
#: round-12 interleaved width sweep on the harness (32/16/8 widths over
#: the ten direct spread rows, warm min-of-4: half-to-quarter core count
#: beat full core count on 9 of 10 rows — 32 near-empty partitions pay
#: more task/Python-worker constant than their extra parallelism buys at
#: a few hundred rows/task). 320 reproduces the measured optima: ~5k-row
#: documents spread to 16, ~2k-row embeddings candidate verifies to 7.
TARGET_SPREAD_ROWS = 320


def spread_small_input(
    target: DataFrame,
    *key_cols: str,
    gate: DataFrame | None = None,
    rows: int | None = None,
) -> DataFrame:
    """Hash-repartition ``target`` to cluster core count when ``gate``
    (default: ``target`` itself) has fewer partitions than cores — the
    guide-§2.5 "unsplittable input" remedy, shared by every CPU-dense
    operator stage that would otherwise inherit a tiny scan's
    parallelism (a single-row-group parquet file scans as ONE task, and
    AQE coalesces small-BYTE exchanges to a handful of partitions even
    when the per-row work downstream is heavy: shingle hashing, regex
    cleaning, vector verification all cost orders of magnitude more CPU
    per byte than AQE's byte-based sizing assumes).

    The repartition is deterministic (hash of ``key_cols``) and
    results are partition-count invariant for every caller (asserted by
    tests/test_determinism.py). Inputs already at or above core count —
    any real corpus — skip the extra shuffle entirely: at 100 TB the
    gate is a no-op by construction, exactly like the inlined guard in
    ``dedup.portable_minhash_signatures`` this generalizes.

    ``gate`` must be a NARROW plan (a scan/filter/union) or an already
    materialized frame: reading ``.rdd.getNumPartitions()`` on a plan
    with unexecuted exchanges would trigger partial execution under AQE.
    Callers here pass the raw table scan or a localCheckpoint.

    ``rows`` (optional) is the input's row count when the caller knows
    it cheaply (parquet footer metadata; a count() job would defeat the
    point): the spread width becomes
    ``min(cores, ceil(rows / TARGET_SPREAD_ROWS))`` instead of the full
    core count, so a harness-small input is not sliced into near-empty
    partitions whose task/Python-worker constants exceed their work
    (measured: width 16 beat 32 on 9 of the 10 direct spread rows). At
    real corpus scale ``rows/TARGET`` far exceeds the core count, so the
    cap is inert and the gate (already-wide inputs skip the shuffle)
    still decides.

    Results are identical with or without the spread; only the physical
    plan changes. A width sweep patches ``TARGET_SPREAD_ROWS`` from outside.
    """
    width = target.sparkSession.sparkContext.defaultParallelism
    if rows is not None and rows >= 0:
        width = max(2, min(width, -(-int(rows) // TARGET_SPREAD_ROWS)))
    probe = target if gate is None else gate
    if probe.rdd.getNumPartitions() < width:
        return target.repartition(width, *[F.col(c) for c in key_cols])
    return target


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: Sequence[str],
    *,
    salt_from: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``probe ⋈ build on (on)``, row-identical to a plain join,
    with the probe side's hot keys spread across ``n_salts`` partitions.

    ``salt_from`` must be a probe-side column that varies within a join
    key (a line number, a timestamp, an id) — salting on the join key
    itself would keep every hot-key row in one partition.

    ``how`` supports the probe-preserving joins (inner / left /
    left_semi / left_anti): build-preserving sides would see each
    unmatched build row ``n_salts`` times.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(f"salted_join: probe-preserving joins only, got {how!r}")
    salt = F.pmod(F.xxhash64(F.col(salt_from)), F.lit(n_salts)).cast("int")
    salted_probe = probe.withColumn("__salt", salt)
    replicated_build = build.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    joined = salted_probe.join(replicated_build, [*on, "__salt"], how)
    return joined.drop("__salt")
