"""Streaming corpus-stats maintenance: additive per-group aggregates
kept current from a document stream, one micro-batch at a time.

The third state shape after upsert (merge.py) and run-stitching
(scd2.py): ACCUMULATION. Per (lang, source) group the maintained row
carries mergeable integer sums (doc/token/char/kept counts), so a
micro-batch folds in as ``prior + partial`` — the daily corpus-stats
job a 100 TB pipeline runs without ever rescanning history. The
reference's closest analogue is the per-year incremental load
(reference censo_escolar.py:39-60); here the increment maintains the
aggregate itself, not just the partition list.

State lives in the bucketed versioned store (streaming/bucketstate):
a batch aggregates itself FIRST (one shuffle over the batch, partial
map-side combine), then reads only the buckets its groups touch and
writes only those buckets' new contents — O(touched buckets) per
micro-batch, never O(state). Group cardinality is lang x source (tiny
vs corpus), so the state is dimension-sized; the bucket store still
matters because a daily batch usually touches a few groups, not all.

Exactly-once: identical to the other maintainers — a retried batch
resolves prior buckets strictly below its own id and fully overwrites
its own version directory. Addition is not idempotent, which is WHY
the versioned read discipline matters: the retry re-adds onto the same
prior it read the first time, converging to the same contents.

All maintained columns are BIGINT counts — cross-engine exact with no
decimal/float discipline needed; ratios are for readers to derive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from censo_escolar_spark.functions import text as T
from censo_escolar_spark.streaming.bucketstate import (
    compact_state,
    read_bucketed_state,
    touched_buckets,
    write_bucketed_version,
)

#: Fold state history into a checkpoint version every K micro-batches
#: (see streaming/merge.py — same bounded-manifest rationale).
COMPACT_EVERY = 16

#: grp is the bucket key (lang|source); lang/source kept as real columns.
STATS_SCHEMA = (
    "grp string, lang string, source string, n_docs bigint, "
    "n_tokens bigint, n_chars bigint, n_kept bigint"
)


def _partial(batch_df: DataFrame) -> DataFrame:
    """One-shuffle per-group partial over the batch (map-side combine)."""
    return (
        batch_df.groupBy("lang", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(T.token_count("text").cast("bigint"))
            .cast("bigint")
            .alias("n_tokens"),
            F.sum(F.length("text").cast("bigint")).cast("bigint").alias("n_chars"),
            F.sum(F.when(T.quality_keep("text"), 1).otherwise(0).cast("bigint"))
            .cast("bigint")
            .alias("n_kept"),
        )
        .withColumn("grp", F.concat_ws("|", "lang", "source"))
    )


def apply_stats_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    state_dir: str,
    compact_every: int | None = COMPACT_EVERY,
) -> None:
    """The foreachBatch body (exposed for direct testing / backfills)."""
    spark = batch_df.sparkSession
    # two consumers (bucket probe + fold) — cut the aggregation lineage
    partial = _partial(batch_df).localCheckpoint(eager=True)
    touched = touched_buckets(partial, "grp")
    prior = read_bucketed_state(
        spark, state_dir, schema=STATS_SCHEMA, below=batch_id, buckets=touched
    )
    merged = (
        prior.unionByName(partial)
        .groupBy("grp", "lang", "source")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.sum("n_kept").cast("bigint").alias("n_kept"),
        )
    )
    write_bucketed_version(
        merged, state_dir, batch_id, key_col="grp", touched=touched
    )
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        compact_state(
            spark,
            state_dir,
            schema=STATS_SCHEMA,
            key_col="grp",
            upto=batch_id - 1,
        )


def read_stats_state(
    spark: SparkSession, state_dir: str, *, below: int | None = None
) -> DataFrame:
    """Latest committed stats snapshot (empty frame of schema if none)."""
    return read_bucketed_state(
        spark, state_dir, schema=STATS_SCHEMA, below=below
    )


def maintain_corpus_stats(
    docs: DataFrame,
    *,
    state_dir: str,
    checkpoint: str,
    compact_every: int | None = COMPACT_EVERY,
) -> None:
    """Drain everything currently available through the stats maintainer
    (availableNow trigger — the test/backfill entry point; a production
    stream runs the same query continuously)."""
    q = (
        docs.writeStream.foreachBatch(
            lambda df, bid: apply_stats_batch(
                df, bid, state_dir=state_dir, compact_every=compact_every
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# ---------------------------------------------------------------------------
# Learned-quality score maintenance (t43): the classifier lane's
# incremental twin — per (lang, grade) counts and BIGINT-quantized
# score sums kept current from the document stream. Scores are per-row
# (functions/text.py::learned_quality, bit-deterministic), so the
# maintained aggregate is purely ADDITIVE: each doc contributes
# round(score * 1e9) as an exact BIGINT once, and a micro-batch folds
# in as prior + partial — no float ever crosses rows, so the maintained
# state equals the batch recompute bit-for-bit regardless of batch
# boundaries. Readers derive mean_score = (score_q / 1e9) / n_docs.
# ---------------------------------------------------------------------------
QUALITY_SCHEMA = (
    "grp string, lang string, grade int, n_docs bigint, score_q bigint"
)


def _quality_partial(batch_df: DataFrame) -> DataFrame:
    from censo_escolar_spark.functions.text import learned_quality

    q = learned_quality("text")
    return (
        batch_df.select(
            "lang",
            q["grade"].alias("grade"),
            F.round(q["score"] * F.lit(1e9)).cast("bigint").alias("sq"),
        )
        .groupBy("lang", "grade")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("sq").cast("bigint").alias("score_q"),
        )
        .withColumn("grp", F.concat_ws("|", "lang", "grade"))
    )


def apply_quality_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    state_dir: str,
    compact_every: int | None = COMPACT_EVERY,
) -> None:
    """The foreachBatch body (exposed for direct testing / backfills)."""
    spark = batch_df.sparkSession
    partial = _quality_partial(batch_df).localCheckpoint(eager=True)
    touched = touched_buckets(partial, "grp")
    prior = read_bucketed_state(
        spark, state_dir, schema=QUALITY_SCHEMA, below=batch_id, buckets=touched
    )
    merged = (
        prior.unionByName(partial)
        .groupBy("grp", "lang", "grade")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("score_q").cast("bigint").alias("score_q"),
        )
    )
    write_bucketed_version(
        merged, state_dir, batch_id, key_col="grp", touched=touched
    )
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        compact_state(
            spark,
            state_dir,
            schema=QUALITY_SCHEMA,
            key_col="grp",
            upto=batch_id - 1,
        )


def read_quality_state(
    spark: SparkSession, state_dir: str, *, below: int | None = None
) -> DataFrame:
    """Latest committed quality-stats snapshot (empty frame if none)."""
    return read_bucketed_state(
        spark, state_dir, schema=QUALITY_SCHEMA, below=below
    )
