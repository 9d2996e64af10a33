"""Structured Streaming pipelines over event streams.

The batch-mode semantics of these exact groupings are oracle-verified in
plans/events.py (window()/session_window() group identically in batch and
streaming); this module supplies the streaming-only machinery: watermarks,
late-data eviction, streaming dedup, and a custom stateful operator.

Scale notes: state store size is bounded by the watermark (late rows are
dropped, closed windows evicted); shuffle partitioning of the state is
the normal groupBy hash on (window, keys). At 1000 executors the same
code runs unchanged — state lives per shuffle-partition, and
``spark.sql.shuffle.partitions`` governs state-store parallelism.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

DEC = "decimal(18,2)"


def read_event_stream(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """File-source stream over a directory of event parquet files.

    Explicit schema (mandatory for streaming file sources — no inference)
    keeps this a drop-in for any directory the batch reader handles.
    """
    return spark.readStream.schema(schema).parquet(path)


def tumbling_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling event-time aggregation with late-data eviction.

    Batch-equivalent: plans/events.py::e01_tumbling_hourly (oracle-checked).
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def sessionize(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Session windows per user (gap-based), watermarked, with the exact
    decimal value sum (e03's aggregate surface).

    Batch-equivalent: plans/events.py::e03_user_sessions (oracle-checked);
    streaming parity is driver-gated by e37 (the real readStream →
    session_window → foreachBatch pipeline against the same oracle).
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def dedup_within_watermark(
    events: DataFrame, *, keys: list[str], watermark: str = "1 hour", ts_col: str = "ts"
) -> DataFrame:
    """Streaming exact dedup with bounded state: duplicates arriving within
    the watermark horizon are dropped; state for old keys is evicted."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def running_user_stats(events: DataFrame, *, ts_col: str = "ts") -> DataFrame:
    """Custom stateful operator: per-user running (count, max value) via
    applyInPandasWithState — the escape hatch for state machines the
    built-in windows can't express. Arrow-batched; state is one small
    tuple per user."""

    out_schema = "user_id bigint, n_events bigint, max_value double"
    state_schema = "n bigint, mx double"

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, mx = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def user_activity_segments(
    events: DataFrame,
    *,
    gap_s: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    sec_col: str = "ts_s",
    cents_col: str = "cents",
) -> DataFrame:
    """Custom stateful operator: per-key activity SEGMENTS with
    inactivity-TIMEOUT emission — the state machine the built-in
    windows can't express, via ``applyInPandasWithState`` +
    ``GroupStateTimeout.EventTimeTimeout``.

    Semantics (deliberately DIFFERENT from ``session_window``): a key's
    open segment accumulates every arriving on-time row — including
    out-of-order rows older than the segment's current end — and closes
    only when the EVENT-TIME WATERMARK strictly passes ``last + gap``
    (the operational "user went quiet" signal a monitoring pipeline
    emits on), not when a per-event gap appears in event time. Closed
    segments emit ``(key, n_events, first_s, last_s, cents)``; the
    still-open segment at stream end never emits (no terminal
    watermark). This is the timeout-session shape of
    flatMapGroupsWithState in the Structured Streaming docs, expressed
    over Arrow batches.

    Engine semantics this build was pinned against (empirically, like
    the e38/e43 fronts; see plans/events.py::e45 for the oracle model):

    - ``GroupState.getCurrentWatermarkMs()`` during batch N is
      ``max(event time over batches < N) - delay`` (0 before any data);
    - event-time timeouts fire only when the watermark is STRICTLY
      above the armed timestamp (equality does not fire), in the first
      batch where the key receives no data — including the trailing
      no-data batch an availableNow drain runs after the last file;
    - late input rows are NOT filtered before a stateful-processing
      operator (unlike windowed aggregations): the function must drop
      them itself. This operator drops rows with ``ts < watermark``
      and handles the "all rows late" invocation by re-arming.

    Contracts: ``sec_col`` must equal ``unix_timestamp(ts_col)`` (the
    integer-seconds twin of the watermark column — all arithmetic stays
    exact), ``cents_col`` an exact integer amount. State per key is one
    4-tuple of int64 — O(live keys) across the cluster, partitioned by
    the groupBy hash exactly like built-in stateful aggregations.
    """
    out_schema = (
        f"{key_col} bigint, n_events bigint, first_s bigint,"
        " last_s bigint, cents bigint"
    )
    state_schema = "n bigint, first_s bigint, last_s bigint, cents bigint"

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm = state.getCurrentWatermarkMs()

        def emit(seg):
            return pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n_events": [seg[0]],
                    "first_s": [seg[1]],
                    "last_s": [seg[2]],
                    "cents": [seg[3]],
                }
            )

        if state.hasTimedOut:
            seg = state.get
            state.remove()
            yield emit(seg)
            return
        # fold the on-time rows incrementally per Arrow batch — this
        # function runs once per (key, micro-batch), so the per-call
        # constant matters (guide §4.2): the previous
        # pd.concat + boolean-index path paid two frame copies per key;
        # the numpy fold computes the same exact integers with none
        # (late-drop mask, counts, min/max/sum are all order-free)
        n, f_, l_, c_ = 0, None, None, 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            secs = pdf[sec_col].to_numpy()
            mask = secs * 1000 >= wm
            k = int(mask.sum())
            if not k:
                continue
            ks = secs[mask]
            n += k
            c_ += int(pdf[cents_col].to_numpy()[mask].sum())
            mn, mx = int(ks.min()), int(ks.max())
            f_ = mn if f_ is None else min(f_, mn)
            l_ = mx if l_ is None else max(l_, mx)
        old = state.get if state.exists else None
        closed = None
        # the engine would have timed this segment out before this
        # batch's data iff the watermark STRICTLY passed its arm point
        if old is not None and wm > (old[2] + gap_s) * 1000:
            closed, old = old, None
        if n:
            if old is not None:
                n += old[0]
                f_ = min(f_, old[1])
                l_ = max(l_, old[2])
                c_ += old[3]
            state.update((n, f_, l_, c_))
            # kept rows have ts*1000 >= wm and gap > 0, so the arm point
            # is above the watermark except possibly by equality on the
            # second lattice; wm+1 preserves strict-fire behavior there
            # (fronts move in whole seconds)
            state.setTimeoutTimestamp(max((l_ + gap_s) * 1000, wm + 1))
        elif old is None:
            if state.exists:  # closed above with no successor rows
                state.remove()
        else:
            # only-late-rows invocation: keep the segment open, re-arm
            # (a timeout not re-registered in an invocation is dropped)
            state.update(old)
            state.setTimeoutTimestamp(max((old[2] + gap_s) * 1000, wm + 1))
        if closed is not None:
            yield emit(closed)

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str,
    right_ts: str,
    lower: str = "0 seconds",
    upper: str = "10 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join on a key within an event-time interval:
    right_ts ∈ [left_ts − lower, left_ts + upper].

    Both sides are watermarked and the join condition bounds event time
    in both directions — that pair of constraints is what lets the state
    store evict rows once the watermark passes their interval, so state
    stays bounded no matter how long the streams run. Column names other
    than the key must be disjoint (pre-rename upstream).

    ``how='leftOuter'`` additionally emits each unmatched LEFT row
    (right columns NULL) — but only once the watermark passes the end
    of its match interval, since before that a matching right row could
    still arrive. Outer results therefore trail the watermark; tests
    must advance it (later data or stream end) to observe them.

    ``how='fullOuter'`` additionally emits each unmatched RIGHT row
    (left columns NULL) under the mirrored rule: a right row's match
    interval on the LEFT timeline is ``l_ts ∈ [right_ts − upper,
    right_ts + lower]`` (the join condition read from the right side),
    so its null row emits once the watermark strictly passes
    ``right_ts + lower``. Both-null rows cannot exist.

    Only ``inner``, ``leftOuter`` and ``fullOuter`` are accepted:
    plain right-outer is the same operator with the inputs swapped —
    keeping one spelling avoids two asymmetric bound conventions.
    """
    if how not in ("inner", "leftOuter", "fullOuter"):
        raise ValueError(
            "interval_join supports how='inner', 'leftOuter' or"
            f" 'fullOuter' only (got {how!r}); swap left/right for"
            " right-outer semantics"
        )
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col(f"r.{right_ts}") >= F.expr(f"l.{left_ts} - interval {lower}"))
        & (F.col(f"r.{right_ts}") <= F.expr(f"l.{left_ts} + interval {upper}"))
    )
    j = l.join(r, cond, how)
    if how != "fullOuter":
        return j.drop(F.col(f"r.{on}"))
    # right-only rows carry a NULL left key: surface ONE key column
    return j.select(
        F.coalesce(F.col(f"l.{on}"), F.col(f"r.{on}")).alias(on),
        *[F.col(f"l.{c}") for c in left.columns if c != on],
        *[F.col(f"r.{c}") for c in right.columns if c != on],
    )


def idempotent_parquet_sink(
    df: DataFrame,
    *,
    path: str,
    checkpoint: str,
    partition_cols: list[str] | None = None,
) -> None:
    """Exactly-once parquet sink via ``foreachBatch`` + batch-id
    partition overwrite.

    Structured Streaming's contract is at-least-once per micro-batch on
    failure/retry: ``foreachBatch`` may re-run with the SAME batch_id.
    Writing each batch under ``__batch_id=<id>`` with DYNAMIC partition
    overwrite makes the retry land on the very same partition it half-
    wrote, replacing it — a replayed batch can never duplicate rows.
    The batch column also gives downstream consumers replay provenance
    (the streaming analogue of the reference's O1 year-idempotency:
    re-running a year replaces that year, never appends it twice).

    Scale notes: dynamic overwrite touches ONLY the partitions present
    in the incoming batch; other partitions (historical batches) are
    never listed or rewritten.
    """
    cols = partition_cols or []

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id", *cols)
            .parquet(path)
        )

    q = (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_hll_sketches(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
    lg_k: int = 12,
) -> DataFrame:
    """Streaming mergeable distinct-count state: per (window, event_type)
    the aggregate is an HLL SKETCH of the keys, not a count — so the sink
    rows can be further unioned (across windows, days, streams) with
    ``hll_union_agg`` and re-estimated, exactly like the batch rollup in
    plans/sketches.py (q60).

    This is the streaming form of the lambda-architecture killer: the
    streaming job emits compact mergeable state (≤ 2^lg_k bytes/group),
    and ANY later batch query can combine it with historical sketches
    without replaying events. State size: one sketch per open window ×
    type; closed windows evict at the watermark.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(
            F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("key_sketch"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "key_sketch",
            F.hll_sketch_estimate("key_sketch").alias("approx_distinct_keys"),
            "n_events",
        )
    )


def windowed_kll_sketches(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    value_col: str = "value",
    k: int = 200,
) -> DataFrame:
    """Streaming mergeable QUANTILE state: per (window, event_type) the
    aggregate is a KLL sketch of the values (plus a provisional median
    estimate for dashboards). Sink rows fold together with
    ``kll_sketch_merge_double`` — the quantile dual of
    ``windowed_hll_sketches``, and the streaming half of the q60/q61
    batch rollups (plans/sketches.py): daily batch sketches and live
    window sketches combine without replaying events. State per open
    window is O(k log n) doubles; closed windows evict at the watermark.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(
            F.expr(f"kll_sketch_agg_double({value_col}, {k})").alias(
                "value_sketch"
            ),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "value_sketch",
            F.expr(
                "kll_sketch_get_quantile_double(value_sketch, 0.5)"
            ).alias("approx_median"),
            "n_events",
        )
    )
