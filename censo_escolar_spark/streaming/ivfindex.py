"""Incremental maintenance for the stored IVF index: the growing-corpus
form of ``operators/similarity.write_ivf_index``.

``write_ivf_index`` is build-once — a growing corpus would re-assign
and re-write every vector per refresh. This maintainer instead gives
the index the batch-store treatment proven by the image-dedup state
(``streaming/imagededup.py``): each micro-batch of new vectors is
assigned to its coarse cell ONCE and appended as exactly its own
``index/batch=<id>/cell=<c>/`` partitions — O(batch) work and write
amplification, independent of index size. A probe reads the UNION of
committed batches, partition-PRUNED on both the probed cells and the
batch horizon; every ``compact_every`` batches the history folds into
one partition per cell via the crash-safe two-phase marker commit
(``streaming/dedup.compact_batch_store``), bounding listing depth on a
long-running ingest.

The coarse quantizer is trained once and FROZEN (the standard stored-
ANN-index contract: increments assign to the existing cells; re-train
is an offline rebuild). Deterministic assignment makes retries converge:
a re-run of batch N reads nothing of its own half-written output and
fully overwrites its own ``batch=N`` partitions.

Deletions are id TOMBSTONES appended as their own batches of a
``deletes`` component — O(batch), no index partition rewritten. A
tombstone removes only rows inserted strictly before it (batch-ordered
anti-join), so a later re-insert of the same id is a new live row and
the live view is independent of when compaction runs; the compaction
fold physically reclaims tombstoned rows and drops the consumed
tombstones (``_fold_deletes`` — the LSM merge).

Exactly-once, recovery, and compaction semantics are shared with (and
tested through) the text/image maintainers; parity is driver-gated by
s22 — three increments + in-loop compaction must equal s01 brute force.
"""

from __future__ import annotations

import posixpath

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from censo_escolar_spark.functions.vectors import as_double_array
from censo_escolar_spark.operators.similarity import (
    ivf_assign,
    probe_plan,
    topk_against_index,
    _TOPK_SCHEMA,
)
from censo_escolar_spark.streaming.dedup import (
    COMPACT_EVERY,  # the shared batch-store compaction cadence
    _component,
    _read_component,
    compact_batch_store,
    recover_batch_store,
)


_INDEX_SCHEMA = "id bigint, v array<double>, cell int"
_DELETE_SCHEMA = "id bigint"


def _index_schema(meta_schema: str = "") -> str:
    """The index component's read schema; stored metadata columns (the
    filtered-probe lane, s28) slot between the vector and the ``cell``
    partition column."""
    meta = f", {meta_schema}" if meta_schema else ""
    return f"id bigint, v array<double>{meta}, cell int"


#: vectors sub-partitioned by the coarse cell id so a probe of nprobe
#: cells stays a partition-pruned scan inside every batch dir, plus an
#: id-tombstone component for deletions
_LAYOUT = {"index": (_INDEX_SCHEMA, ["cell"]), "deletes": (_DELETE_SCHEMA, [])}


def _layout_for(meta_schema: str = "") -> dict:
    """Store layout; compactions of meta-bearing stores (s28) must fold
    with the meta-aware index schema or the fold would silently DROP the
    stored metadata columns."""
    if not meta_schema:
        return _LAYOUT
    return {
        "index": (_index_schema(meta_schema), ["cell"]),
        "deletes": (_DELETE_SCHEMA, []),
    }


def _delete_cond(i: str, d: str):
    """A tombstone removes only rows inserted STRICTLY BEFORE it
    (arrival-ordered delete semantics): a later re-insert of the same id
    is a new live row. The batch-column comparison makes the live view
    independent of WHEN compaction runs — folded rows are rebatched to
    ``upto``, which stays strictly below any surviving tombstone's
    batch (a tombstone at D survives a fold only when upto < D)."""
    return (F.col(f"{i}.id") == F.col(f"{d}.id")) & (
        F.col(f"{i}.batch") < F.col(f"{d}.batch")
    )


def _fold_deletes(frames: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Compaction fold (the LSM merge): physically drop tombstoned rows
    and the consumed tombstones together. Live-view preserving: every
    probe reads index MINUS arrival-ordered deletes, which is unchanged
    by removing matched pairs — and every folded tombstone is fully
    consumed (all index rows it could ever affect are in the fold)."""
    live = (
        frames["index"].alias("i")
        .join(frames["deletes"].alias("d"), _delete_cond("i", "d"), "left_anti")
        .drop("batch")
    )
    return {
        "index": live,
        "deletes": frames["deletes"].filter(F.lit(False)).drop("batch"),
    }


def read_ivf_index_state(
    spark: SparkSession,
    state_dir: str,
    *,
    below: int | None = None,
    meta_schema: str = "",
) -> DataFrame:
    """The committed LIVE index ``(id, v[, meta...], cell)``: union of
    every committed batch partition strictly below ``below`` (all if
    None), minus the committed tombstones below the same horizon;
    finishes any marker-committed compaction first. ``meta_schema``
    names stored metadata columns (e.g. ``"label int"``) for stores
    built with ``meta_cols``."""
    recover_batch_store(spark, state_dir, list(_LAYOUT))
    hi = below if below is not None else 1 << 62
    index = _read_component(
        spark, _component(state_dir, "index"), _index_schema(meta_schema), hi,
        keep_batch=True,
    )
    deletes = _read_component(
        spark, _component(state_dir, "deletes"), _DELETE_SCHEMA, hi,
        keep_batch=True,
    )
    return (
        index.alias("i")
        .join(deletes.alias("d"), _delete_cond("i", "d"), "left_anti")
        .drop("batch")
    )


def apply_ivf_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    state_dir: str,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_cols: tuple[str, ...] = (),
    compact_every: int | None = COMPACT_EVERY,
) -> None:
    """The foreachBatch body (exposed for direct testing / backfills):
    assign the batch's vectors to their frozen coarse cells — one GEMM
    per Arrow batch, the only time these vectors are ever scored against
    the quantizer — and append them as this batch's cell-partitioned
    ``batch=<id>`` directory. Never reads prior batches: unlike the
    dedup maintainers there is no probe step on ingest, so a batch costs
    exactly its own assignment + write. ``meta_cols`` stores metadata
    columns alongside each vector (the filtered-probe lane: readers
    name them back via ``meta_schema``)."""
    spark = batch_df.sparkSession
    meta_schema = ", ".join(
        f"{m} {batch_df.schema[m].dataType.simpleString()}" for m in meta_cols
    )
    recover_batch_store(spark, state_dir, list(_LAYOUT))
    assigned = ivf_assign(batch_df, centroids, vec_col=vec_col).select(
        # cast: every reader forces the fixed "id bigint" schema, so an
        # int32 id column must widen at WRITE time (the delete path
        # casts identically — mixed widths would crash the probe's
        # vectorized parquet read)
        F.col(id_col).cast("bigint").alias("id"),
        as_double_array(vec_col).alias("v"),
        *[F.col(m) for m in meta_cols],
        F.col("__centroid_id").alias("cell"),
    )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        posixpath.join(_component(state_dir, "index"), f"batch={batch_id}")
    )
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        compact_batch_store(
            spark, state_dir, upto=batch_id - 1,
            layout=_layout_for(meta_schema), fold=_fold_deletes,
        )


def apply_ivf_delete_batch(
    ids_df: DataFrame,
    batch_id: int,
    *,
    state_dir: str,
    id_col: str = "vec_id",
    meta_schema: str = "",
    compact_every: int | None = COMPACT_EVERY,
) -> None:
    """Delete a batch of vector ids from the index: append the ids as
    this batch's partition of the ``deletes`` component — O(batch), no
    index partition is read or rewritten. Probes subtract committed
    tombstones; the compaction fold physically removes tombstoned rows
    (and the consumed tombstones, so a later re-insert of the same id is
    a new row, not a suppressed one). Deleting an id that was never
    inserted is a harmless no-op. Retry-idempotent like the insert path:
    a re-run overwrites its own ``batch=<id>`` directory."""
    spark = ids_df.sparkSession
    recover_batch_store(spark, state_dir, list(_LAYOUT))
    ids_df.select(F.col(id_col).cast("bigint").alias("id")).write.mode(
        "overwrite"
    ).parquet(posixpath.join(_component(state_dir, "deletes"), f"batch={batch_id}"))
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        compact_batch_store(
            spark, state_dir, upto=batch_id - 1,
            layout=_layout_for(meta_schema), fold=_fold_deletes,
        )


def ivf_topk_incremental(
    spark: SparkSession,
    state_dir: str,
    queries: DataFrame,
    centroids: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int | None = 4,
    below: int | None = None,
) -> DataFrame:
    """IVF top-k against the INCREMENTALLY-maintained index: the same
    probe plan + pruned-scan + cell equi-join as ``ivf_topk_indexed``,
    reading the batch store instead of a one-shot index — the scan is
    partition-pruned on the probed cells (and the ``below`` batch
    horizon), never a full-index read. ``nprobe=None`` equals brute
    force over everything published, which is what s22's oracle checks."""
    probes, needed = probe_plan(
        spark, queries, centroids, id_col=id_col, vec_col=vec_col, nprobe=nprobe
    )
    if probes is None:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    index = read_ivf_index_state(spark, state_dir, below=below).filter(
        F.col("cell").isin(needed)
    )
    return topk_against_index(index, probes, k=k)


def ivf_topk_incremental_filtered(
    spark: SparkSession,
    state_dir: str,
    queries: DataFrame,
    centroids: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    match_col: str = "label",
    k: int = 5,
    nprobe: int | None = 4,
    below: int | None = None,
) -> DataFrame:
    """Metadata-filtered ANN over the INCREMENTAL store: the s26
    predicate (each query retrieves top-k only among indexed vectors
    sharing its ``match_col`` value) against the growing, tombstone-
    aware batch store — the tenant-filtered query against a live corpus
    that previously fell back to unfiltered probe + post-filter.

    Same layout as ``operators/similarity.ivf_topk_indexed_filtered``:
    the scan is partition-pruned on the probed cells (and the batch
    horizon), row-group-filtered on the bounded query set's match
    values, then the per-query restriction completes through the
    (cell, match) equi-join; tombstones subtract via the shared
    arrival-ordered anti-join BEFORE any distance math. The match
    column's type comes from the always-present query frame (the s26
    empty-corpus lesson: an empty store has no footers to read).

    Contract: the query frame is BOUNDED (the s01 top-k contract — at
    most a few thousand query rows), because its distinct match values
    are collected to the driver for the pushed ``isin`` row-group
    filter and the probe side is broadcast; an unbounded query frame
    belongs in the kNN-join operator instead. Rows whose ``match_col``
    is NULL retrieve nothing: ``isin`` and the equi-join both drop
    NULLs, consistent with the equi-join oracle semantics."""
    mtype = queries.schema[match_col].dataType.simpleString()
    probes, needed = probe_plan(
        spark, queries, centroids, id_col=id_col, vec_col=vec_col, nprobe=nprobe
    )
    if probes is None:
        return spark.createDataFrame(
            [],
            f"query_id long, neighbor_id long, {match_col} {mtype},"
            " cos double, rank int",
        )
    from pyspark.sql import Window

    from censo_escolar_spark.functions.vectors import cosine

    qmeta = queries.select(
        F.col(id_col).alias("q_id"), F.col(match_col).alias("__qm")
    )
    pr = probes.join(F.broadcast(qmeta), "q_id").withColumnRenamed(
        "cell", "p_cell"
    )
    vals = [r["__qm"] for r in qmeta.select("__qm").distinct().collect()]
    index = (
        read_ivf_index_state(
            spark, state_dir, below=below, meta_schema=f"{match_col} {mtype}"
        )
        .filter(F.col("cell").isin(needed))
        .filter(F.col(match_col).isin(vals))
        .withColumnRenamed(match_col, "__m")
    )
    scored = index.join(
        F.broadcast(pr),
        (F.col("cell") == F.col("p_cell"))
        & (F.col("__m") == F.col("__qm"))
        & (F.col("id") != F.col("q_id")),
    ).withColumn("cos", cosine(F.col("q_v"), F.col("v")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("q_id").alias("query_id"),
            F.col("id").alias("neighbor_id"),
            F.col("__m").alias(match_col),
            "cos",
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# Incremental IVF-PQ: the COMPRESSED member of the maintained-index
# family. Same batch-store discipline as the raw-vector store above —
# append-only batch=<id>/cell=<c> partitions, arrival-ordered delete
# tombstones, the delete-aware LSM fold — but each partition holds
# (id, pq_code) rows, m bytes per vector. Batches are encoded against
# FROZEN codebooks (trained once at index build, like the frozen coarse
# quantizer): at 100 TB the growing index is exactly the one you want
# compressed, and re-training codebooks per batch would silently change
# the meaning of every previously stored code. The float vectors stay
# in their source table; probes re-rank the bounded top-`rerank` pool
# against it by id (operators/pq.py's ADC + exact re-rank back half).
# ---------------------------------------------------------------------------
_PQ_INDEX_SCHEMA = "id bigint, pq_code array<int>, cell int"
_PQ_LAYOUT = {
    "index": (_PQ_INDEX_SCHEMA, ["cell"]),
    "deletes": (_DELETE_SCHEMA, []),
}


def apply_ivfpq_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    state_dir: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every: int | None = COMPACT_EVERY,
) -> None:
    """foreachBatch body for the compressed index: assign the batch to
    its frozen coarse cells (one GEMM per Arrow batch), PQ-encode
    against the FROZEN codebooks (m GEMMs per Arrow batch), and append
    the (id, pq_code) rows as this batch's cell-partitioned
    ``batch=<id>`` directory — O(batch) work and m bytes/vector of new
    state, never a read of prior batches. Retry-idempotent like the raw
    store (a re-run overwrites its own batch directory)."""
    from censo_escolar_spark.operators.pq import pq_encode
    from censo_escolar_spark.operators.similarity import ivf_assign

    spark = batch_df.sparkSession
    recover_batch_store(spark, state_dir, list(_PQ_LAYOUT))
    coded = pq_encode(
        ivf_assign(batch_df, centroids, vec_col=vec_col),
        codebooks,
        id_col=id_col,
        vec_col=vec_col,
    ).select(
        F.col(id_col).cast("bigint").alias("id"),
        "pq_code",
        F.col("__centroid_id").alias("cell"),
    )
    coded.write.mode("overwrite").partitionBy("cell").parquet(
        posixpath.join(_component(state_dir, "index"), f"batch={batch_id}")
    )
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        compact_batch_store(
            spark, state_dir, upto=batch_id - 1,
            layout=_PQ_LAYOUT, fold=_fold_deletes,
        )


def apply_ivfpq_delete_batch(
    ids_df: DataFrame,
    batch_id: int,
    *,
    state_dir: str,
    id_col: str = "vec_id",
    compact_every: int | None = COMPACT_EVERY,
) -> None:
    """Tombstone a batch of vector ids in the COMPRESSED index — the
    s23 delete semantics verbatim (arrival-ordered; fold reclaims codes
    and consumed tombstones; deleting a never-coded id is a no-op; a
    later re-insert is a new live row)."""
    spark = ids_df.sparkSession
    recover_batch_store(spark, state_dir, list(_PQ_LAYOUT))
    ids_df.select(F.col(id_col).cast("bigint").alias("id")).write.mode(
        "overwrite"
    ).parquet(posixpath.join(_component(state_dir, "deletes"), f"batch={batch_id}"))
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        compact_batch_store(
            spark, state_dir, upto=batch_id - 1,
            layout=_PQ_LAYOUT, fold=_fold_deletes,
        )


def read_ivfpq_index_state(
    spark: SparkSession,
    state_dir: str,
    *,
    below: int | None = None,
) -> DataFrame:
    """The committed LIVE codes ``(id, pq_code, cell)`` below the
    ``below`` horizon (s29 snapshot semantics: only horizons at-or-above
    the last fold resolve), minus arrival-ordered tombstones; finishes
    any marker-committed compaction first."""
    recover_batch_store(spark, state_dir, list(_PQ_LAYOUT))
    hi = below if below is not None else 1 << 62
    index = _read_component(
        spark, _component(state_dir, "index"), _PQ_INDEX_SCHEMA, hi,
        keep_batch=True,
    )
    deletes = _read_component(
        spark, _component(state_dir, "deletes"), _DELETE_SCHEMA, hi,
        keep_batch=True,
    )
    return (
        index.alias("i")
        .join(deletes.alias("d"), _delete_cond("i", "d"), "left_anti")
        .drop("batch")
    )


def ivfpq_topk_incremental(
    spark: SparkSession,
    state_dir: str,
    queries: DataFrame,
    vectors: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int | None = 4,
    rerank: int = 50,
    below: int | None = None,
) -> DataFrame:
    """IVF-PQ top-k against the INCREMENTALLY-maintained codes store:
    the probe scan is partition-pruned to the probed cells (and the
    batch horizon), reads m-byte codes only, ADC-scores them, and
    exactly re-ranks the bounded pool against ``vectors`` by id.
    ``nprobe=None`` + ``rerank >= |corpus|`` equals brute force over
    the LIVE set (the s30 oracle configuration)."""
    from censo_escolar_spark.operators.pq import (
        _ivfpq_adc_rerank,
        _ivfpq_probe_setup,
    )

    setup = _ivfpq_probe_setup(
        spark, queries, centroids, codebooks,
        id_col=id_col, vec_col=vec_col, nprobe=nprobe,
    )
    if setup is None:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos double, rank int"
        )
    probes, tables, needed = setup
    coded = (
        read_ivfpq_index_state(spark, state_dir, below=below)
        .filter(F.col("cell").isin(needed))
        .select(F.col("id").alias("c_id"), "cell", "pq_code")
    )
    return _ivfpq_adc_rerank(
        coded, probes, tables, codebooks.shape[0],
        queries=queries, vectors=vectors,
        id_col=id_col, vec_col=vec_col, rerank=rerank, k=k,
    )


def maintain_ivfpq_index(
    vectors: DataFrame,
    *,
    state_dir: str,
    checkpoint: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every: int | None = COMPACT_EVERY,
) -> None:
    """Drain everything currently available through the COMPRESSED
    index maintainer (availableNow trigger — the test/backfill entry
    point; a production embedding stream runs the same query
    continuously, encoding each micro-batch against the frozen
    codebooks)."""
    q = (
        vectors.writeStream.foreachBatch(
            lambda df, bid: apply_ivfpq_index_batch(
                df,
                bid,
                state_dir=state_dir,
                centroids=centroids,
                codebooks=codebooks,
                id_col=id_col,
                vec_col=vec_col,
                compact_every=compact_every,
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
