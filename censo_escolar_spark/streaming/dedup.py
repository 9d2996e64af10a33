"""Streaming corpus ingestion with dedup against the published corpus:
the streaming twin of ``operators/dedup.incremental_dedup`` (d14).

Each micro-batch of crawled documents is deduped against everything
already published — a new doc near-dup to a published one is dropped,
survivors near-dedup among themselves, and only cluster winners append
to the published state. The drop-then-cluster semantics (and their
deliberate divergence from full recompute: increments never
retroactively delete published docs) are the operator's; this module
only adds the micro-batch state discipline.

State is the SIGNATURE INDEX, not text: the published side is stored as
per-doc minhash sketches ``(id, signature, sh_set)`` plus the exploded
band-key index ``(id, band_idx, band_hash)`` partitioned by a band-hash
bucket. An increment probes the stored index with an equi-join
(``operators/dedup.incremental_dedup_indexed``) — the published text is
NEVER re-read, re-shingled, or re-hashed, so per-batch work is
O(batch), independent of corpus size. Published text lives in a
separate ``corpus`` component that the dedup path only appends to.

Because the DEDUP path never retroactively deletes published docs, the
state is APPEND-ONLY: each micro-batch writes exactly its own
``batch=<batch_id>`` partition of every component (corpus / sketches /
bands) and touches no other partition — O(batch) write amplification,
the streaming analogue of the reference's O1 per-year idempotent
increments (censo_escolar.py:39-60). Exactly-once still holds:
Structured Streaming may re-run a micro-batch with the same batch id;
the retry reads only partitions strictly below its own id and fully
overwrites its own ``batch=<id>`` directories, so replays converge.

Every ``compact_every`` batches the maintainer folds all committed
``batch=`` partitions strictly below the current id into one partition
per component (``compact_published``) so directory-listing depth stays
bounded on a long-running crawl; the fold is live-view-preserving (a
retried batch reads the same published state) and crash-safe via the
same two-phase marker commit as ``bucketstate.compact_state``.

The one NON-append operation is the right-to-be-forgotten path
(``apply_corpus_delete_batch``): id tombstones append as their own
``deletes`` batches (still O(batch) writes); readers and the ingest
probe subtract them with the arrival-ordered anti-join shared with the
IVF index (streaming/ivfindex.py), and the compaction fold physically
reclaims tombstoned text/sketch/band rows from the files. Control-
plane I/O goes through the Hadoop FileSystem API, so the store runs on
any Hadoop-supported filesystem, with the same object-store rename
caveat as bucketstate.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from censo_escolar_spark.operators.dedup import (
    MINHASH_BANDS,
    MINHASH_ROWS,
    band_keys,
    incremental_dedup_indexed,
    minhash_sketches,
)
from censo_escolar_spark.sources.hadoopfs import hadoop_fs, list_children
from censo_escolar_spark.streaming.bucketstate import (
    checked_delete,
    checked_rename,
)

#: Band-hash bucket count for the stored index layout. Fixture-sized
#: here; at 100 TB this is thousands, sized so one bucket's band rows
#: fit an executor, and the probe join is co-located on the bucket.
N_BUCKETS = 8

#: Fold the ``batch=`` partition history every K micro-batches.
COMPACT_EVERY = 16

#: Root-level marker naming the store's signature layout
#: (``_signature_k_<bands*rows>``). Written once when a store first
#: validates; later batches check layout with one driver-side listing
#: (already performed by recovery) instead of a per-batch peek JOB —
#: and a deleted-and-rebuilt store loses its marker with the rest of
#: its state, so the check can never go stale (unlike an in-process
#: cache).
_SIGNATURE_MARKER = "_signature_k_"

_COMPONENTS = ("corpus", "sketches", "bands", "deletes")
_COMPACT_TMP = "_compact_tmp_"
_COMPACT_COMMIT = "_compact_commit_"


def _component(state_dir: str, name: str) -> str:
    return posixpath.join(state_dir, name)


def _schemas(id_col: str, text_col: str) -> dict[str, str]:
    return {
        "corpus": f"{id_col} bigint, {text_col} string",
        "sketches": f"{id_col} bigint, signature array<bigint>, sh_set array<bigint>",
        "bands": f"{id_col} bigint, band_idx int, band_hash bigint, bucket int",
        "deletes": f"{id_col} bigint",
    }


def _read_component(
    spark: SparkSession,
    root: str,
    schema: str,
    below: int,
    *,
    keep_batch: bool = False,
) -> DataFrame:
    """All committed ``batch=<id>`` partitions strictly below ``below``
    (empty frame of ``schema`` if none). Reads the component ROOT with
    ``batch`` as a partition column and prunes with a filter — listing
    individual batch directories instead trips Spark's partition
    discovery when a component (bands) nests further partition dirs.
    The explicit schema makes empty-batch directories read as zero rows.
    ``keep_batch=True`` retains the batch column for readers whose
    semantics are arrival-ordered (the IVF index's delete tombstones).
    """
    fs, jvm = hadoop_fs(spark, root)
    if not any(
        d.startswith("batch=") for d in list_children(fs, jvm, root)
    ):
        empty = spark.createDataFrame([], f"{schema}, batch int")
        return empty if keep_batch else empty.drop("batch")
    out = (
        spark.read.schema(f"{schema}, batch int")
        .parquet(root)
        .filter(F.col("batch") < below)
    )
    return out if keep_batch else out.drop("batch")


def _tombstones(
    spark: SparkSession, state_dir: str, id_col: str, below: int
) -> DataFrame | None:
    """Committed delete tombstones ``(id, batch)`` strictly below
    ``below`` — or None when the store has no deletes component at all,
    so the (common) delete-free store keeps its exact pre-delete read
    plans and cost."""
    root = _component(state_dir, "deletes")
    fs, jvm = hadoop_fs(spark, root)
    if not any(d.startswith("batch=") for d in list_children(fs, jvm, root)):
        return None
    tombs = _read_component(
        spark, root, f"{id_col} bigint", below, keep_batch=True
    )
    # a fold CONSUMES tombstones but leaves an empty batch=<upto> dir;
    # without this (tiny — the component holds only ids) emptiness
    # probe, one historical delete would pin every future read to the
    # anti-join slow path forever
    if tombs.isEmpty():
        return None
    return tombs


def _subtract_deleted(live: DataFrame, tombs: DataFrame, id_col: str) -> DataFrame:
    """``live`` (…, batch) minus arrival-ordered tombstones: a tombstone
    removes only rows published STRICTLY BEFORE it (the s23 semantics —
    a later re-ingest of the same id is a new live row, and the live
    view is independent of when compaction runs, because folded rows are
    rebatched to ``upto`` which stays strictly below any surviving
    tombstone's batch)."""
    cond = (F.col(f"l.{id_col}") == F.col(f"d.{id_col}")) & (
        F.col("l.batch") < F.col("d.batch")
    )
    return live.alias("l").join(tombs.alias("d"), cond, "left_anti")


def read_published(
    spark: SparkSession,
    state_dir: str,
    *,
    schema: str = "doc_id bigint, text string",
    below: int | None = None,
) -> DataFrame:
    """The published LIVE corpus (id, text): union of every committed
    batch partition of the ``corpus`` component (empty frame if none),
    minus committed right-to-be-forgotten tombstones below the same
    horizon (apply_corpus_delete_batch)."""
    _recover_published(spark, state_dir)
    hi = below if below is not None else 1 << 62
    id_col = schema.split(",", 1)[0].split()[0]
    tombs = _tombstones(spark, state_dir, id_col, hi)
    corpus = _read_component(
        spark, _component(state_dir, "corpus"), schema, hi,
        keep_batch=tombs is not None,
    )
    if tombs is None:
        return corpus
    return _subtract_deleted(corpus, tombs, id_col).drop("batch")


def _finish_batch_compaction(
    fs, jvm, state_dir: str, upto: int, components
) -> None:
    """Phase 2 (idempotent, also the crash-recovery path): per component,
    delete superseded ``batch=`` dirs and rename the folded temp into
    ``batch=<upto>``; drop the marker last."""

    def jp(*parts):
        return jvm.org.apache.hadoop.fs.Path(posixpath.join(*parts))

    for comp in components:
        root = _component(state_dir, comp)
        tmp = jp(root, f"{_COMPACT_TMP}{upto}")
        if not fs.exists(tmp):
            continue  # this component already swapped (or never existed)
        for bd in list_children(fs, jvm, root):
            if not bd.startswith("batch="):
                continue
            try:
                b = int(bd.split("=", 1)[1])
            except ValueError:
                continue
            if b <= upto:
                checked_delete(fs, jp(root, bd), True)
        checked_rename(fs, tmp, jp(root, f"batch={upto}"))
    checked_delete(fs, jp(state_dir, f"{_COMPACT_COMMIT}{upto}"), False)


def recover_batch_store(spark: SparkSession, state_dir: str, components) -> None:
    """Finish any compaction that crashed after its commit marker."""
    fs, jvm = hadoop_fs(spark, state_dir)
    for name in list_children(fs, jvm, state_dir):
        if name.startswith(_COMPACT_COMMIT):
            _finish_batch_compaction(
                fs, jvm, state_dir, int(name[len(_COMPACT_COMMIT):]), components
            )


def compact_batch_store(
    spark: SparkSession,
    state_dir: str,
    *,
    upto: int,
    layout: dict[str, tuple[str, list[str]]],
    fold=None,
) -> None:
    """Fold every committed ``batch=<id>`` partition at-or-below
    ``upto`` of each component into a single ``batch=<upto>`` partition,
    bounding listing depth for a long-running stream. ``layout`` maps
    component name -> (schema, sub-partition columns). Contents-
    preserving by construction (the default fold is a plain union), so
    any read below any point resolves the same state before and after.

    ``fold`` (optional) maps {component: DataFrame} -> {component:
    DataFrame} over the read history before the folded write — the LSM
    merge hook. Fold inputs RETAIN the ``batch`` column (arrival order);
    fold outputs must drop it (everything lands in ``batch=<upto>``). A
    fold must preserve the store's LIVE VIEW (whatever its readers
    resolve), not necessarily raw rows: the IVF index uses it to
    physically drop tombstoned rows and the consumed tombstones together
    (streaming/ivfindex.py::_fold_deletes), which leaves every probe
    result unchanged.

    Crash safety mirrors ``bucketstate.compact_state``: all components'
    folded partitions are fully written to temp directories first, one
    atomically-created marker commits the swap, and phase 2 (delete
    superseded ``batch=`` dirs, rename temps into place, drop the
    marker) is idempotent and finished by ``recover_batch_store`` on the
    next state read after a crash."""
    fs, jvm = hadoop_fs(spark, state_dir)
    recover_batch_store(spark, state_dir, list(layout))
    if upto < 0:
        return
    _stage_batch_compaction(spark, state_dir, upto=upto, layout=layout, fold=fold)
    _finish_batch_compaction(fs, jvm, state_dir, upto, list(layout))


def _stage_batch_compaction(
    spark: SparkSession,
    state_dir: str,
    *,
    upto: int,
    layout: dict[str, tuple[str, list[str]]],
    fold=None,
) -> None:
    """Phase 1 of ``compact_batch_store`` ONLY: write every component's
    folded partition to its temp directory, then atomically create the
    commit marker — and stop. A process dying between the two phases
    leaves exactly this state, so this is the CRASH-INJECTION SEAM the
    restart-parity row (d23) and the crash-recovery tests drive; the
    next state read (``recover_batch_store``, called by every batch
    apply and reader) finishes the swap idempotently."""
    fs, jvm = hadoop_fs(spark, state_dir)

    def jp(*parts):
        return jvm.org.apache.hadoop.fs.Path(posixpath.join(*parts))

    frames = {
        comp: _read_component(
            spark, _component(state_dir, comp), schema, upto + 1,
            keep_batch=True,
        )
        for comp, (schema, _) in layout.items()
    }
    if fold is not None:
        frames = fold(frames)  # contract: fold drops the batch column
    else:
        frames = {comp: df.drop("batch") for comp, df in frames.items()}
    for comp, (schema, parts) in layout.items():
        root = _component(state_dir, comp)
        tmp = posixpath.join(root, f"{_COMPACT_TMP}{upto}")
        fs.delete(jp(tmp), True)  # stale pre-marker attempt, if any
        w = frames[comp].write.mode("overwrite")
        if parts:
            w = w.partitionBy(*parts)
        w.parquet(tmp)
    fs.create(jp(state_dir, f"{_COMPACT_COMMIT}{upto}"), False).close()


def stage_published_compaction(
    spark: SparkSession,
    state_dir: str,
    *,
    upto: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Stage (phase 1 + marker, NO swap) a compaction of the text-dedup
    store — the mid-compaction crash state for restart parity."""
    _stage_batch_compaction(
        spark,
        state_dir,
        upto=upto,
        layout=_layout(id_col, text_col),
        fold=lambda frames: _fold_corpus_deletes(frames, id_col),
    )


def _layout(id_col: str, text_col: str) -> dict[str, tuple[str, list[str]]]:
    s = _schemas(id_col, text_col)
    return {
        "corpus": (s["corpus"], []),
        "sketches": (s["sketches"], []),
        "bands": (s["bands"], ["bucket"]),
        "deletes": (s["deletes"], []),
    }


def _fold_corpus_deletes(
    frames: dict[str, DataFrame], id_col: str
) -> dict[str, DataFrame]:
    """Compaction fold (the LSM merge, ivfindex._fold_deletes's text
    twin): physically reclaim tombstoned rows from every component and
    drop the consumed tombstones — a forgotten document's text, sketch,
    and band keys leave the store's FILES, not just its live view.
    Live-view preserving: readers resolve component MINUS arrival-
    ordered deletes, which removing matched pairs doesn't change; every
    folded tombstone is fully consumed (all rows it could ever affect
    are in the fold). With no tombstones this degenerates to the plain
    contents-preserving union."""
    tombs = frames["deletes"]
    out = {
        comp: _subtract_deleted(frames[comp], tombs, id_col).drop("batch")
        for comp in ("corpus", "sketches", "bands")
    }
    out["deletes"] = tombs.filter(F.lit(False)).drop("batch")
    return out


def _recover_published(spark: SparkSession, state_dir: str) -> None:
    recover_batch_store(spark, state_dir, _COMPONENTS)


def compact_published(
    spark: SparkSession,
    state_dir: str,
    *,
    upto: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Fold the text-dedup store's components (corpus/sketches/bands/
    deletes) — see ``compact_batch_store`` for the protocol; the fold
    physically reclaims tombstoned rows (``_fold_corpus_deletes``)."""
    compact_batch_store(
        spark,
        state_dir,
        upto=upto,
        layout=_layout(id_col, text_col),
        fold=lambda frames: _fold_corpus_deletes(frames, id_col),
    )


def apply_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    bands: int = MINHASH_BANDS,
    rows: int = MINHASH_ROWS,
    compact_every: int | None = COMPACT_EVERY,
) -> None:
    """The foreachBatch body (exposed for direct testing / backfills).

    Reads the stored sketch + band index strictly below ``batch_id``,
    labels the batch with ``incremental_dedup_indexed``, and appends the
    kept docs' text / sketches / band keys as this batch's partitions.
    ``bands``/``rows`` fix the banding layout of BOTH the stored index
    and the fresh batch (validated against stored signature length in
    ``incremental_dedup_indexed`` — a mismatched layout raises instead
    of silently losing candidates).
    """
    spark = batch_df.sparkSession
    _recover_published(spark, state_dir)
    schemas = _schemas(id_col, text_col)

    # probe the LIVE index: a forgotten (tombstoned) document must stop
    # suppressing future near-dups the moment its delete batch commits
    tombs = _tombstones(spark, state_dir, id_col, batch_id)
    pub_sketches = _read_component(
        spark, _component(state_dir, "sketches"), schemas["sketches"], batch_id,
        keep_batch=tombs is not None,
    )
    pub_bands = _read_component(
        spark, _component(state_dir, "bands"), schemas["bands"], batch_id,
        keep_batch=tombs is not None,
    ).drop("bucket")
    if tombs is not None:
        pub_sketches = _subtract_deleted(pub_sketches, tombs, id_col).drop("batch")
        pub_bands = _subtract_deleted(pub_bands, tombs, id_col).drop("batch")

    batch = batch_df.select(id_col, text_col)
    batch_sk = minhash_sketches(
        batch, id_col, text_col, k=bands * rows
    ).localCheckpoint(eager=True)
    # validate the stored layout against the store's root marker (one
    # driver-side listing; the batch side is built with k = bands*rows
    # above, correct by construction). A marker-less store — first
    # bootstrap or legacy — falls back to the one-row peek, and the
    # marker is only written after a NON-VACUOUS peek passes.
    from censo_escolar_spark.operators.dedup import validate_signature_layout

    k = bands * rows
    fs, jvm = hadoop_fs(spark, state_dir)
    markers = [
        c
        for c in list_children(fs, jvm, state_dir)
        if c.startswith(_SIGNATURE_MARKER)
    ]
    if markers:
        stored = {int(c[len(_SIGNATURE_MARKER):]) for c in markers}
        if stored != {k}:
            raise ValueError(
                f"store {state_dir} was built with signature length"
                f" {sorted(stored)}, not bands*rows = {k}; pass the"
                " bands/rows the index was built with"
            )
    elif validate_signature_layout(
        pub_sketches, "published_sketches", bands=bands, rows=rows
    ):
        jpath = jvm.org.apache.hadoop.fs.Path(
            posixpath.join(state_dir, f"{_SIGNATURE_MARKER}{k}")
        )
        fs.create(jpath, True).close()
    labeled = incremental_dedup_indexed(
        batch,
        pub_sketches,
        id_col,
        text_col,
        new_sketches=batch_sk,
        published_bands=pub_bands,
        threshold=threshold,
        bands=bands,
        rows=rows,
        validate=False,
    )
    keep_ids = labeled.filter(F.col("keep")).select(id_col).localCheckpoint(eager=True)

    part = f"batch={batch_id}"
    kept_sk = batch_sk.join(keep_ids, id_col)
    writes = [
        (batch.join(keep_ids, id_col), "corpus", []),
        (kept_sk, "sketches", []),
        (
            band_keys(kept_sk, id_col, bands=bands, rows=rows).withColumn(
                "bucket", F.pmod(F.col("band_hash"), F.lit(N_BUCKETS)).cast("int")
            ),
            "bands",
            ["bucket"],
        ),
    ]
    # the three component writes are independent (all derive from the
    # two checkpointed frames) — submit them concurrently so the batch
    # pays max(write) instead of sum(write); Spark's scheduler runs
    # concurrent jobs from separate threads natively
    from concurrent.futures import ThreadPoolExecutor

    def _write(item) -> None:
        df, name, parts = item
        w = df.write.mode("overwrite")
        if parts:
            w = w.partitionBy(*parts)
        w.parquet(posixpath.join(_component(state_dir, name), part))

    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        list(pool.map(_write, writes))
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        compact_published(
            spark, state_dir, upto=batch_id - 1, id_col=id_col, text_col=text_col
        )


def apply_corpus_delete_batch(
    ids_df: DataFrame,
    batch_id: int,
    *,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = COMPACT_EVERY,
) -> None:
    """Right-to-be-forgotten: delete a batch of document ids from the
    published corpus AND its signature index.

    The ids append as this batch's partition of the ``deletes``
    component — O(batch), no published partition is read or rewritten.
    Effects, all via the arrival-ordered tombstone semantics shared with
    the IVF index (streaming/ivfindex.py):

    - ``read_published`` no longer returns the docs;
    - later ingest batches no longer dedup against them (a new near-dup
      of a forgotten doc PUBLISHES — the forgotten doc can't keep
      influencing retention);
    - the cadence compaction fold physically reclaims the text, sketch,
      and band rows from the store's files (``_fold_corpus_deletes``),
      which is what makes this an actual forget, not a view filter;
    - a re-ingest of the same id AFTER the delete is a new live row
      (tombstones only remove rows published strictly before them);
    - deleting a never-published id is a harmless no-op.

    Retry-idempotent like the ingest path: a re-run fully overwrites its
    own ``batch=<id>`` directory and reads nothing newer."""
    spark = ids_df.sparkSession
    _recover_published(spark, state_dir)
    ids_df.select(F.col(id_col).cast("bigint").alias(id_col)).write.mode(
        "overwrite"
    ).parquet(posixpath.join(_component(state_dir, "deletes"), f"batch={batch_id}"))
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        compact_published(
            spark, state_dir, upto=batch_id - 1, id_col=id_col, text_col=text_col
        )


def maintain_deduped_corpus(
    docs: DataFrame,
    *,
    state_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    bands: int = MINHASH_BANDS,
    rows: int = MINHASH_ROWS,
    compact_every: int | None = COMPACT_EVERY,
) -> None:
    """Drain everything currently available through the dedup maintainer
    (availableNow trigger — the test/backfill entry point; a production
    crawl stream runs the same query continuously)."""
    q = (
        docs.writeStream.foreachBatch(
            lambda df, bid: apply_dedup_batch(
                df,
                bid,
                state_dir=state_dir,
                id_col=id_col,
                text_col=text_col,
                threshold=threshold,
                bands=bands,
                rows=rows,
                compact_every=compact_every,
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
