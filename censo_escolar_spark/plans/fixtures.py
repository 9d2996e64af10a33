"""Shared maintainer-store fixtures for the parity rows.

BENCH-HARNESS AMORTIZATION, NOT PRODUCTION MACHINERY. Each family of
stored-index parity rows (text dedup d19/d22/d23/d25, gated dedup d24,
BM25 t40/t41/t44, IVF s22/s23/s28/s29, IVF-PQ s30, plain-era IVF s31,
MERGE q72/q74/q75, compacted MERGE q73, SCD2 e33, stats e36/e49, image
m12/m15/m16) replays the same base-store construction before
diverging (extend / delete / crash / evolve / snapshot).
A production maintainer builds its store once and owns it for life —
these rows each need a PRIVATE store per invocation, so without
sharing, every row pays the whole base construction again. The
fixtures here build each base ONCE per (sf_dir, content) into a
process-lifetime cache (``streaming.shared_state``), and rows either

- read the cached tree IN PLACE when they only probe it (detach with
  ``streaming.detach`` — never delete the cache), or
- extend/mutate a ``clone_state`` hardlink clone (restart rows mutate
  checkpoints; fold rows rewrite partitions — clones own their
  directory entries, the cached inodes are never written in place).

Streaming bases (dedup_stream_base / merge_stream_base) carry a REAL
checkpoint from a real incarnation-A run. Spark's restart path
re-resolves the last committed batch's file paths
(MicroBatchExecution.populateStartOffsets re-calls getBatch), so the
stream SOURCE directory must keep its absolute path across restarts:
consumers reuse the fixture's own ``src`` dir (appending the next
slice is the one sanctioned mutation — it is idempotent, the file
content is deterministic) and clone only ``ckpt`` + ``state``.

The correctness story is unchanged: the first invocation in a process
builds the base through the very code path the row claims to prove,
and every divergence step still runs live per invocation.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from censo_escolar_spark.sources.readers import load_table
from censo_escolar_spark.streaming import (
    deploy_slices,
    shared_slices,
    shared_state,
    slice_dir,
    state_shuffle,
)

#: Parity-row state-store parallelism (see streaming.state_shuffle):
#: the fixture stores are kB-to-MB scale, where 32 shuffle partitions
#: are pure fixed overhead. Production sizes partitions to volume.
#: Round 11 measured the per-stream floor at 8/4/2 partitions (1.47/
#: 1.25/1.32 s warm on the harness) and settled on 4 — fewer state-
#: store instances per micro-batch without serializing the parity
#: aggregations; results are partition-count-invariant (asserted by
#: tests/test_determinism.py).
PARITY_SHUFFLE = 4


def prime(spark: SparkSession, sf_dir: str) -> None:
    """Build every process-shared maintainer base store for ``sf_dir``.

    The bench calls this ONCE, timed as its own line item
    (``fixtures``), so the per-row timings report each parity row's
    STEADY-STATE cost instead of charging whichever family row happens
    to run first with the whole base construction (round 10's d19/q72
    attribution skew). Correctness runs don't prime — the first toucher
    builds lazily through the same code path either way.

    The six families are INDEPENDENT store chains (disjoint cache keys,
    disjoint directories), so they build CONCURRENTLY from a small
    driver thread pool: Spark's FIFO scheduler back-fills executor slots
    freed by one family's single-task tail with the next family's jobs
    (optimization guide §2.6 — actions are only sequential because the
    driver calls them sequentially). Measured on the 32-core harness
    this cut the priming pass from the sum of the chains (~55 s) to
    about the longest chain. The pool wraps ONE outer ``state_shuffle``
    so every inner ``state_shuffle`` in the builders captures and
    restores the same value — the conf is session-global, and without
    the outer pin a builder finishing early could restore 32 while
    another family's stream is still starting (the state partition
    count is frozen into checkpoints at stream start, so that race
    would corrupt a restart fixture).
    """
    from concurrent.futures import ThreadPoolExecutor

    builders = (
        # Longest chains first, one pool worker each; measured
        # per-builder times are in the comments.
        image_deletes_store,     # ~20 s chain: image base (3 applies) + 2 (m12/m15/m16)
        dedup_full_store,        # ~19 s chain: real stream (2 batches) + 1 apply (d19/d22/d23/d25)
        lex_deletes_store,       # ~17 s chain: lex base (2) + delete + ingest (t40/t41/t44)
        curated_dedup_base,      # ~16 s: gate + 2 applies (d24)
        merge_full_store,        # ~15 s chain: real stream (2 waves) + 1 apply (q72/q74/q75)
        gated_image_base,        # ~14 s: 2 gated applies (m14)
        merge_compacted_base,    # ~14 s: 2 applies, fold each (q73)
        scd2_store_base,         # ~12 s: 2 applies (e33)
        ivf_deletes_store,       # ~12 s chain: ivf_meta_base too (s22/s23/s28/s29)
        stats_store_base,        # ~10 s: 3 applies (e36/e49)
        ivfpq_base,              # ~10 s (s30)
        ivf_plain_base,          # ~8 s (s31)
    )
    import sys
    import time

    def timed(b):
        t0 = time.perf_counter()
        b(spark, sf_dir)
        print(
            f"fixtures.prime: {b.__name__} {time.perf_counter() - t0:.2f}s",
            file=sys.stderr,
        )

    with state_shuffle(spark, PARITY_SHUFFLE):
        with ThreadPoolExecutor(max_workers=len(builders)) as pool:
            futures = [pool.submit(timed, b) for b in builders]
            for f in futures:
                f.result()


# ---------------------------------------------------------------------------
# documents %3 slices (shared with d23's stream deployment)
# ---------------------------------------------------------------------------
def docs_mod3_slices(spark: SparkSession, sf_dir: str) -> str:
    def build(root: str):
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        for i in range(3):
            docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
                slice_dir(root, i)
            )
        return "OK"

    cache, _ = shared_slices("docs_mod3", sf_dir, build)
    return cache


# ---------------------------------------------------------------------------
# Text-dedup store base: the REAL streaming maintainer drains document
# slices 0-1 (batch ids 0, 1; threshold 0.5, no cadence compaction)
# over a file source with a durable checkpoint. d19 extends a state
# clone with the third batch; d22 rebases its delete + reclaim-fold
# run on a state clone; d23 restarts a NEW incarnation over a cloned
# checkpoint + the fixture's src (mid-compaction crash staged on the
# clone first).
# ---------------------------------------------------------------------------
def dedup_stream_base(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Returns (fixture_root, slices_cache). fixture_root holds
    src/ ckpt/ state/ after incarnation A drained slices 0-1."""
    from censo_escolar_spark.streaming.dedup import maintain_deduped_corpus

    slices = docs_mod3_slices(spark, sf_dir)
    schema = spark.read.parquet(slice_dir(slices, 0)).schema

    def build(root: str):
        src, ckpt, state = (
            posixpath.join(root, d) for d in ("src", "ckpt", "state")
        )
        deploy_slices(slices, src, which=(0, 1))
        with state_shuffle(spark, PARITY_SHUFFLE):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            maintain_deduped_corpus(
                stream,
                state_dir=state,
                checkpoint=ckpt,
                threshold=0.5,
                compact_every=None,
            )
        return "OK"

    root, _ = shared_state("dedup_stream_base", sf_dir, build)
    return root, slices


def curated_dedup_base(spark: SparkSession, sf_dir: str) -> str:
    """d24's classifier-GATED dedup store after batches 1-2: the t42
    learned-quality gate (grade >= 2) in front of the d19 maintainer,
    over the %3 arrival slices. d24 extends a clone with the third
    batch and reads the published set — the gate composition (what the
    row proves) still runs live for every batch, here and there,
    through the same apply path."""
    from censo_escolar_spark.functions import text as T
    from censo_escolar_spark.streaming.dedup import apply_dedup_batch

    def build(root: str):
        docs = load_table(spark, sf_dir, "documents")
        kept = (
            docs.filter(T.learned_quality("text")["grade"] >= 2)
            .select("doc_id", "text")
            .localCheckpoint(eager=True)
        )
        with state_shuffle(spark, PARITY_SHUFFLE):
            for bid in (1, 2):
                apply_dedup_batch(
                    kept.filter(F.col("doc_id") % 3 == bid - 1),
                    bid,
                    state_dir=root,
                    threshold=0.5,
                )
        return "OK"

    root, _ = shared_state("curated_dedup_base", sf_dir, build)
    return root


def dedup_full_store(spark: SparkSession, sf_dir: str) -> str:
    """The d19 final store: base + the third document batch (direct
    ``apply_dedup_batch`` backfill, bid 2). Read-only for consumers."""
    from censo_escolar_spark.streaming import link_tree
    from censo_escolar_spark.streaming.dedup import apply_dedup_batch

    base, _ = dedup_stream_base(spark, sf_dir)

    def build(root: str):
        link_tree(posixpath.join(base, "state"), root)
        docs = load_table(spark, sf_dir, "documents")
        with state_shuffle(spark, PARITY_SHUFFLE):
            apply_dedup_batch(
                docs.filter(F.col("doc_id") % 3 == 2).select("doc_id", "text"),
                2,
                state_dir=root,
                threshold=0.5,
            )
        return "OK"

    root, _ = shared_state("dedup_full_store", sf_dir, build)
    return root


# ---------------------------------------------------------------------------
# BM25 lexical-index bases (streaming/lexindex.py).
# ---------------------------------------------------------------------------
def lex_base(spark: SparkSession, sf_dir: str) -> str:
    """Lex store after ingest batches 1-2 (compact_every=2: the plain
    fold runs at batch 2). t40 extends a clone with batch 3; the
    deletes store below extends a clone with the tombstone + reclaim."""
    from censo_escolar_spark.streaming.lexindex import apply_lex_index_batch

    def build(root: str):
        docs = load_table(spark, sf_dir, "documents")
        with state_shuffle(spark, PARITY_SHUFFLE):
            for bid, m in ((1, 0), (2, 1)):
                apply_lex_index_batch(
                    docs.filter(F.col("doc_id") % 3 == m).select(
                        "doc_id", "text"
                    ),
                    bid,
                    state_dir=root,
                    compact_every=2,
                )
        return "OK"

    root, _ = shared_state("lex_base", sf_dir, build)
    return root


def lex_deletes_store(spark: SparkSession, sf_dir: str) -> str:
    """The t41 final store: base + DELETE %7==0 (bid 3) + ingest %3==2
    (bid 4, triggering the reclaiming fold at upto=3). Read-only for
    consumers (t41 live probe, t44 snapshot reads)."""
    from censo_escolar_spark.streaming import link_tree
    from censo_escolar_spark.streaming.lexindex import (
        apply_lex_delete_batch,
        apply_lex_index_batch,
    )

    base = lex_base(spark, sf_dir)

    def build(root: str):
        link_tree(base, root)
        docs = load_table(spark, sf_dir, "documents")
        with state_shuffle(spark, PARITY_SHUFFLE):
            apply_lex_delete_batch(
                docs.filter(F.col("doc_id") % 7 == 0).select("doc_id"),
                3,
                state_dir=root,
                compact_every=2,
            )
            apply_lex_index_batch(
                docs.filter(F.col("doc_id") % 3 == 2).select("doc_id", "text"),
                4,
                state_dir=root,
                compact_every=2,
            )
        return "OK"

    root, _ = shared_state("lex_deletes_store", sf_dir, build)
    return root


# ---------------------------------------------------------------------------
# IVF batch-store bases (streaming/ivfindex.py). All carry the label
# meta column — meta-blind probes (s22/s23/s29) read an explicit
# schema subset, so one store serves both the filtered and unfiltered
# rows. Centroids are trained on the FIRST increment and frozen (the
# s22 lifecycle); they ride the fixture meta so probes reuse the
# exact array the store was assigned with.
# ---------------------------------------------------------------------------
def ivf_meta_base(spark: SparkSession, sf_dir: str):
    """Returns (root, centroids): meta store after insert batches 1-2
    (compact_every=2 folds at batch 2)."""
    from censo_escolar_spark.operators import similarity
    from censo_escolar_spark.streaming.ivfindex import apply_ivf_index_batch

    def build(root: str):
        emb = load_table(spark, sf_dir, "embeddings")
        centroids = similarity.train_centroids(
            emb.filter(F.col("vec_id") % 3 == 0), iters=1
        )
        with state_shuffle(spark, PARITY_SHUFFLE):
            for bid in (1, 2):
                apply_ivf_index_batch(
                    emb.filter(F.col("vec_id") % 3 == bid - 1),
                    bid,
                    state_dir=root,
                    centroids=centroids,
                    meta_cols=("label",),
                    compact_every=2,
                )
        return centroids

    return shared_state("ivf_meta_base", sf_dir, build)


def ivf_deletes_store(spark: SparkSession, sf_dir: str):
    """Returns (root, centroids): the s23/s28/s29 final store — base +
    tombstone %5==0 (bid 3) + insert %3==2 (bid 4, triggering the
    meta-aware reclaiming fold at upto=3). Read-only for consumers."""
    from censo_escolar_spark.streaming import link_tree
    from censo_escolar_spark.streaming.ivfindex import (
        apply_ivf_delete_batch,
        apply_ivf_index_batch,
    )

    base, centroids = ivf_meta_base(spark, sf_dir)

    def build(root: str):
        link_tree(base, root)
        emb = load_table(spark, sf_dir, "embeddings")
        with state_shuffle(spark, PARITY_SHUFFLE):
            apply_ivf_delete_batch(
                emb.filter(F.col("vec_id") % 5 == 0).select("vec_id"),
                3,
                state_dir=root,
                meta_schema="label int",
                compact_every=2,
            )
            apply_ivf_index_batch(
                emb.filter(F.col("vec_id") % 3 == 2),
                4,
                state_dir=root,
                centroids=centroids,
                meta_cols=("label",),
                compact_every=2,
            )
        return centroids

    root, _ = shared_state("ivf_deletes_store", sf_dir, build)
    return root, centroids


def ivfpq_base(spark: SparkSession, sf_dir: str):
    """Returns (root, (centroids, codebooks)): the COMPRESSED codes
    store after insert batches 1-2 (compact_every=2: the plain fold
    runs at batch 2), quantizer and codebooks trained on the first
    increment and frozen. s30 extends a ``clone_state`` clone with its
    delete + fold-triggering insert — the d19 discipline applied to the
    one index family whose base still rebuilt per invocation."""
    from censo_escolar_spark.operators import pq, similarity
    from censo_escolar_spark.streaming.ivfindex import apply_ivfpq_index_batch

    def build(root: str):
        emb = load_table(spark, sf_dir, "embeddings")
        first = emb.filter(F.col("vec_id") % 3 == 0)
        centroids = similarity.train_centroids(first, iters=1)
        books = pq.train_pq_codebooks(first, m=4, k=16, iters=1)
        with state_shuffle(spark, PARITY_SHUFFLE):
            ins = dict(
                state_dir=root,
                centroids=centroids,
                codebooks=books,
                compact_every=2,
            )
            apply_ivfpq_index_batch(first, 1, **ins)
            apply_ivfpq_index_batch(
                emb.filter(F.col("vec_id") % 3 == 1), 2, **ins
            )
        return (centroids, books)

    return shared_state("ivfpq_base", sf_dir, build)


def ivf_plain_base(spark: SparkSession, sf_dir: str):
    """Returns (root, centroids): the meta-LESS IVF store after insert
    batches 1-2 (the s31 PRE-EVOLUTION era; compact_every=2 folds at
    batch 2). s31 extends a clone with the label-bearing evolved-era
    batches, whose batch-4 fold rewrites both eras."""
    from censo_escolar_spark.operators import similarity
    from censo_escolar_spark.streaming.ivfindex import apply_ivf_index_batch

    def build(root: str):
        emb = load_table(spark, sf_dir, "embeddings")
        centroids = similarity.train_centroids(
            emb.filter(F.col("vec_id") % 3 == 0), iters=1
        )
        with state_shuffle(spark, PARITY_SHUFFLE):
            for bid in (1, 2):
                apply_ivf_index_batch(
                    emb.filter(F.col("vec_id") % 3 == bid - 1),
                    bid,
                    state_dir=root,
                    centroids=centroids,
                    compact_every=2,
                )
        return centroids

    return shared_state("ivf_plain_base", sf_dir, build)


# ---------------------------------------------------------------------------
# Corpus-stats store base (streaming/stats.py over bucketstate): the
# e36 three-increment accumulation. e36 reads the live snapshot; e49
# probes version horizons.
# ---------------------------------------------------------------------------
def stats_store_base(spark: SparkSession, sf_dir: str) -> str:
    from censo_escolar_spark.streaming.stats import apply_stats_batch

    def build(root: str):
        docs = load_table(spark, sf_dir, "documents")
        with state_shuffle(spark, PARITY_SHUFFLE):
            for bid in (1, 2, 3):
                apply_stats_batch(
                    docs.filter(F.col("doc_id") % 3 == bid - 1),
                    bid,
                    state_dir=root,
                )
        return "OK"

    root, _ = shared_state("stats_store_base", sf_dir, build)
    return root


# ---------------------------------------------------------------------------
# CDC MERGE bases (streaming/merge.py over bucketstate).
# ---------------------------------------------------------------------------
MERGE_SCHEMA = "o_orderkey bigint, o_orderstatus string, o_totalprice decimal(19,3)"


def cdc_wave_slices(spark: SparkSession, sf_dir: str) -> str:
    """The q72/q74 CDC waves as parquet slices (shared build)."""

    def build(root: str):
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("decimal(18,2)").cast("decimal(19,3)")
            .alias("o_totalprice"),
        )
        k = F.col("o_orderkey")
        dec2 = F.col("o_totalprice").cast("decimal(18,2)")
        b1 = o.withColumn("op", F.lit("I")).withColumn("seq", F.lit(1))
        b2 = (
            o.filter(k % 5 == 2)
            .withColumn(
                "o_totalprice",
                (dec2 * F.lit("1.1").cast("decimal(3,1)")).cast("decimal(19,3)"),
            )
            .withColumn("op", F.lit("U"))
            .withColumn("seq", F.lit(1))
            .unionByName(
                o.filter(k % 11 == 0)
                .withColumn("op", F.lit("D"))
                .withColumn("seq", F.lit(2))
            )
        )
        b3 = (
            o.filter(k % 7 == 3)
            .withColumn(
                "o_totalprice",
                (dec2 * F.lit("1.2").cast("decimal(2,1)")).cast("decimal(19,3)"),
            )
            .withColumn("op", F.lit("U"))
            .withColumn("seq", F.lit(1))
            .unionByName(
                o.filter(k % 33 == 0)
                .withColumn("o_orderstatus", F.lit("N"))
                .withColumn("op", F.lit("I"))
                .withColumn("seq", F.lit(2))
            )
        )
        for i, b in enumerate((b1, b2, b3)):
            b.coalesce(1).write.parquet(slice_dir(root, i))
        return "OK"

    cache, _ = shared_slices("cdc_waves", sf_dir, build)
    return cache


def merge_stream_base(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Returns (fixture_root, slices_cache): bucket-store MERGE state
    after the REAL streaming maintainer drained CDC waves 0-1 (batch
    ids 0, 1; no cadence compaction), with its checkpoint."""
    from censo_escolar_spark.streaming.merge import maintain_merged_table

    slices = cdc_wave_slices(spark, sf_dir)
    schema = spark.read.parquet(slice_dir(slices, 0)).schema

    def build(root: str):
        src, ckpt, state = (
            posixpath.join(root, d) for d in ("src", "ckpt", "state")
        )
        deploy_slices(slices, src, which=(0, 1))
        with state_shuffle(spark, PARITY_SHUFFLE):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            maintain_merged_table(
                stream,
                state_dir=state,
                checkpoint=ckpt,
                key_col="o_orderkey",
                seq_col="seq",
                schema=MERGE_SCHEMA,
                compact_every=None,
            )
        return "OK"

    root, _ = shared_state("merge_stream_base", sf_dir, build)
    return root, slices


# ---------------------------------------------------------------------------
# Image pHash store bases (streaming/imagededup.py). Payload staging is
# m12's: PNG magic + the doc_id%40 class string, decoded with the
# deterministic fake decoder (real codecs aren't in this container; the
# store discipline, banding and tombstone machinery are the real path).
# ---------------------------------------------------------------------------

#: Re-ingested copies in the m15/m16 wave carry doc_id + this offset
#: (disjoint from any original id; preserves within-batch min-id
#: cluster-winner order). Mirrored literally in the m15/m16 oracles.
IMAGE_REINGEST_OFFSET = 1 << 40


def staged_images(spark: SparkSession, sf_dir: str, *, offset: int = 0):
    """The m12 payload staging, optionally re-keyed to offset ids (the
    payload class stays keyed by the ORIGINAL doc_id, so an offset copy
    is an exact byte duplicate of its original)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        (F.col("doc_id") + F.lit(offset)).cast("bigint").alias("doc_id"),
        F.concat(
            F.unhex(F.lit("89504E47")),
            F.encode((F.col("doc_id") % 40).cast("string"), "utf-8"),
        ).alias("payload"),
    )


def image_store_base(spark: SparkSession, sf_dir: str) -> str:
    """Hash store after ingest batches 1-3 (m12's %3 arrival slicing;
    compact_every=2: the plain fold runs at batch 2). m12 reads it
    live; m16 probes a mid-history horizon; the deletes store below
    extends a clone."""
    from censo_escolar_spark.operators.multimodal import fake_decode
    from censo_escolar_spark.streaming.imagededup import apply_image_dedup_batch

    def build(root: str):
        staged = staged_images(spark, sf_dir)
        with state_shuffle(spark, PARITY_SHUFFLE):
            for bid in (1, 2, 3):
                apply_image_dedup_batch(
                    staged.filter(F.col("doc_id") % 3 == bid - 1),
                    bid,
                    state_dir=root,
                    decoder=fake_decode,
                    compact_every=2,
                )
        return "OK"

    root, _ = shared_state("image_store_base", sf_dir, build)
    return root


def image_deletes_store(spark: SparkSession, sf_dir: str) -> str:
    """The m15/m16 final store: base + tombstones %5==0 (bid 4; the
    cadence fold at upto=3 runs PRE-delete, plain) + a full re-ingest
    wave under offset ids (bid 6, probing the post-delete LIVE index;
    its cadence fold at upto=5 is the DELETE-AWARE reclaim consuming
    the tombstones). Read-only for consumers (m15 live view, m16
    snapshot probes)."""
    from censo_escolar_spark.operators.multimodal import fake_decode
    from censo_escolar_spark.streaming import link_tree
    from censo_escolar_spark.streaming.imagededup import (
        apply_image_delete_batch,
        apply_image_dedup_batch,
    )

    base = image_store_base(spark, sf_dir)

    def build(root: str):
        link_tree(base, root)
        docs = load_table(spark, sf_dir, "documents")
        with state_shuffle(spark, PARITY_SHUFFLE):
            apply_image_delete_batch(
                docs.filter(F.col("doc_id") % 5 == 0).select("doc_id"),
                4,
                state_dir=root,
                compact_every=2,
            )
            apply_image_dedup_batch(
                staged_images(spark, sf_dir, offset=IMAGE_REINGEST_OFFSET),
                6,
                state_dir=root,
                decoder=fake_decode,
                compact_every=2,
            )
        return "OK"

    root, _ = shared_state("image_deletes_store", sf_dir, build)
    return root


def image_qc_gate() -> F.Column:
    """m14's mean-brightness admission predicate over the DECODED frame
    (``id, h, w, pixels``): exact integer fold over the 8×8 thumbnail,
    SUM(pixels) >= 8192 i.e. mean >= 128. Defined once here so the
    gated base below and m14's live divergence batch apply literally
    the same codegen expression."""
    return (
        F.expr("aggregate(pixels, CAST(0 AS BIGINT), (a, x) -> a + x)")
        >= 8192
    )


def gated_image_base(spark: SparkSession, sf_dir: str) -> str:
    """m14's QC-GATED image store after ingest batches 1-2 (the m12 %3
    arrival slicing with the brightness gate inside each batch body —
    the image twin of d24's ``curated_dedup_base``). m14 extends a
    clone with the third gated batch and reads the published hashes."""
    from censo_escolar_spark.operators.multimodal import fake_decode
    from censo_escolar_spark.streaming.imagededup import apply_image_dedup_batch

    def build(root: str):
        staged = staged_images(spark, sf_dir)
        gate = image_qc_gate()
        with state_shuffle(spark, PARITY_SHUFFLE):
            for bid in (1, 2):
                apply_image_dedup_batch(
                    staged.filter(F.col("doc_id") % 3 == bid - 1),
                    bid,
                    state_dir=root,
                    decoder=fake_decode,
                    qc_gate=gate,
                )
        return "OK"

    root, _ = shared_state("gated_image_base", sf_dir, build)
    return root


def scd2_store_base(spark: SparkSession, sf_dir: str) -> str:
    """Bucketed SCD2 state after e33's first two event-time batches
    (cuts at 2024-01-11 / 2024-01-21, deterministic constants); e33
    extends a clone with the third batch and reads the snapshot."""
    from censo_escolar_spark.streaming.scd2 import apply_scd2_batch

    def build(root: str):
        e = load_table(spark, sf_dir, "events")
        lo = F.lit("2024-01-11").cast("timestamp")
        hi = F.lit("2024-01-21").cast("timestamp")
        with state_shuffle(spark, PARITY_SHUFFLE):
            apply_scd2_batch(e.filter(F.col("ts") < lo), 1, state_dir=root)
            apply_scd2_batch(
                e.filter((F.col("ts") >= lo) & (F.col("ts") < hi)),
                2,
                state_dir=root,
            )
        return "OK"

    root, _ = shared_state("scd2_store_base", sf_dir, build)
    return root


def merge_compacted_base(spark: SparkSession, sf_dir: str) -> str:
    """Bucket-store MERGE state after CDC waves 1-2 applied with
    ``compact_every=1`` (q73's fold-after-every-batch cadence — the
    fold history, not just the live view, is the row's subject); q73
    extends a clone with wave 3 + its fold. Reads the shared
    ``cdc_wave_slices`` parquet, so wave construction is paid once."""
    from censo_escolar_spark.streaming import slice_dir
    from censo_escolar_spark.streaming.merge import apply_merge_batch

    slices = cdc_wave_slices(spark, sf_dir)

    def build(root: str):
        with state_shuffle(spark, PARITY_SHUFFLE):
            for bid in (1, 2):
                apply_merge_batch(
                    spark.read.parquet(slice_dir(slices, bid - 1)),
                    bid,
                    state_dir=root,
                    key_col="o_orderkey",
                    seq_col="seq",
                    schema=MERGE_SCHEMA,
                    compact_every=1,
                )
        return "OK"

    root, _ = shared_state("merge_compacted_base", sf_dir, build)
    return root


def merge_full_store(spark: SparkSession, sf_dir: str) -> str:
    """The q72 final store: the streamed base (waves 0-1) + wave 3 as a
    direct ``apply_merge_batch`` backfill (bid 2). Read-only for
    consumers (q72's live summary, q75's snapshot probes)."""
    from censo_escolar_spark.streaming import link_tree, slice_dir
    from censo_escolar_spark.streaming.merge import apply_merge_batch

    base, slices = merge_stream_base(spark, sf_dir)

    def build(root: str):
        link_tree(posixpath.join(base, "state"), root)
        with state_shuffle(spark, PARITY_SHUFFLE):
            apply_merge_batch(
                spark.read.parquet(slice_dir(slices, 2)),
                2,
                state_dir=root,
                key_col="o_orderkey",
                seq_col="seq",
                schema=MERGE_SCHEMA,
            )
        return "OK"

    root, _ = shared_state("merge_full_store", sf_dir, build)
    return root
