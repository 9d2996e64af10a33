"""Incrementally-maintained BM25 index: the stored-lexical-index form
of ``operators/retrieval.bm25_topk`` (t39), given the same batch-store
treatment as the IVF index (streaming/ivfindex.py) and the dedup
signature store (streaming/dedup.py).

One-shot BM25 re-derives posting lists from the corpus per query
batch; a growing corpus would re-tokenize everything per refresh.
This maintainer appends each micro-batch's postings ONCE:

- ``postings`` ``(doc_id, term, tf, bucket)`` — the inverted lists,
  physically partitioned by a term-hash bucket so a probe of ≤32 query
  terms is a partition-PRUNED scan (the bucket list is computed from
  the bounded query-term set driver-side), never a full-index read.
- ``doclens`` ``(doc_id, dl)`` — document lengths.
- ``termstats`` ``(term, df, bucket)`` — per-batch document-frequency
  contributions, additive across batches because batches carry
  DISJOINT documents; the probe sums the (vocabulary-sized) slice it
  prunes to.
- ``totals`` — one ``(n_docs, tot_tokens)`` row per batch, summed at
  probe time for N and avgdl.

Per batch the work is O(batch) tokenization + 4 partition writes —
independent of index size.  Every ``compact_every`` batches the
history folds through the crash-safe two-phase marker commit shared
with the other maintainers; the fold's LSM merge re-aggregates
``termstats`` (sum df per term) and ``totals`` (one row) so the folded
store answers probes bit-identically (exact integer sums are
order-free).

Deletions are id TOMBSTONES (``apply_lex_delete_batch`` — the s23/d22
discipline): probes subtract tombstoned postings/doclens with the
arrival-ordered anti-join, N/avgdl recompute from the live doclens, df
for query terms recomputes from the live pruned postings
(``live_term_df``), and the (always delete-aware) compaction fold
physically reclaims tombstoned rows and rebuilds termstats/totals.

Parity is driver-gated by t40 (three disjoint increments + an in-loop
fold ≡ the one-shot t39, same oracle SQL) and t41 (increments + a
delete batch + a post-delete increment ≡ one-shot BM25 over the live
corpus).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from censo_escolar_spark.operators.retrieval import bm25_rank, corpus_stats
from censo_escolar_spark.streaming.dedup import (
    COMPACT_EVERY,
    N_BUCKETS,
    _component,
    _read_component,
    compact_batch_store,
    recover_batch_store,
)

_LAYOUT = {
    "postings": ("doc_id bigint, term string, tf bigint, bucket int", ["bucket"]),
    "doclens": ("doc_id bigint, dl bigint", []),
    "termstats": ("term string, df bigint, bucket int", ["bucket"]),
    "totals": ("n_docs bigint, tot_tokens bigint", []),
}


def _bucket(col) -> Column:
    """Stable term-hash bucket (xxhash64 — fixed seed 42, so the probe
    can recompute a term's bucket in any session)."""
    return F.pmod(F.xxhash64(col), F.lit(N_BUCKETS)).cast("int")


# The lexical store is ALWAYS compacted with the delete-aware fold
# (_fold_lex_deletes below): a delete-blind fold would rebatch postings
# to `upto` past their tombstones' batch ids and resurrect them. With
# no tombstones the delete-aware fold degenerates to the plain
# contents-preserving merge (termstats rebuilt from postings equals the
# summed per-batch contributions — both count documents per term).



def _buckets_for(terms: list[str]) -> list[int]:
    """Partition-prune list for a bounded term list: each term's stored
    bucket, recomputed with the same hash the writers used
    (``pmod(xxhash64(term), N_BUCKETS)``) — driver-side via the
    Spark-parity pure-Python XXH64 (functions/hashing.py; parity with
    the JVM expression pinned by tests/test_sketches.py), because a
    createDataFrame+collect per probe is a whole tiny Spark job just to
    hash a bounded term list (guide §5)."""
    from censo_escolar_spark.functions.hashing import xxhash64_str

    return sorted({xxhash64_str(t) % N_BUCKETS for t in terms})


def apply_lex_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = COMPACT_EVERY,
) -> None:
    """The foreachBatch body (exposed for direct testing / backfills):
    tokenize THIS batch's documents once and append its posting lists,
    doc lengths, df contributions, and totals as ``batch=<id>``
    partitions.  Never reads prior batches (documents are assumed
    batch-disjoint — the maintainer's contract, like the IVF index's
    insert path).  Retry-idempotent: a re-run fully overwrites its own
    ``batch=<id>`` directories."""
    spark = batch_df.sparkSession
    recover_batch_store(spark, state_dir, list(_DEL_LAYOUT))
    tf, _, _ = corpus_stats(batch_df, id_col, text_col)
    tf = tf.localCheckpoint(eager=True)  # one tokenization, three consumers
    # doclens carries a row for EVERY batch document (dl NULL for
    # NULL-text rows, which explode to no tf rows): N counts all docs
    # and tot_tokens skips NULLs, exactly like the one-shot bm25_topk's
    # count(*)/sum(token_count) — a tf-derived doclens would undercount
    # N on NULL-text docs and break the t40/t41 parity contract.
    from censo_escolar_spark.functions import text as T

    dl = batch_df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        T.token_count(text_col).cast("bigint").alias("dl"),
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    writes = {
        "postings": tf.withColumn("bucket", _bucket(F.col("term"))),
        "doclens": dl,
        "termstats": dfreq.withColumn("bucket", _bucket(F.col("term"))),
        "totals": dl.agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("tot_tokens"),
        ),
    }
    for comp, df in writes.items():
        _, parts = _LAYOUT[comp]
        w = df.write.mode("overwrite")
        if parts:
            w = w.partitionBy(*parts)
        w.parquet(
            posixpath.join(_component(state_dir, comp), f"batch={batch_id}")
        )
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        compact_lex_store(spark, state_dir, upto=batch_id - 1)


def _read(spark: SparkSession, state_dir: str, comp: str, below: int) -> DataFrame:
    return _read_component(
        spark, _component(state_dir, comp), _LAYOUT[comp][0], below
    )


def lex_index_stats(
    spark: SparkSession, state_dir: str, *, below: int | None = None
):
    """(termstats, totals-row) of the committed index: the summed df per
    term and the summed (n_docs, tot_tokens).  termstats is the
    vocabulary-sized component — fine to aggregate for query-term
    selection; the postings themselves are only ever read pruned.

    CONTRACT: between a delete batch and the next compaction these
    stored stats still count tombstoned documents — the no-deletes
    fast path.  Delete-aware callers must use ``live_term_df`` (df)
    and ``bm25_topk_indexed``'s live-totals branch (N/avgdl), which
    recompute from live rows; after a fold the two agree again."""
    recover_batch_store(spark, state_dir, list(_DEL_LAYOUT))
    hi = below if below is not None else 1 << 62
    termstats = (
        _read(spark, state_dir, "termstats", hi)
        .groupBy("term")
        .agg(F.sum("df").cast("bigint").alias("df"))
    )
    totals = (
        _read(spark, state_dir, "totals", hi)
        .agg(
            F.coalesce(F.sum("n_docs"), F.lit(0)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("tot_tokens"), F.lit(0))
            .cast("bigint")
            .alias("tot_tokens"),
        )
        .first()
    )
    return termstats, totals


def bm25_topk_indexed(
    spark: SparkSession,
    state_dir: str,
    query_terms: DataFrame,
    *,
    k: int = 5,
    below: int | None = None,
) -> DataFrame:
    """BM25 top-k against the INCREMENTALLY-maintained index.

    ``query_terms``: (qid, term, df) — the bounded broadcast probe set
    (≤32 rows by the t39 contract).  The posting-list scan is
    partition-PRUNED to the query terms' buckets (computed driver-side
    from the collected term list — bounded by contract), the candidate
    join and scoring are t39's, and the result is bit-identical to the
    one-shot bm25_topk over the union of all ingested batches (minus
    any tombstoned documents — deletes switch N/avgdl to exact live
    recomputes from the doclens component, still one bounded agg)."""
    recover_batch_store(spark, state_dir, list(_DEL_LAYOUT))
    hi = below if below is not None else 1 << 62
    postings_live, doclens_live, has_deletes = _live_components(
        spark, state_dir, hi
    )
    if has_deletes:
        # stored totals still count tombstoned docs; recompute from the
        # LIVE doclens (one agg over the per-doc component, not postings)
        totals = doclens_live.agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("tot_tokens"),
        ).first()
    else:
        _, totals = lex_index_stats(spark, state_dir, below=below)
    n_docs = int(totals["n_docs"])
    if n_docs == 0:
        return spark.createDataFrame(
            [],
            "query_id bigint, rank int, doc_id bigint, n_terms int,"
            " score_scaled bigint, score double",
        )
    avgdl = float(totals["tot_tokens"]) / float(n_docs)

    terms = [r["term"] for r in query_terms.select("term").distinct().collect()]
    buckets = _buckets_for(terms)
    postings = postings_live.filter(F.col("bucket").isin(buckets))
    doclens = doclens_live
    p = postings.alias("p")
    q = query_terms.alias("q")
    cand = (
        p.join(
            F.broadcast(q),
            on=[
                F.col("p.term") == F.col("q.term"),
                F.col("p.doc_id") != F.col("q.qid"),
            ],
        )
        .select(
            F.col("q.qid").alias("qid"),
            F.col("p.doc_id").alias("doc_id"),
            F.col("p.tf").alias("tf"),
            F.col("q.df").alias("df"),
        )
        .join(doclens, "doc_id")
    )
    return bm25_rank(cand, n_docs=n_docs, avgdl=avgdl, k=k)


def apply_lex_delete_batch(
    ids_df: DataFrame,
    batch_id: int,
    *,
    state_dir: str,
    id_col: str = "doc_id",
    compact_every: int | None = COMPACT_EVERY,
) -> None:
    """Delete a batch of document ids from the BM25 index: the ids
    append as this batch's partition of a ``deletes`` component —
    O(batch), no posting partition read or rewritten (the s23/d22
    tombstone discipline).  Probes subtract tombstoned postings and
    doc lengths with the arrival-ordered anti-join and recompute df /
    totals from the LIVE rows (see bm25_topk_indexed); the compaction
    fold physically reclaims tombstoned rows.  Deleting a never-indexed
    id is a harmless no-op; a re-ingest after the delete is live."""
    spark = ids_df.sparkSession
    recover_batch_store(spark, state_dir, list(_DEL_LAYOUT))
    ids_df.select(F.col(id_col).cast("bigint").alias("doc_id")).write.mode(
        "overwrite"
    ).parquet(posixpath.join(_component(state_dir, "deletes"), f"batch={batch_id}"))
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        compact_lex_store(spark, state_dir, upto=batch_id - 1)


_DEL_LAYOUT = dict(_LAYOUT, deletes=("doc_id bigint", []))


def _subtract(live: DataFrame, tombs: DataFrame) -> DataFrame:
    """Arrival-ordered tombstone subtraction — the ONE shared
    implementation (streaming/dedup._subtract_deleted), so a future
    boundary fix can't silently diverge between the stores."""
    from censo_escolar_spark.streaming.dedup import _subtract_deleted

    return _subtract_deleted(live, tombs, "doc_id")


def _fold_lex_deletes(frames: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """LSM merge with deletions: reclaim tombstoned postings/doclens,
    REBUILD termstats and totals from the surviving doclens/postings
    (df contributions of reclaimed docs must leave the stats), and drop
    the consumed tombstones."""
    tombs = frames["deletes"]
    postings = _subtract(frames["postings"], tombs).drop("batch")
    doclens = _subtract(frames["doclens"], tombs).drop("batch")
    return {
        "postings": postings,
        "doclens": doclens,
        "termstats": postings.groupBy("term", "bucket")
        .agg(F.count("*").cast("bigint").alias("df"))
        .select("term", "df", "bucket"),
        "totals": doclens.agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("tot_tokens"),
        ),
        "deletes": tombs.filter(F.lit(False)).drop("batch"),
    }


def compact_lex_store(spark: SparkSession, state_dir: str, *, upto: int) -> None:
    """Fold the lexical index's components (postings/doclens/termstats/
    totals/deletes) with the delete-aware LSM merge."""
    compact_batch_store(
        spark, state_dir, upto=upto, layout=_DEL_LAYOUT, fold=_fold_lex_deletes
    )


def _live_components(
    spark: SparkSession, state_dir: str, hi: int
) -> tuple[DataFrame, DataFrame, bool]:
    """(live postings, live doclens, had_tombstones) below ``hi`` —
    tombstone anti-joins applied only when a deletes component exists,
    so delete-free stores keep their exact pre-delete plans."""
    from censo_escolar_spark.sources.hadoopfs import hadoop_fs, list_children

    droot = _component(state_dir, "deletes")
    fs, jvm = hadoop_fs(spark, droot)
    has = any(d.startswith("batch=") for d in list_children(fs, jvm, droot))
    if has:
        tombs = _read_component(spark, droot, "doc_id bigint", hi, keep_batch=True)
        # a fold consumes tombstones but leaves an empty batch dir —
        # probe (tiny, ids only) so the store regains its fast path
        has = not tombs.isEmpty()
    postings = _read_component(
        spark, _component(state_dir, "postings"), _LAYOUT["postings"][0], hi,
        keep_batch=has,
    )
    doclens = _read_component(
        spark, _component(state_dir, "doclens"), _LAYOUT["doclens"][0], hi,
        keep_batch=has,
    )
    if not has:
        return postings, doclens, False
    return (
        _subtract(postings, tombs).drop("batch"),
        _subtract(doclens, tombs).drop("batch"),
        True,
    )


def live_term_df(
    spark: SparkSession,
    state_dir: str,
    terms: list[str],
    *,
    below: int | None = None,
) -> DataFrame:
    """LIVE document frequency ``(term, df)`` for a bounded candidate
    term list (a few query documents' vocabularies — ≤ hundreds of
    strings by contract): count live postings rows per term over the
    scan pruned to the candidates' buckets.  After deletions the stored
    ``termstats`` still count tombstoned documents; this recomputes df
    from the live posting lists, which is exact and costs only the
    pruned buckets."""
    recover_batch_store(spark, state_dir, list(_DEL_LAYOUT))
    hi = below if below is not None else 1 << 62
    postings, _, _ = _live_components(spark, state_dir, hi)
    buckets = _buckets_for(terms)
    return (
        postings.filter(F.col("bucket").isin(buckets))
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("df"))
    )
