"""Result-quality metrics of the corpus operators (traced runs only).

Each approximate operator is compared with its exact counterpart on the
run's generated inputs:

- MinHash-LSH: candidate pairs (``minhash_candidates``), verified pairs
  (``minhash_pairs``) and their ratio;
- IVF top-k (``ivf_topk``, 2 probed cells) and PQ top-k (``pq_topk``,
  re-rank pool 20) against exact ``cosine_topk``: share of the exact
  top-10 neighbours found;
- hyperplane-LSH pairs (``lsh_bucketed_pairs``) against exact
  ``cosine_pairs`` at cosine 0.9, over the embeddings plus 100 seeded
  noisy near-copies: share of the exact pairs found.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

K = 10


def _recall(got, want, cols) -> float:
    g = {tuple(r) for r in got.select(*cols).collect()}
    w = {tuple(r) for r in want.select(*cols).collect()}
    return len(g & w) / len(w) if w else 1.0


def corpus_quality(spark, sf_dir: str, seed: int) -> dict[str, float]:
    from pyspark.sql import functions as F

    from censo_escolar_spark.operators import dedup, similarity
    from censo_escolar_spark.operators import pq as pqop

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    sigs = dedup.minhash_sketches(docs, "doc_id", "text")
    cand = dedup.minhash_candidates(sigs, "doc_id").count()
    verified = dedup.minhash_pairs(docs, "doc_id", "text", threshold=0.5).count()

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < 16)
    exact = similarity.cosine_topk(emb, queries, k=K)
    cols = ("query_id", "neighbor_id")
    centroids = similarity.train_centroids(emb, iters=1)
    ivf = similarity.ivf_topk(emb, queries, centroids, k=K, nprobe=2)
    books = pqop.train_pq_codebooks(emb, m=4, k=16, iters=1)
    pqk = pqop.pq_topk(emb, queries, books, k=K, rerank=20)

    tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pydict()
    rng = np.random.default_rng(seed)
    vecs = np.array(tbl["embedding"][:100], dtype=np.float64)
    noisy = vecs + rng.normal(0.0, 0.02, vecs.shape)
    noisy /= np.linalg.norm(noisy, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in v]) for i, v in zip(tbl["vec_id"], tbl["embedding"])]
    rows += [(100_000 + i, [float(x) for x in v.astype(np.float32)]) for i, v in enumerate(noisy)]
    both = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    lsh = similarity.lsh_bucketed_pairs(both, dim=64, threshold=0.9)
    pairs = similarity.cosine_pairs(both, threshold=0.9)

    return {
        "operators.dedup.candidate_pairs": cand,
        "operators.dedup.verified_pairs": verified,
        "operators.dedup.candidate_yield": verified / cand if cand else 0.0,
        "operators.similarity.ivf_recall": _recall(ivf, exact, cols),
        "operators.similarity.lsh_pair_recall": _recall(lsh, pairs, ("id_a", "id_b")),
        "operators.pq.recall": _recall(pqk, exact, cols),
    }
