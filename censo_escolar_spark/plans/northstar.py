"""North-star operators: dedup, similarity search, text analysis.

Each query pairs a Spark-first distributed implementation (see
operators/dedup.py, operators/similarity.py, functions/text.py) with a
DuckDB oracle computing the same result by brute force. Approximate
operators (minhash-LSH, simhash-banding, hyperplane-LSH) verify their
candidates *exactly*, so their output equals the brute-force oracle
whenever recall holds (see each docstring for the recall bound).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from censo_escolar_spark.functions import text as T
from censo_escolar_spark.operators import dedup, retrieval, similarity
from censo_escolar_spark.plans.registry import register
from censo_escolar_spark.sources.readers import load_table, table_rows

# Shared SQL fragment: 60-bit md5 token hash (DuckDB side of
# functions.text.token_hash60 — verified to equal Spark's conv()).
_SQL_H60 = (
    "list_sum(list_transform(range(0,15), k -> "
    "(strpos('0123456789abcdef', substr(md5(tok),k+1,1)) - 1)::BIGINT << (4*(14-k))))"
)

# Shared SQL fragment: distinct word-3-gram shingles per document.
_SQL_SHINGLES = """
  toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
  sh AS (
    SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
    FROM toks, UNNEST(range(1, len(t)-1)) AS u(i)
  )
"""


# ---------------------------------------------------------------------------
# d01 — exact dedup on normalized-text fingerprint.
# ---------------------------------------------------------------------------
@register(
    "d01_dedup_exact",
    oracle=r"""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
    ORDER BY doc_id
    """,
)
def d01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_exact(docs, "doc_id", "text").orderBy("doc_id")


# ---------------------------------------------------------------------------
# d02 — exact n-gram Jaccard near-dup pairs (inverted-index self-join).
# ---------------------------------------------------------------------------
_D02_ORACLE = f"""
WITH {_SQL_SHINGLES},
  sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
  inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  )
SELECT id_a, id_b, i * 1.0 / (sa.n + sb.n - i) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
ORDER BY id_a, id_b
"""


@register("d02_jaccard_pairs", oracle=_D02_ORACLE)
def d02_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).orderBy(
        "id_a", "id_b"
    )


# ---------------------------------------------------------------------------
# d03 — MinHash-LSH near-dup pairs, exact-verified: same oracle as d02.
# Recall bound: P(miss | J=t) = (1-t^2)^32 ≈ 1e-4 at the 0.5 threshold and
# vanishing for the planted near-dups (J≈0.9) — so LSH output == exact.
# ---------------------------------------------------------------------------
@register("d03_minhash_lsh_pairs", oracle=_D02_ORACLE)
def d03_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5,
        n_rows=table_rows(sf_dir, "documents"),
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# d04 — simhash fingerprints (60-bit, md5-based, set-simhash).
# ---------------------------------------------------------------------------
_D04_ORACLE = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), th AS (
  SELECT doc_id, {_SQL_H60} AS h FROM tok
), votes AS (
  SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th CROSS JOIN (SELECT unnest(range(0,60)) AS j)
  GROUP BY doc_id, j
)
SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0::BIGINT END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id ORDER BY doc_id
"""


@register("d04_simhash_fingerprints", oracle=_D04_ORACLE)
def d04_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_fingerprints(docs, "doc_id", "text").orderBy("doc_id")


# ---------------------------------------------------------------------------
# d05 — simhash near-dup pairs (hamming <= 3) via 4-band pigeonhole join;
# oracle is the brute-force O(n²) hamming scan.
# ---------------------------------------------------------------------------
@register(
    "d05_simhash_pairs",
    oracle=f"""
    WITH fp AS ({_D04_ORACLE.replace("ORDER BY doc_id", "")})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY id_a, id_b
    """,
)
def d05_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3, n_bands=4)
        .withColumn("hamming", F.col("hamming").cast("int"))
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# d06 — duplicate-cluster assignment: transitive closure of the d02 pair
# graph (A≈B, B≈C → one group even if A,C never pair). Spark side is
# iterative min-label propagation (operators/dedup.py:connected_components);
# the oracle computes the same components by brute-force transitive
# closure in a recursive CTE.
# ---------------------------------------------------------------------------
# Jaccard>=0.5 pair closure CTEs shared by d06 (labels) and d20 (size
# histogram): shingles -> exact-Jaccard pairs -> recursive reach ->
# min-label components.
_SQL_JACCARD_CLOSURE = f"""{_SQL_SHINGLES},
  sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
  inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ),
  pairs AS (
    SELECT id_a, id_b FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
  ),
  edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
  ),
  reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
  ),
  comp AS (
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
    FROM reach GROUP BY src
  )"""

_D06_ORACLE = f"""
WITH RECURSIVE {_SQL_JACCARD_CLOSURE}
SELECT d.doc_id, CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
FROM documents d LEFT JOIN comp c USING (doc_id)
ORDER BY doc_id
"""


@register("d06_dedup_clusters", oracle=_D06_ORACLE)
def d06_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_clusters(docs, "doc_id", "text", n=3, threshold=0.5).orderBy(
        "doc_id"
    )


#: d07/s03/s05 re-enter the vectors with vec_id < _PLANTED_DUPS under
#: vec_id + 100000: identical vectors, so the near-dup pairs are known.
_PLANTED_DUPS = 100


def _with_planted_dups(emb: DataFrame) -> DataFrame:
    dups = emb.filter(F.col("vec_id") < _PLANTED_DUPS).select(
        (F.col("vec_id") + F.lit(100000)).alias("vec_id"), "embedding"
    )
    return emb.unionByName(dups)


# ---------------------------------------------------------------------------
# d07 — embedding-cosine near-dup dedup, end to end: candidate pairs via
# banded hyperplane LSH, exact cosine verification, transitive closure,
# canonical-member keep flag. Near-dups are planted exactly like s03
# (identical vectors re-entered under vec_id + 100000 — recall is
# structurally 1, the result deterministic); the oracle is brute-force
# pairs >= 0.9 + recursive-CTE closure.
# ---------------------------------------------------------------------------
_D07_ORACLE = """
WITH RECURSIVE all_v AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 100
), e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM all_v),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) /
    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.9
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src
),
comp AS (
  SELECT src AS vec_id, LEAST(src, MIN(dst)) AS cluster_id FROM reach GROUP BY src
)
SELECT v.vec_id,
  CAST(COALESCE(c.cluster_id, v.vec_id) AS BIGINT) AS cluster_id,
  COALESCE(c.cluster_id, v.vec_id) = v.vec_id AS keep
FROM all_v v LEFT JOIN comp c USING (vec_id)
ORDER BY vec_id
"""


@register("d07_embedding_dedup", oracle=_D07_ORACLE)
def d07_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return similarity.cosine_dedup_clusters(
        _with_planted_dups(emb), threshold=0.9
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# d08 — benchmark-contamination check: which "eval" documents (doc_id
# divisible by 10 — a deterministic split both engines express
# identically) share verbatim 8-gram spans with which "train" documents.
# The planted near-dups in the corpus cross the split, so real overlaps
# exist; 8-grams make accidental hits negligible.
# ---------------------------------------------------------------------------
_D08_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS s
  FROM toks, UNNEST(range(1, len(t)-6)) AS u(i)
),
ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % 10 = 0),
tr AS (SELECT doc_id AS train_id, s FROM sh WHERE doc_id % 10 != 0)
SELECT eval_id, train_id, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM ev JOIN tr USING (s)
GROUP BY eval_id, train_id
ORDER BY eval_id, train_id
"""


@register("d08_contamination", oracle=_D08_ORACLE)
def d08_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    tr = docs.filter(F.col("doc_id") % 10 != 0)
    return (
        dedup.cross_corpus_overlap(ev, tr, "doc_id", "text", n=8)
        .select(
            F.col("left_id").alias("eval_id"),
            F.col("right_id").alias("train_id"),
            "n_shared",
        )
        .orderBy("eval_id", "train_id")
    )


# ---------------------------------------------------------------------------
# d09 — one-call corpus dedup through the SCALE path: MinHash-LSH pairs
# (exact-verified; == d02's exact pairs at this threshold, proven by the
# shared d02/d03 oracle) → transitive closure → per-doc keep flag. The
# oracle recomputes clusters brute-force like d06 and adds the flag.
# ---------------------------------------------------------------------------
_D09_ORACLE = f"""
WITH RECURSIVE {_SQL_SHINGLES},
  sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
  inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ),
  pairs AS (
    SELECT id_a, id_b FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
  ),
  edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
  ),
  reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
  ),
  comp AS (
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
    FROM reach GROUP BY src
  )
SELECT d.doc_id,
  CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
  COALESCE(c.cluster_id, d.doc_id) = d.doc_id AS keep
FROM documents d LEFT JOIN comp c USING (doc_id)
ORDER BY doc_id
"""


@register("d09_corpus_dedup", oracle=_D09_ORACLE)
def d09_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.corpus_dedup(docs, "doc_id", "text", n=3, threshold=0.5).orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# t12 — corpus n-gram statistics: top-50 word trigrams by document
# frequency (distinct per doc). Map-side partial aggregation, one
# shuffle on the n-gram, TakeOrdered top-k — the canonical corpus
# frequency-table shape.
# ---------------------------------------------------------------------------
_T12_ORACLE = f"""
WITH {_SQL_SHINGLES}
SELECT shingle, CAST(COUNT(*) AS BIGINT) AS doc_freq
FROM sh GROUP BY shingle
ORDER BY doc_freq DESC, shingle LIMIT 50
"""


@register("t12_top_ngrams", oracle=_T12_ORACLE)
def t12_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_doc_freq(docs, "doc_id", "text", n=3, top_k=50).orderBy(
        F.desc("doc_freq"), F.asc("shingle")
    )


# ---------------------------------------------------------------------------
# s01 — brute-force cosine top-k: the ANN correctness baseline.
# ---------------------------------------------------------------------------
_S01_ORACLE = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        list_dot_product(q.v, c.v) /
          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
      FROM e q JOIN e c ON q.vec_id != c.vec_id
      WHERE q.vec_id < 8
    )
    SELECT query_id, neighbor_id, cos,
      CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 5
    ORDER BY query_id, rank
    """


@register("s01_cosine_topk", oracle=_S01_ORACLE)
def s01_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return similarity.cosine_topk(emb, queries, k=5).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# s02 — embedding-cosine near-dup pairs above a threshold (brute force).
# ---------------------------------------------------------------------------
@register(
    "s02_cosine_pairs",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      list_dot_product(a.v, b.v) /
        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) /
        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45
    ORDER BY id_a, id_b
    """,
)
def s02_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs(emb, threshold=0.45).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# s04 — IVF top-k through the REAL train/assign/probe machinery, run at
# nprobe = n_centroids (exhaustive) so the result equals brute force and
# the s01 oracle hash-checks it. Recall at nprobe < C is asserted in
# tests/test_similarity_ivf.py against the brute-force baseline.
# ---------------------------------------------------------------------------
@register("s04_ivf_topk", oracle=_S01_ORACLE)
def s04_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # auto-sized quantizer (cells ~ n / TARGET_CELL_OCCUPANCY, floor 8 at
    # the graded fixtures); nprobe=None keeps the probe exhaustive at any
    # cell count, so the result equals brute force at every scale
    centroids = similarity.train_centroids(emb, iters=1)
    queries = emb.filter(F.col("vec_id") < 8)
    return similarity.ivf_topk(
        emb, queries, centroids, k=5, nprobe=None
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# s03 — hyperplane-LSH bucketed pairs: the 100 TB scale path for s02.
#
# LSH is designed for the near-dup regime (threshold >= 0.9), but the
# synthetic embeddings table has NO pairs above 0.8 — an oracle at 0.9
# over the raw table would be trivially empty. So the query plants
# near-duplicates inside the query itself (vec_id < 100 re-entered under
# vec_id + 100000 with the identical vector — the same UNION is in the
# oracle SQL): identical vectors get identical signatures in every band,
# so recall is structurally 1 and the result is deterministic. The full
# pipeline (banding GEMM, checkpoint, band self-join, distinct, exact
# fold-order verification) runs for real and hash-matches the DuckDB
# brute-force oracle. Approximate recall at lower thresholds is asserted
# separately in tests/test_lsh_recall.py.
# ---------------------------------------------------------------------------
@register(
    "s03_lsh_bucketed_pairs",
    oracle="""
    WITH all_v AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 100
    ), e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM all_v)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      list_dot_product(a.v, b.v) /
        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) /
        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.9
    ORDER BY id_a, id_b
    """,
)
def s03_lsh_bucketed_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return similarity.lsh_bucketed_pairs(
        _with_planted_dups(emb), dim=64, threshold=0.9
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# s05 — IVF-cell-bucketed near-dup pairs (the SemDeDup shape): candidates
# only within coarse-quantizer cells, exact-verified. Same planted-dup
# construction and brute-force oracle as s03 — identical vectors share a
# nearest centroid deterministically, so recall on the planted pairs is
# structurally 1; cross-cell approximation is asserted against s02 in
# tests.
# ---------------------------------------------------------------------------
@register(
    "s05_ivf_bucketed_pairs",
    oracle="""
    WITH all_v AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 100
    ), e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM all_v)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      list_dot_product(a.v, b.v) /
        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) /
        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.9
    ORDER BY id_a, id_b
    """,
)
def s05_ivf_bucketed_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    allv = _with_planted_dups(emb)
    # auto-sized cells (occupancy-targeted, floor 8 at graded fixtures):
    # identical vectors share a nearest centroid at ANY cell count, so the
    # planted-dup result is invariant while within-cell quadratic work
    # stays bounded as the corpus grows (the s05 scale-probe fix)
    centroids = similarity.train_centroids(allv, iters=1)
    emb_rows = table_rows(sf_dir, "embeddings")
    return similarity.ivf_bucketed_pairs(
        allv,
        centroids,
        threshold=0.9,
        # corpus = embeddings + the planted dups; footer metadata only
        n_rows=None if emb_rows is None else emb_rows + _PLANTED_DUPS,
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# t01 — per-document text statistics (quality-scoring features).
# ---------------------------------------------------------------------------
@register(
    "t01_text_stats",
    oracle="""
    SELECT doc_id,
      CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
      CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_tokens,
      CAST(length(text) AS INTEGER) AS n_chars,
      (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
        / len(string_split(text, ' ')) AS avg_token_len,
      len(list_filter(string_split(text, ' '),
          t -> list_contains(['the','a','of','and','to','in','is','it','on','for'], t))) * 1.0
        / len(string_split(text, ' ')) AS stopword_ratio
    FROM documents
    ORDER BY doc_id
    """,
)
def t01_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.distinct_token_count("text").alias("n_distinct_tokens"),
        T.char_count("text").alias("n_chars"),
        T.avg_token_len("text").alias("avg_token_len"),
        T.stopword_ratio("text").alias("stopword_ratio"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# t02 — corpus profile by language: integer-sum ratios (exact, order-free).
# ---------------------------------------------------------------------------
@register(
    "t02_lang_profile",
    oracle="""
    SELECT lang,
      COUNT(*) AS n_docs,
      CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens,
      CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_chars,
      CAST(SUM(CAST(len(list_filter(string_split(text, ' '),
          t -> list_contains(['the','a','of','and','to','in','is','it','on','for'], t))) AS BIGINT)) AS DOUBLE)
        / CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS DOUBLE) AS stopword_ratio
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def t02_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sw = F.array(*[F.lit(s) for s in T.EN_STOPWORDS])
    n_stop = F.size(F.filter(T.tokens("text"), lambda t: F.array_contains(sw, t)))
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(T.token_count("text").cast("bigint")).alias("total_tokens"),
            F.sum(T.char_count("text").cast("bigint")).alias("total_chars"),
            # Exact-integer sums cast to DOUBLE before ONE IEEE division:
            # bit-identical in Spark and DuckDB (DuckDB's `* 1.0` route
            # goes through DECIMAL/HUGEINT and rounds differently — the
            # r01/r02 hash mismatch on this query).
            (
                F.sum(n_stop.cast("bigint")).cast("double")
                / F.sum(T.token_count("text").cast("bigint")).cast("double")
            ).alias("stopword_ratio"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# t04 — language ID: marker-word argmax (heuristic replicated by the
# oracle; the fixture's lang column is uncorrelated with its synthetic
# text, so the CHECK is heuristic determinism, not label recovery).
# ---------------------------------------------------------------------------
_T04_MARKERS_SQL = """
    [
      {m: ['der','die','und','nicht','das'], l: 'de'},
      {m: ['the','of','and','is','to'],      l: 'en'},
      {m: ['el','los','las','y','es'],       l: 'es'},
      {m: ['le','la','les','et','est'],      l: 'fr'}
    ]
"""


@register(
    "t04_language_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
        list_sort(list_transform({_T04_MARKERS_SQL},
          s -> {{neg: -len(list_filter(string_split(text, ' '),
                                       t -> list_contains(s.m, t))),
                 lang: s.l}}))[1] AS best
      FROM documents
    )
    SELECT doc_id,
      CASE WHEN best.neg < 0 THEN best.lang ELSE 'unknown' END AS lang_pred
    FROM scored
    ORDER BY doc_id
    """,
)
def t04_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.lang_id("text").alias("lang_pred")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# t05 — LLM token budgeting: BPE-ish pre-tokenizer counts vs whitespace
# counts (identical regex engines' semantics on this RE2-safe pattern).
# ---------------------------------------------------------------------------
@register(
    "t05_bpe_token_count",
    oracle=rf"""
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '{T.BPE_PRETOKEN_RE}')) AS INTEGER) AS n_bpe_tokens,
      CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens
    FROM documents
    ORDER BY doc_id
    """,
)
def t05_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.bpe_token_count("text").alias("n_bpe_tokens"),
        T.token_count("text").alias("n_ws_tokens"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# t03 — document fingerprints: md5 (exact) + bottom-1 shingle sketch.
# ---------------------------------------------------------------------------
@register(
    "t03_fingerprints",
    oracle=rf"""
    WITH {_SQL_SHINGLES}
    SELECT d.doc_id,
      md5(lower(trim(regexp_replace(d.text, '\s+', ' ', 'g')))) AS fp_md5,
      MIN(md5(sh.shingle)) AS fp_min_shingle
    FROM documents d JOIN sh ON sh.doc_id = d.doc_id
    GROUP BY 1, 2
    ORDER BY d.doc_id
    """,
)
def t03_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.operators.skew import spread_small_input

    # md5 + the min-shingle Arrow pass are CPU-dense per byte; spread an
    # unsplittable scan across cores first (guide §2.5 — two ~0.8 s
    # single-task stages measured; no-op for many-file corpora)
    docs = spread_small_input(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        rows=table_rows(sf_dir, "documents"),
    )
    return (
        docs.select(
            "doc_id",
            T.fingerprint_md5("text").alias("fp_md5"),
            T.min_shingle_md5_udf(3)("text").alias("fp_min_shingle"),
        )
        .filter(F.col("fp_min_shingle").isNotNull())
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# t06 — corpus curation: quality filter + deterministic content-hash
# sampling (reproducible splits — no rand()). Both predicates restated
# from first principles in the oracle.
# ---------------------------------------------------------------------------
@register(
    "t06_quality_sample",
    oracle="""
    WITH scored AS (
      SELECT doc_id, text,
        len(string_split(text, ' ')) AS n_tok,
        (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
          / len(string_split(text, ' ')) AS avg_len,
        (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
          / length(text) AS dig_ratio
      FROM documents
    )
    SELECT doc_id, CAST(n_tok AS INTEGER) AS n_tokens
    FROM scored
    WHERE n_tok >= 10 AND dig_ratio <= 0.3 AND avg_len >= 2.0
      AND CAST(('0x' || substr(md5(text), 1, 2))::BIGINT AS INTEGER) < 128
    ORDER BY doc_id
    """,
)
def t06_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(T.quality_keep("text") & T.deterministic_sample("text", 50))
        .select("doc_id", T.token_count("text").alias("n_tokens"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# t07 — token-window chunking for context budgets: one row per ≤64-token
# chunk; lossless (concatenating a doc's chunks rebuilds its token
# stream). Narrow fan-out, no shuffle.
# ---------------------------------------------------------------------------
@register(
    "t07_chunk_documents",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    )
    SELECT doc_id,
      CAST(i AS INTEGER) AS chunk_idx,
      array_to_string(t[i*64+1 : i*64+64], ' ') AS chunk_text,
      CAST(len(t[i*64+1 : i*64+64]) AS INTEGER) AS chunk_tokens
    FROM toks, UNNEST(range(0, CAST(ceil(len(t) / 64.0) AS BIGINT))) AS u(i)
    ORDER BY doc_id, chunk_idx
    """,
)
def t07_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    chunk = F.explode(T.chunk_spans("text", 64)).alias("c")
    return (
        docs.select("doc_id", chunk)
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk_text").alias("chunk_text"),
            T.token_count(F.col("c.chunk_text")).alias("chunk_tokens"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# ---------------------------------------------------------------------------
# t08 — winnowing fingerprints (rolling k-gram hash + per-window minimum;
# MOSS). Positional, locality-preserving — complements t03's global
# bottom-k sketch. Oracle restates the window-minimum from first
# principles over the same md5 gram hashes.
# ---------------------------------------------------------------------------
@register(
    "t08_winnow_fingerprints",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS i, len(t) - 2 AS n_grams,
             md5(concat_ws(' ', t[i], t[i+1], t[i+2])) AS h
      FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    ),
    sel AS (
      SELECT doc_id, i, n_grams,
             min(struct_pack(h := h, p := i))
               OVER (PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s
      FROM grams
    )
    SELECT DISTINCT doc_id, (s).h AS fp_hash, (s).p AS fp_pos
    FROM sel WHERE i <= n_grams - 3
    ORDER BY doc_id, fp_pos
    """,
)
def t08_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.winnow_fingerprints(docs, "doc_id", "text", k=3, w=4).orderBy(
        "doc_id", "fp_pos"
    )


# ---------------------------------------------------------------------------
# t09 — PII redaction (emails / IPv4 / phone-like numbers → tags) plus
# per-kind match counts. The synthetic corpus contains no PII, so the
# query PLANTS it deterministically from doc_id (identical expression in
# the oracle — the s03 pattern): even docs get an email, every third doc
# an IP, every doc a phone-like number. Patterns are RE2-safe and the
# oracle SQL below is BUILT from functions.text.PII_PATTERNS, so the two
# engines can never drift.
# ---------------------------------------------------------------------------
_T09_PLANT_SQL = (
    "text || CASE WHEN doc_id % 2 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com' ELSE '' END"
    " || CASE WHEN doc_id % 3 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.7' ELSE '' END"
    " || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


def _t09_oracle() -> str:
    email, e_tag = T.PII_PATTERNS["email"]
    ipv4, i_tag = T.PII_PATTERNS["ipv4"]
    phone, p_tag = T.PII_PATTERNS["phone"]
    redact = (
        f"regexp_replace(regexp_replace(regexp_replace(t, '{email}', '{e_tag}', 'g'),"
        f" '{ipv4}', '{i_tag}', 'g'), '{phone}', '{p_tag}', 'g')"
    )
    return f"""
    WITH p AS (SELECT doc_id, {_T09_PLANT_SQL} AS t FROM documents)
    SELECT doc_id,
      CAST(len(regexp_extract_all(t, '{email}')) AS INTEGER) AS n_emails,
      CAST(len(regexp_extract_all(t, '{ipv4}')) AS INTEGER) AS n_ips,
      CAST(len(regexp_extract_all(t, '{phone}')) AS INTEGER) AS n_phones,
      {redact} AS redacted
    FROM p ORDER BY doc_id
    """


@register("t09_pii_redaction", oracle=_t09_oracle())
def t09_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.when(
            did % 2 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".7")),
        ).otherwise(F.lit("")),
        F.lit(" call 555-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
    )
    return (
        docs.select("doc_id", planted.alias("t"))
        .select(
            "doc_id",
            T.pii_count("t", "email").cast("int").alias("n_emails"),
            T.pii_count("t", "ipv4").cast("int").alias("n_ips"),
            T.pii_count("t", "phone").cast("int").alias("n_phones"),
            T.redact_pii("t").alias("redacted"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# t10 — repetition / duplication quality signals (Gopher-style filters):
# duplicate-token and duplicate-bigram mass are closed-form expressions;
# top-token dominance needs a per-token frequency argmax — explode →
# (doc, token) count → per-doc max, two partial-agg shuffles on doc_id.
# ---------------------------------------------------------------------------
@register(
    "t10_repetition_stats",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    freq AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
      GROUP BY doc_id, tok
    ),
    top AS (SELECT doc_id, MAX(c) AS max_c FROM freq GROUP BY doc_id),
    grams AS (
      SELECT doc_id,
        len(t) - 1 AS n_bi,
        (SELECT COUNT(DISTINCT array_to_string(t[i:i+1], ' '))
         FROM UNNEST(range(1, len(t))) AS u(i)) AS n_bi_distinct
      FROM toks
    )
    SELECT k.doc_id,
      CAST(len(t) AS INTEGER) AS n_tokens,
      1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE) AS dup_token_frac,
      CASE WHEN g.n_bi > 0
        THEN 1.0 - CAST(g.n_bi_distinct AS DOUBLE) / CAST(g.n_bi AS DOUBLE)
        ELSE 0.0 END AS dup_bigram_frac,
      CAST(p.max_c AS DOUBLE) / CAST(len(t) AS DOUBLE) AS top_token_frac
    FROM toks k
    JOIN top p ON p.doc_id = k.doc_id
    JOIN grams g ON g.doc_id = k.doc_id
    ORDER BY k.doc_id
    """,
)
def t10_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.operators.skew import spread_small_input

    # Both branches (the repetition-stats expressions and the token
    # explode + per-doc top-count) are CPU-dense array work whose map
    # side otherwise inherits the scan's parallelism (guide §2.5, the
    # t37 pattern); the repartition also satisfies the two doc_id
    # aggregations' clustering requirement, replacing their
    # ENSURE_REQUIREMENTS exchanges. No-op on multi-file corpora by
    # construction.
    docs = spread_small_input(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        rows=table_rows(sf_dir, "documents"),
    )
    stats = T.repetition_stats("text")
    base = docs.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        stats["dup_token_frac"].alias("dup_token_frac"),
        stats["dup_bigram_frac"].alias("dup_bigram_frac"),
    )
    top = (
        docs.select("doc_id", F.explode(T.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_c"))
    )
    return (
        base.join(top, "doc_id")
        .withColumn(
            "top_token_frac",
            F.col("max_c").cast("double") / F.col("n_tokens").cast("double"),
        )
        .drop("max_c")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# t11 — web-corpus curation: URL count, first domain, boilerplate-line
# stripping, surviving-content line count. The synthetic corpus has no
# URLs or boilerplate, so the query PLANTS them deterministically from
# doc_id (identical expression in the oracle — the t09 pattern). All
# regexes come from functions.text constants and are embedded verbatim
# in the oracle SQL, so the two engines can never drift.
# ---------------------------------------------------------------------------
_T11_PLANT_SQL = (
    "text"
    " || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'Read more at https://site'"
    " || CAST(doc_id % 50 AS VARCHAR) || '.example.com/p/'"
    " || CAST(doc_id AS VARCHAR) || ' now' ELSE '' END"
    " || CASE WHEN doc_id % 4 = 0 THEN chr(10) ||"
    " 'Copyright 2024 Example Corp all rights reserved' ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN chr(10) ||"
    " 'We use cookies - Subscribe to our newsletter' ELSE '' END"
)


def _t11_oracle() -> str:
    clean = f"regexp_replace(t, '{T.BOILERPLATE_RE}', '', 'g')"
    return f"""
    WITH p AS (SELECT doc_id, {_T11_PLANT_SQL} AS t FROM documents)
    SELECT doc_id,
      CAST(len(regexp_extract_all(t, '{T.URL_RE}')) AS INTEGER) AS n_urls,
      regexp_extract(t, '{T.DOMAIN_RE}', 1) AS domain,
      {clean} AS clean_text,
      CAST(len(regexp_extract_all({clean}, '[^\n]+')) AS INTEGER) AS n_content_lines
    FROM p ORDER BY doc_id
    """


@register("t11_web_curation", oracle=_t11_oracle())
def t11_web_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit("\nRead more at https://site"),
                (did % 50).cast("string"),
                F.lit(".example.com/p/"),
                did.cast("string"),
                F.lit(" now"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 0,
            F.lit("\nCopyright 2024 Example Corp all rights reserved"),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.lit("\nWe use cookies - Subscribe to our newsletter"),
        ).otherwise(F.lit("")),
    )
    return (
        docs.select("doc_id", planted.alias("t"))
        .select(
            "doc_id",
            T.url_count("t").cast("int").alias("n_urls"),
            T.first_domain("t").alias("domain"),
            T.strip_boilerplate("t").alias("clean_text"),
            T.nonempty_line_count(T.strip_boilerplate("t"))
            .cast("int")
            .alias("n_content_lines"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# t13 — TF-IDF top terms per document. Idf is the BM25-style RATIONAL
# form (N - df + 0.5)/(df + 0.5) with the log deliberately omitted:
# ln/log are transcendental and NOT bit-reproducible across engines,
# while +,-,*,/ on the same operands in the same expression shape are —
# so the score survives the driver's value-hash. Term counts are integer
# aggregates (order-free); each score is a per-row scalar expression
# mirrored operator-for-operator in the oracle.
# ---------------------------------------------------------------------------
_T13_ORACLE = """
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
tfn AS (SELECT *, CAST(SUM(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS n_tokens FROM tf),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
    (CAST(t.tf AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)) *
      ((n.nd - CAST(d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5)) AS score
  FROM tfn t JOIN dfreq d USING (term) CROSS JOIN n
)
SELECT doc_id, CAST(rnk AS INTEGER) AS rank, term,
  CAST(tf AS INTEGER) AS tf, CAST(df AS BIGINT) AS df, score
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
  FROM scored
)
WHERE rnk <= 3
ORDER BY doc_id, rank
"""


@register("t13_tfidf_top_terms", oracle=_T13_ORACLE)
def t13_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_docs = float(docs.count())
    tf = (
        docs.select("doc_id", F.explode(T.tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    tf = tf.withColumn(
        "n_tokens", F.sum("tf").over(Window.partitionBy("doc_id"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    dfd = F.col("df").cast("double")
    scored = tf.join(dfreq, "term").withColumn(
        "score",
        (F.col("tf").cast("double") / F.col("n_tokens").cast("double"))
        * ((F.lit(n_docs) - dfd + F.lit(0.5)) / (dfd + F.lit(0.5))),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
            "term",
            F.col("tf").cast("int").alias("tf"),
            "df",
            "score",
        )
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# t14 — unigram-LM likelihood scoring (perplexity-style quality signal
# without the transcendental): corpus token frequencies → per-document
# mean/min token probability and below-average-frequency token fraction.
# All aggregates are INTEGER sums (order-free across partitions); each
# probability is a single division of integer-derived doubles, so the
# result is bit-identical cross-engine. The "rare" test multiplies
# integers (ctok × vocab < N_corpus) instead of comparing float
# probabilities to a float mean.
# ---------------------------------------------------------------------------
_T14_ORACLE = """
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
freq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS ctok FROM tok GROUP BY term),
tot AS (SELECT CAST(SUM(ctok) AS BIGINT) AS n_corpus, CAST(COUNT(*) AS BIGINT) AS vocab FROM freq),
per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
    CAST(SUM(ctok) AS BIGINT) AS sum_freq,
    MIN(ctok) AS min_freq,
    CAST(SUM(CASE WHEN ctok * t.vocab < t.n_corpus THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
  FROM tok JOIN freq USING (term) CROSS JOIN tot t
  GROUP BY doc_id
)
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens, sum_freq,
  CAST(sum_freq AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * CAST(t.n_corpus AS DOUBLE)) AS mean_tok_prob,
  CAST(min_freq AS DOUBLE) / CAST(t.n_corpus AS DOUBLE) AS min_tok_prob,
  CAST(n_rare AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS below_avg_frac
FROM per CROSS JOIN tot t ORDER BY doc_id
"""


@register("t14_lm_likelihood", oracle=_T14_ORACLE)
def t14_lm_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    freq = toks.groupBy("term").agg(F.count("*").alias("ctok"))
    tot = freq.agg(
        F.sum("ctok").alias("n_corpus"), F.count("*").alias("vocab")
    ).collect()[0]
    n_corpus, vocab = int(tot.n_corpus or 0), int(tot.vocab or 0)
    per = (
        toks.join(freq, "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("ctok").alias("sum_freq"),
            F.min("ctok").alias("min_freq"),
            F.sum(
                F.when(F.col("ctok") * F.lit(vocab) < F.lit(n_corpus), 1).otherwise(0)
            ).alias("n_rare"),
        )
    )
    nc = F.lit(float(n_corpus))
    return per.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("sum_freq"),
        (F.col("sum_freq").cast("double") / (F.col("n_tokens").cast("double") * nc)).alias(
            "mean_tok_prob"
        ),
        (F.col("min_freq").cast("double") / nc).alias("min_tok_prob"),
        (F.col("n_rare").cast("double") / F.col("n_tokens").cast("double")).alias(
            "below_avg_frac"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# d10 — exact duplicated-substring spans (Lee et al. substring dedup):
# maximal >= 8-token spans appearing verbatim in >= 2 documents, as
# (doc, start, end) token positions for span-stripping. Gram fingerprints
# + gaps-and-islands merge; the oracle recomputes with string windows and
# SQL window functions.
# ---------------------------------------------------------------------------
_D10_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS w
  FROM toks, UNNEST(range(1, len(t)-6)) AS u(i)
),
dup AS (
  SELECT w FROM (SELECT DISTINCT doc_id, w FROM g)
  GROUP BY w HAVING COUNT(*) >= 2
),
dw AS (SELECT doc_id, pos FROM g JOIN dup USING (w)),
isl AS (
  SELECT doc_id, pos,
    CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
      THEN 0 ELSE 1 END AS brk
  FROM dw
),
isl2 AS (
  SELECT doc_id, pos,
    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp
  FROM isl
)
SELECT doc_id, CAST(MIN(pos) AS INTEGER) AS span_start,
  CAST(MAX(pos) + 7 AS INTEGER) AS span_end,
  CAST(MAX(pos) + 8 - MIN(pos) AS INTEGER) AS span_len
FROM isl2 GROUP BY doc_id, grp
ORDER BY doc_id, span_start
"""


@register("d10_duplicate_spans", oracle=_D10_ORACLE)
def d10_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicate_spans(docs, "doc_id", "text", min_len=8).orderBy(
        "doc_id", "span_start"
    )


# ---------------------------------------------------------------------------
# t15 — deterministic dataset split (80/10/10 train/val/test) from the
# content hash, with the stratum columns carried through so per-language
# proportions are auditable. No rand(): identical assignment on every
# run, engine, and executor count.
# ---------------------------------------------------------------------------
_T15_ORACLE = """
SELECT doc_id, lang,
  CASE
    WHEN ('0x' || substr(md5(text), 1, 4))::BIGINT < 52428 THEN 'train'
    WHEN ('0x' || substr(md5(text), 1, 4))::BIGINT < 58982 THEN 'val'
    ELSE 'test'
  END AS split
FROM documents
ORDER BY doc_id
"""


@register("t15_dataset_split", oracle=_T15_ORACLE)
def t15_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", T.split_assign("text").alias("split")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# s06 — int8 symmetric quantization of the embedding column (the storage/
# serving compression step before ANN indexes). Exploded to (vec_id,
# dim_idx, q, scale) rows so the oracle compares scalars, not engine-
# specific array renderings. floor(x*scale + 0.5) not round(): floor is
# exact on doubles; round()'s tie rule differs between engines.
# ---------------------------------------------------------------------------
_S06_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT vec_id, v,
    CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
      THEN 127.0 / list_max(list_transform(v, x -> abs(x))) END AS scale
  FROM e
)
SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim_idx,
  CAST(floor(v[i] * scale + 0.5) AS INTEGER) AS q,
  scale
FROM s, UNNEST(range(1, len(v) + 1)) AS u(i)
ORDER BY vec_id, dim_idx
"""


@register("s06_quantize_embeddings", oracle=_S06_ORACLE)
def s06_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.functions import vectors as V

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", V.as_double_array("embedding").alias("v")
    )
    scaled = emb.withColumn("scale", V.quantize_scale(F.col("v")))
    return (
        scaled.select(
            "vec_id", "scale", F.posexplode("v").alias("dim_idx", "x")
        )
        .select(
            "vec_id",
            F.col("dim_idx").cast("int").alias("dim_idx"),
            V.quantize_element(F.col("x"), F.col("scale")).alias("q"),
            "scale",
        )
        .orderBy("vec_id", "dim_idx")
    )


# ---------------------------------------------------------------------------
# t16 — per-language token-count z-scores via the grouped-map Pandas API
# (applyInPandas): the outlier-detection step of per-stratum quality
# filtering. Moments from integer sums; every float op's expression
# shape mirrored in the oracle, so z-scores hash-match.
# ---------------------------------------------------------------------------
_T16_ORACLE = """
WITH base AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens FROM documents
),
g AS (
  SELECT lang,
    CAST(SUM(n_tokens) AS BIGINT) AS s,
    CAST(SUM(n_tokens * n_tokens) AS BIGINT) AS ss,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM base GROUP BY lang
),
st AS (
  SELECT lang, CAST(s AS DOUBLE) / n AS mean,
    sqrt((CAST(ss AS DOUBLE) / n)
         - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS std
  FROM g
)
SELECT b.doc_id, b.lang, CAST(b.n_tokens AS INTEGER) AS n_tokens,
  CASE WHEN st.std > 0
    THEN (CAST(b.n_tokens AS DOUBLE) - st.mean) / st.std
    ELSE 0.0 END AS z
FROM base b JOIN st USING (lang)
ORDER BY b.doc_id
"""


@register("t16_lang_zscores", oracle=_T16_ORACLE)
def t16_lang_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.operators.standardize import grouped_zscore

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "lang", T.token_count("text").cast("int").alias("n_tokens")
    )
    return grouped_zscore(base, ["lang"], "n_tokens").orderBy("doc_id")


# ---------------------------------------------------------------------------
# t17 — sequence packing (concatenation packing): per document, the
# fixed-capacity pack span it occupies when each language stream's
# documents are laid end to end in doc_id order and cut every 2048
# tokens. Pure integer window arithmetic (exact cross-engine); the
# window is partitioned per stream — the scalable shape (see
# operators/packing.py; salt streams for more parallelism at scale).
# ---------------------------------------------------------------------------
_T17_ORACLE = """
WITH base AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens FROM documents
),
o AS (
  SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n,
    CAST(COALESCE(SUM(n_tokens) OVER (
      PARTITION BY lang ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
  FROM base
)
SELECT doc_id, lang, CAST(n AS INTEGER) AS n_tokens,
  s // 2048 AS pack_first,
  (s + GREATEST(n, 1) - 1) // 2048 AS pack_last,
  s % 2048 AS pack_offset,
  ((s + GREATEST(n, 1) - 1) // 2048) - (s // 2048) + 1 AS n_packs
FROM o ORDER BY doc_id
"""


@register("t17_pack_sequences", oracle=_T17_ORACLE)
def t17_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.operators.packing import pack_offsets

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "lang", T.token_count("text").cast("int").alias("n_tokens")
    )
    return pack_offsets(
        base, "doc_id", "n_tokens", capacity=2048, stream_cols=["lang"]
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# s07 — nearest-centroid cluster profile (the assignment half of k-means
# / SemDeDup cell statistics): every embedding is assigned to its
# nearest of 8 FIXED centroids (the vec_id < 8 vectors — deterministic,
# so the DuckDB brute-force oracle can replicate the assignment), then
# each cluster is profiled (size, mean cosine-to-centroid, mean label).
#
# The Lloyd's-iteration training path is the same machinery with moving
# centroids (similarity.train_centroids, exercised by s04/s05 and
# tests/test_similarity_ivf.py); it has no SQL oracle because the
# iteration is not SQL-expressible.
#
# Scale shape: assignment is one GEMM per Arrow batch against an 8×64
# broadcast constant; the profile is a partial-aggregated groupBy on an
# 8-value key. One pass over the corpus, one 8-row shuffle.
#
# Exactness: the GEMM cosine (normalized BLAS product) is NOT
# bit-identical to the oracle's fold-order dot product — so with only
# 8 fixed centroids BOTH the assignment argmax AND the profiled cosine
# use the exact left-to-right fold JVM-side (8 codegen folds per row,
# array_max over (cos, -cid) structs = ORDER BY cos DESC, cid ASC);
# a GEMM-vs-fold ulp near-tie can no longer flip a row's cluster. The
# mean is of 1e-12-quantized cosines summed as exact decimals
# (documented, engine-identical). The GEMM path (ivf_assign) remains
# the scale machinery for moving-centroid training (s04/s05), where
# bit-parity against a SQL oracle is not required.
# ---------------------------------------------------------------------------
@register(
    "s07_cluster_profile",
    oracle="""
    WITH c AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 8
    ),
    e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
      WHERE embedding IS NOT NULL
        AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
    ),
    scored AS (
      SELECT e.vec_id, e.label, c.cid,
        list_dot_product(e.v, c.cv)
          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
          AS cos,
        row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_dot_product(e.v, c.cv)
            / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
            DESC, c.cid ASC) AS rn
      FROM e CROSS JOIN c
    )
    SELECT CAST(cid AS INT) AS cluster_id,
      CAST(COUNT(*) AS BIGINT) AS n_vectors,
      CAST(SUM(CAST(round(cos * 1000000000000.0) AS DECIMAL(38,0)))
           AS DOUBLE) / COUNT(*) / 1000000000000.0 AS avg_cos,
      AVG(CAST(label AS DOUBLE)) AS avg_label
    FROM scored WHERE rn = 1
    GROUP BY cid
    ORDER BY cluster_id
    """,
)
def s07_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from censo_escolar_spark.functions.vectors import as_double_array, dot

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    seeds = (
        emb.filter(F.col("vec_id") < 8).orderBy("vec_id").select("embedding").collect()
    )  # 8×64 floats — constant-sized driver pull, inlined as literals
    centroids = [[float(x) for x in r.embedding] for r in seeds]

    def py_norm(c):
        # same left-to-right float64 adds as the engines' fold; sqrt is
        # IEEE-correctly-rounded, so this equals sqrt(list_dot_product)
        # of the literal centroid without an interpreted per-row fold
        acc = 0.0
        for x in c:
            acc += x * x
        return math.sqrt(acc)

    # NOTE on shape: an unrolled element_at sum (512 codegen terms) was
    # tried and is ~3× SLOWER end-to-end than the zip_with/aggregate
    # fold — Catalyst spends longer optimizing the 1600-node tree than
    # the interpreted fold spends evaluating. The fold stays.
    base = (
        emb.withColumn("__v", as_double_array("embedding"))
        .withColumn("__nv", F.sqrt(dot(F.col("__v"), F.col("__v"))))
        # zero-norm guard on BOTH engines (mirrors s20): a zero vector
        # has no defined nearest centroid (NaN cosine) — excluded, not
        # arbitrarily assigned
        .filter(F.col("__nv") > 0)
    )
    if centroids:
        # array_max over (cos, -cid) structs == ORDER BY cos DESC, cid ASC
        best = F.array_max(
            F.array(
                *[
                    F.struct(
                        (
                            dot(F.col("__v"), F.array(*[F.lit(x) for x in c]))
                            / (F.col("__nv") * F.lit(py_norm(c)))
                        ).alias("cos"),
                        F.lit(-i).alias("ncid"),
                    )
                    for i, c in enumerate(centroids)
                ]
            )
        )
    else:
        # no seed centroids: typed NULL keeps the plan analyzable; the
        # isNotNull filter below then yields the oracle's empty result
        best = F.lit(None).cast("struct<cos:double,ncid:int>")
    assigned = (
        base.withColumn("__centroid_id", (-best["ncid"]).cast("int"))
        .withColumn("__cos_exact", best["cos"])
        .filter(F.col("__centroid_id").isNotNull())
    )
    sc = F.round(F.col("__cos_exact") * F.lit(1e12)).cast("decimal(38,0)")
    return (
        assigned.groupBy(F.col("__centroid_id").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_vectors"),
            (
                F.sum(sc).cast("double") / F.count("*") / F.lit(1e12)
            ).alias("avg_cos"),
            F.avg(F.col("label").cast("double")).alias("avg_label"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# t18 — readability scoring (Flesch reading ease over the closed-form
# vowel-group syllable proxy). Words/sentences/syllables are all codegen
# regex counts — one scan, no shuffle except the output sort; the same
# patterns are embedded verbatim in the oracle.
# ---------------------------------------------------------------------------
@register(
    "t18_readability",
    oracle=f"""
    SELECT doc_id,
      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      CAST(greatest(len(regexp_extract_all(text, '{T.SENTENCE_RE}')), 1) AS BIGINT)
        AS n_sentences,
      CAST(len(regexp_extract_all(lower(text), '{T.SYLLABLE_RE}')) AS BIGINT)
        AS n_syllables,
      206.835
        - 1.015 * (CAST(len(string_split(text, ' ')) AS DOUBLE)
                   / CAST(greatest(len(regexp_extract_all(text, '{T.SENTENCE_RE}')), 1) AS DOUBLE))
        - 84.6 * (CAST(len(regexp_extract_all(lower(text), '{T.SYLLABLE_RE}')) AS DOUBLE)
                  / CAST(len(string_split(text, ' ')) AS DOUBLE))
        AS flesch
    FROM documents
    ORDER BY doc_id
    """,
)
def t18_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count("text").cast("bigint").alias("n_words"),
        T.sentence_count("text").alias("n_sentences"),
        T.syllable_count("text").alias("n_syllables"),
        T.flesch_reading_ease("text").alias("flesch"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# s08 — matryoshka retrieval eval: brute-force top-k over embeddings
# TRUNCATED to their first 16 dimensions (matryoshka-style dimension
# reduction: rankings under cosine are scale-invariant, so truncation
# without renormalization evaluates exactly what a 16-dim index would
# return). Reuses the s01 cosine_topk machinery on a sliced column —
# the Spark-side cost drops 4× with the dimension, same as at scale.
# ---------------------------------------------------------------------------
@register(
    "s08_matryoshka_topk",
    oracle="""
    WITH e AS (
      SELECT vec_id, (embedding::DOUBLE[])[1:16] AS v FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        list_dot_product(q.v, c.v) /
          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
      FROM e q JOIN e c ON q.vec_id != c.vec_id
      WHERE q.vec_id < 8
    )
    SELECT query_id, neighbor_id, cos, CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 5
    ORDER BY query_id, rank
    """,
)
def s08_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    emb16 = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    queries = emb16.filter(F.col("vec_id") < 8)
    return similarity.cosine_topk(emb16, queries, k=5).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# t20 — distribution-relative quality filtering: keep the top half of
# each language by quality score (avg token length), the rank-based
# form of "keep docs above the per-group median". Rank semantics are
# exact integers — no cross-engine float-boundary membership flips at
# the median, which interpolating-quantile filters are exposed to.
#
# Scale shape: one window per lang partition (bounded fan-in groups) —
# a single shuffle on lang; the score is a closed-form codegen
# expression, identical IEEE ops in both engines.
# ---------------------------------------------------------------------------
@register(
    "t20_top_half_quality",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
        CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
          / CAST(len(string_split(text, ' ')) AS DOUBLE) AS score
      FROM documents
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id)
          AS rn,
        COUNT(*) OVER (PARTITION BY lang) AS n
      FROM scored
    )
    SELECT doc_id, lang, score
    FROM ranked WHERE rn <= CAST(ceil(n / 2.0) AS BIGINT)
    ORDER BY doc_id
    """,
)
def t20_top_half_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "lang", T.avg_token_len("text").alias("score"))
    w = Window.partitionBy("lang")
    ranked = scored.select(
        "*",
        F.row_number().over(w.orderBy(F.desc("score"), F.asc("doc_id"))).alias("rn"),
        F.count("*").over(w).alias("n"),
    )
    return (
        ranked.filter(F.col("rn") <= F.ceil(F.col("n") / 2.0).cast("bigint"))
        .select("doc_id", "lang", "score")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# t19 — BPE vocabulary training (operators/bpe.py): 8 merge rounds over
# the documents corpus, returning the ranked merge table. The rounds
# are iterative, but a FIXED number of them is SQL-expressible by
# unrolling (the g01 unrolled-pagerank precedent): each round r is a
# pair-count + argmax CTE (b{r}) over vocabulary v{r-1}, and the
# greedy left-fold rewrite becomes a gaps-and-islands parity rule —
# match positions form runs, and the fold takes exactly the
# even-offset positions of each run (for a≠b runs are length 1, so
# every match merges; for a=b a length-L run yields ⌊L/2⌋ merges,
# matching `aaaa` + (a,a) → `aa aa`). The algorithm is additionally
# pinned against a pure-Python BPE reference in tests/test_bpe.py.
# ---------------------------------------------------------------------------
_T19_ROUNDS = 8


def _t19_oracle(rounds: int = _T19_ROUNDS) -> str:
    parts = [
        r"""v0 AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS weight,
        list_filter(string_split(word, ''), s -> s != '') AS syms
      FROM (
        SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                  w -> w != '')) AS word
        FROM documents
      ) GROUP BY word
    )"""
    ]
    for r in range(1, rounds + 1):
        prev = f"v{r - 1}"
        parts.append(
            f"""b{r} AS (
      SELECT syms[i] AS a, syms[i+1] AS b,
        CAST(SUM(weight) AS BIGINT) AS freq
      FROM {prev}, UNNEST(range(1, len(syms))) AS u(i)
      GROUP BY 1, 2
      ORDER BY freq DESC, a ASC, b ASC
      LIMIT 1
    )"""
        )
        if r == rounds:
            break
        parts.append(
            f"""m{r} AS (
      SELECT t.word, t.weight, t.syms, u.i, b.a AS ma, b.b AS mb,
        CASE WHEN u.i < len(t.syms)
                  AND t.syms[u.i] = b.a AND t.syms[u.i+1] = b.b
             THEN 1 ELSE 0 END AS hit
      FROM {prev} t, UNNEST(range(1, len(t.syms) + 1)) AS u(i), b{r} b
    )"""
        )
        parts.append(
            f"""t{r} AS (
      SELECT word, weight, syms, i, ma, mb,
        CASE WHEN hit = 1
                  AND (i - MIN(i) OVER (PARTITION BY word, isl)) % 2 = 0
             THEN 1 ELSE 0 END AS takn
      FROM (
        SELECT *,
          CASE WHEN hit = 1
               THEN i - ROW_NUMBER() OVER (PARTITION BY word, hit ORDER BY i)
               ELSE NULL END AS isl
        FROM m{r}
      )
    )"""
        )
        parts.append(
            f"""v{r} AS (
      SELECT word, MIN(weight) AS weight, list(sym ORDER BY i) AS syms
      FROM (
        SELECT word, weight, i,
          CASE WHEN takn = 1 THEN ma || mb ELSE syms[i] END AS sym,
          LAG(takn, 1, 0) OVER (PARTITION BY word ORDER BY i) AS prev_takn
        FROM t{r}
      )
      WHERE prev_takn = 0
      GROUP BY word
    )"""
        )
    finals = "\n    UNION ALL ".join(
        f'SELECT CAST({r} AS INTEGER) AS rank, a AS "left", b AS "right", '
        f"a || b AS merged, freq FROM b{r}"
        for r in range(1, rounds + 1)
    )
    return (
        "WITH " + ",\n    ".join(parts) + "\n    " + finals + "\n    ORDER BY rank"
    )


@register("t19_bpe_vocab", oracle=_t19_oracle())
def t19_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.train_bpe_merges(docs, n_merges=_T19_ROUNDS)
    return bpe.merges_df(spark, merges).orderBy("rank")


# ---------------------------------------------------------------------------
# d11 — span-stripping (apply side of d10): duplicated maximal spans are
# removed token-wise, everything else survives in order. The oracle
# recomputes d10's spans and deletes covered positions with NOT EXISTS
# + ordered string_agg.
# ---------------------------------------------------------------------------
_D11_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS w
  FROM toks, UNNEST(range(1, len(t)-6)) AS u(i)
),
dup AS (
  SELECT w FROM (SELECT DISTINCT doc_id, w FROM g)
  GROUP BY w HAVING COUNT(*) >= 2
),
dw AS (SELECT doc_id, pos FROM g JOIN dup USING (w)),
isl AS (
  SELECT doc_id, pos,
    CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
      THEN 0 ELSE 1 END AS brk
  FROM dw
),
isl2 AS (
  SELECT doc_id, pos,
    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp
  FROM isl
),
spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e FROM isl2 GROUP BY doc_id, grp
),
tpos AS (
  SELECT doc_id, t[i] AS tok, i - 1 AS pos
  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
),
kept AS (
  SELECT * FROM tpos k
  WHERE NOT EXISTS (SELECT 1 FROM spans sp
                    WHERE sp.doc_id = k.doc_id AND k.pos BETWEEN sp.s AND sp.e)
)
SELECT d.doc_id,
  CAST(len(t.t) AS INTEGER) AS n_tokens_before,
  CAST(COALESCE(kc.n, 0) AS INTEGER) AS n_tokens_after,
  COALESCE(kc.txt, '') AS stripped_text
FROM documents d
JOIN toks t USING (doc_id)
LEFT JOIN (
  SELECT doc_id, COUNT(*) AS n, string_agg(tok, ' ' ORDER BY pos) AS txt
  FROM kept GROUP BY doc_id
) kc USING (doc_id)
ORDER BY doc_id
"""


@register("d11_strip_spans", oracle=_D11_ORACLE)
def d11_strip_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.strip_spans(docs, "doc_id", "text", min_len=8).orderBy("doc_id")


# ---------------------------------------------------------------------------
# c02 — the END-TO-END corpus curation pipeline (etl/corpus_job.curate):
# boilerplate strip → closed-form quality filter → minhash near-dedup →
# enrichment → content-hash split, in ONE oracle composed from the
# already-verified stage fragments (t11 strip, t06 quality, d09
# closure, t15 split). The minhash path's recall-1 argument is d09's —
# same corpus, same threshold, candidates exact-verified.
# ---------------------------------------------------------------------------
_C02_ORACLE = f"""
WITH RECURSIVE clean AS (
  SELECT doc_id, lang, regexp_replace(text, '{T.BOILERPLATE_RE}', '', 'g') AS text
  FROM documents
),
scored AS (
  SELECT doc_id, lang, text,
    len(string_split(text, ' ')) AS n_tok,
    (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
      / len(string_split(text, ' ')) AS avg_len,
    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
      / length(text) AS dig_ratio
  FROM clean
),
keepq AS (
  SELECT * FROM scored
  WHERE n_tok >= 10 AND dig_ratio <= 0.3 AND avg_len >= 2.0
),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM keepq),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(range(1, len(t)-1)) AS u(i)
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sz sa ON sa.doc_id = id_a
  JOIN sz sb ON sb.doc_id = id_b
  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
  FROM reach GROUP BY src
)
SELECT k.doc_id, k.lang,
  CAST(COALESCE(c.cluster_id, k.doc_id) AS BIGINT) AS cluster_id,
  CAST(k.n_tok AS BIGINT) AS n_tokens,
  k.avg_len AS avg_token_len,
  CASE
    WHEN ('0x' || substr(md5(k.text), 1, 4))::BIGINT < 52428 THEN 'train'
    WHEN ('0x' || substr(md5(k.text), 1, 4))::BIGINT < 58982 THEN 'val'
    ELSE 'test'
  END AS split
FROM keepq k LEFT JOIN comp c USING (doc_id)
WHERE COALESCE(c.cluster_id, k.doc_id) = k.doc_id
ORDER BY k.doc_id
"""


@register("c02_corpus_curation", oracle=_C02_ORACLE)
def c02_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.etl.corpus_job import CorpusJobConfig, curate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    out = curate(docs, CorpusJobConfig(), n_rows=table_rows(sf_dir, "documents"))
    return out.select(
        "doc_id", "lang", "cluster_id", "n_tokens", "avg_token_len", "split"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# s09 — filtered vector search: each query retrieves top-k only among
# corpus vectors sharing its label (the metadata-predicate + ANN
# composition every retrieval stack needs — at scale the label is a
# partition column and the filter prunes partitions BEFORE any distance
# math). Same broadcast + per-query window shape as s01 with the label
# equi-condition folded into the join.
# ---------------------------------------------------------------------------
_S09_ORACLE = """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
        list_dot_product(q.v, c.v) /
          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
      FROM e q JOIN e c ON q.vec_id != c.vec_id AND q.label = c.label
      WHERE q.vec_id < 8
    )
    SELECT query_id, neighbor_id, label, cos, CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 5
    ORDER BY query_id, rank
    """


@register("s09_filtered_topk", oracle=_S09_ORACLE)
def s09_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        similarity.as_double_array("embedding").alias("q_v"),
    )
    c = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("label").alias("c_label"),
        similarity.as_double_array("embedding").alias("c_v"),
    )
    from censo_escolar_spark.functions.vectors import cosine

    scored = c.join(
        F.broadcast(q),
        (F.col("q_id") != F.col("c_id")) & (F.col("q_label") == F.col("c_label")),
    ).withColumn("cos", cosine(F.col("q_v"), F.col("c_v")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            F.col("c_label").alias("label"),
            "cos",
            "rank",
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# t21 — leakage-safe dataset split: every document inherits its near-dup
# CLUSTER's split (assigned from the canonical member's content hash),
# so two near-duplicates can never straddle train/test — the
# contamination mode a per-document split (t15) cannot prevent. One
# extra equi-join on the canonical id over the d09 closure.
# ---------------------------------------------------------------------------
_T21_ORACLE = f"""
WITH RECURSIVE {_SQL_SHINGLES},
  sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
  inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ),
  pairs AS (
    SELECT id_a, id_b FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
  ),
  edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
  ),
  reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
  ),
  comp AS (
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
    FROM reach GROUP BY src
  ),
  labeled AS (
    SELECT d.doc_id, CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
    FROM documents d LEFT JOIN comp c USING (doc_id)
  )
SELECT l.doc_id, l.cluster_id,
  CASE
    WHEN ('0x' || substr(md5(canon.text), 1, 4))::BIGINT < 52428 THEN 'train'
    WHEN ('0x' || substr(md5(canon.text), 1, 4))::BIGINT < 58982 THEN 'val'
    ELSE 'test'
  END AS split
FROM labeled l JOIN documents canon ON canon.doc_id = l.cluster_id
ORDER BY l.doc_id
"""


@register("t21_leakage_safe_split", oracle=_T21_ORACLE)
def t21_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    labels = dedup.corpus_dedup(docs, "doc_id", "text", n=3, threshold=0.5).select(
        "doc_id", "cluster_id"
    )
    canon = docs.select(
        F.col("doc_id").alias("cluster_id"), T.split_assign("text").alias("split")
    )
    return labels.join(canon, "cluster_id").select(
        "doc_id", "cluster_id", "split"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# t22 — dataset mixture sampling: per-source keep rates (the "data
# mixing weights" step before training), decided by the same
# content-hash contract as t06/t15 — deterministic on every engine and
# executor count, no RNG state. One codegen projection; the rate map
# is a literal CASE, broadcast-free.
# ---------------------------------------------------------------------------
_T22_RATES = {"src0": 100, "src1": 75, "src2": 50, "src3": 25}
_T22_DEFAULT = 60  # sources without an explicit weight


@register(
    "t22_mixture_sample",
    oracle=f"""
    SELECT doc_id, source
    FROM documents
    WHERE ('0x' || substr(md5(text), 1, 2))::BIGINT <
      CASE source
        WHEN 'src0' THEN {256 * 100 // 100}
        WHEN 'src1' THEN {256 * 75 // 100}
        WHEN 'src2' THEN {256 * 50 // 100}
        WHEN 'src3' THEN {256 * 25 // 100}
        ELSE {256 * 60 // 100} END
    ORDER BY doc_id
    """,
)
def t22_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rate = F.coalesce(
        F.create_map(*[F.lit(x) for kv in _T22_RATES.items() for x in kv])[
            F.col("source")
        ],
        F.lit(_T22_DEFAULT),
    )
    cut = F.floor(F.lit(256) * rate / 100).cast("int")
    bucket = F.conv(F.substring(F.md5("text"), 1, 2), 16, 10).cast("int")
    return docs.filter(bucket < cut).select("doc_id", "source").orderBy("doc_id")


# ---------------------------------------------------------------------------
# d12 — approximate cross-corpus decontamination: near-dup pairs
# BETWEEN the eval split (doc_id % 10 = 0) and the train split, found
# through the minhash-LSH path and exact-Jaccard verified — the scale
# form of d08's exact 8-gram overlap (at 100 TB the eval set is tiny
# and the train side streams through the banded join once). The oracle
# is the exact cross-split Jaccard join; recall follows the d03/d09
# banding bound (~0.9999 at t=0.5).
# ---------------------------------------------------------------------------
_D12_ORACLE = f"""
WITH {_SQL_SHINGLES},
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b
FROM inter
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
  AND ((id_a % 10 = 0) != (id_b % 10 = 0))
ORDER BY id_a, id_b
"""


@register("d12_eval_contamination", oracle=_D12_ORACLE)
def d12_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5,
        n_rows=table_rows(sf_dir, "documents"),
    )
    is_eval = lambda c: F.col(c) % 10 == 0  # noqa: E731
    return (
        pairs.filter(is_eval("id_a") != is_eval("id_b"))
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# t23 — text normalization (accent-fold + casefold + whitespace
# collapse): the canonical-form step ahead of exact dedup for accented
# corpora (the reference's census data is Portuguese). The translate
# table is shared verbatim with the oracle; normalized fingerprints
# group docs that differ only by accents/case/spacing.
# ---------------------------------------------------------------------------
@register(
    "t23_normalize_text",
    oracle=f"""
    SELECT doc_id,
      md5(trim(regexp_replace(
        lower(translate(text, '{T.ACCENT_SRC}', '{T.ACCENT_DST}')),
        '\\s+', ' ', 'g'))) AS norm_fingerprint,
      CAST(length(trim(regexp_replace(
        lower(translate(text, '{T.ACCENT_SRC}', '{T.ACCENT_DST}')),
        '\\s+', ' ', 'g'))) AS BIGINT) AS norm_len
    FROM documents
    ORDER BY doc_id
    """,
)
def t23_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = T.normalize_text("text")
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_fingerprint"),
        F.length(norm).cast("bigint").alias("norm_len"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# d13 — asymmetric containment pairs: |A∩B|/|A| catches near-SUBSET
# duplication (a doc quoted inside a much longer one) that Jaccard
# under-scores. Same inverted-index shape as d02; scoring differs.
# ---------------------------------------------------------------------------
_D13_ORACLE = f"""
WITH {_SQL_SHINGLES},
  sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
  inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  )
SELECT id_a, id_b,
  i * 1.0 / sa.n AS containment_a,
  i * 1.0 / sb.n AS containment_b
FROM inter
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE GREATEST(i * 1.0 / sa.n, i * 1.0 / sb.n) >= 0.8
ORDER BY id_a, id_b
"""


@register("d13_containment_pairs", oracle=_D13_ORACLE)
def d13_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# t24 — exact-quota stratified sample: first 40 docs per language under
# deterministic md5(text) order. Runs through operators/ranking.py::
# stratified_sample — a LOW-cardinality stratum column must NOT become a
# per-group single-task window (the biggest stratum of a 100 TB corpus
# is most of the corpus); two-phase grouped ranking keeps every task
# range-bounded. The oracle is the plain SQL window the operator
# replaces 1:1.
# ---------------------------------------------------------------------------
_T24_ORACLE = """
WITH ranked AS (
  SELECT doc_id, lang, source, n_chars,
    row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rn
  FROM documents
)
SELECT doc_id, lang, source, n_chars
FROM ranked WHERE rn <= 40
ORDER BY doc_id
"""


@register("t24_stratified_sample", oracle=_T24_ORACLE)
def t24_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.operators.ranking import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "lang", [F.md5("text"), F.col("doc_id")], quota=40
    ).select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")


# ---------------------------------------------------------------------------
# t25 — vocabulary-growth (Heaps'-law) curve: cumulative token count vs
# cumulative distinct-type count at corpus checkpoints (buckets of 50
# docs in doc_id order). Distinct-so-far is NOT a running
# count-distinct window (single-task at scale): each type contributes
# at its FIRST bucket (min bucket per token — one shuffle on the
# token), then per-bucket news/occurrences cumulate through a tiny
# bucket×bucket triangular self-join (rows = checkpoint count, data
# volume independent).
# ---------------------------------------------------------------------------
_T25_ORACLE = """
WITH tok AS (
  SELECT doc_id // 50 AS bucket, t AS token
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
  WHERE t <> ''
),
occ AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM tok GROUP BY bucket
),
first_b AS (
  SELECT token, MIN(bucket) AS bucket FROM tok GROUP BY token
),
news AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_types
  FROM first_b GROUP BY bucket
)
SELECT o.bucket,
  CAST(SUM(o2.n_tokens) AS BIGINT) AS cum_tokens,
  CAST(SUM(COALESCE(n2.new_types, 0)) AS BIGINT) AS cum_types
FROM occ o
JOIN occ o2 ON o2.bucket <= o.bucket
LEFT JOIN news n2 ON n2.bucket = o2.bucket
GROUP BY o.bucket
ORDER BY o.bucket
"""


@register("t25_vocab_growth", oracle=_T25_ORACLE)
def t25_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            (F.col("doc_id") / 50).cast("long").alias("bucket"),
            F.explode(F.split("text", " ")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    # bucket-level frames are checkpoint-sized; materialize them so the
    # corpus tokenize pipeline runs once per aggregate, not once per
    # downstream consumer (the triangular join reads occ twice)
    occ = (
        tok.groupBy("bucket")
        .agg(F.count("*").alias("n_tokens"))
        .localCheckpoint(eager=True)
    )
    first_b = tok.groupBy("token").agg(F.min("bucket").alias("bucket"))
    news = first_b.groupBy("bucket").agg(F.count("*").alias("new_types"))
    # triangular cumulate over the checkpoint frame only (tiny; both
    # sides broadcastable — let AQE pick)
    per_bucket = occ.join(news, "bucket", "left")
    o = occ.select(F.col("bucket").alias("b"))
    return (
        o.join(per_bucket, per_bucket.bucket <= F.col("b"))
        .groupBy("b")
        .agg(
            F.sum("n_tokens").alias("cum_tokens"),
            F.sum(F.coalesce("new_types", F.lit(0))).alias("cum_types"),
        )
        .select(F.col("b").alias("bucket"), "cum_tokens", "cum_types")
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# s10 — product-quantization ANN: codes are 64× smaller than the float
# vectors, ADC scores the whole corpus via m table lookups per row, and
# only the per-query top-`rerank` pool touches real vectors for exact
# re-ranking. With rerank >= |corpus| the exact re-rank IS brute force,
# so the s01 oracle hash-checks the full train→encode→ADC→re-rank
# pipeline (the same exhaustive-configuration contract as s04's
# nprobe=C); recall at realistic rerank is asserted in
# tests/test_pq.py.
# ---------------------------------------------------------------------------
@register("s10_pq_topk", oracle=_S01_ORACLE)
def s10_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.operators import pq

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    books = pq.train_pq_codebooks(emb, m=4, k=16, iters=1)
    return pq.pq_topk(
        emb, queries, books, k=5, rerank=1_000_000
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# g01 — PageRank centrality over the near-dup pair graph (the canonical-
# document selector for dedup clusters: keep the most central member,
# not an arbitrary min-id). operators/graph.py::pagerank runs the
# distributed power iteration in SCALED-INTEGER arithmetic (floor
# divisions + exact integer sums), so three rounds are bit-identical
# across engines and partitionings — the oracle unrolls the same three
# rounds in SQL over the same d02 edge set.
# ---------------------------------------------------------------------------
_G01_ORACLE = f"""
WITH {_SQL_SHINGLES},
  sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
  inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ),
  pairs AS (
    SELECT id_a, id_b FROM inter
    JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
  ),
  edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION SELECT id_b, id_a FROM pairs
  ),
  nodes AS (SELECT DISTINCT src AS node FROM edges),
  deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
  r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank FROM nodes),
  g1 AS (SELECT e.dst AS node, CAST(SUM(r.rank // d.deg) AS BIGINT) AS s
         FROM edges e JOIN deg d ON d.src = e.src
         JOIN r0 r ON r.node = e.src GROUP BY e.dst),
  r1 AS (SELECT n.node, CAST(CASE WHEN g.s IS NULL THEN 150000000000
           ELSE 150000000000 + 85*(g.s // 100) + (85*(g.s % 100)) // 100
         END AS BIGINT) AS rank
         FROM nodes n LEFT JOIN g1 g ON g.node = n.node),
  g2 AS (SELECT e.dst AS node, CAST(SUM(r.rank // d.deg) AS BIGINT) AS s
         FROM edges e JOIN deg d ON d.src = e.src
         JOIN r1 r ON r.node = e.src GROUP BY e.dst),
  r2 AS (SELECT n.node, CAST(CASE WHEN g.s IS NULL THEN 150000000000
           ELSE 150000000000 + 85*(g.s // 100) + (85*(g.s % 100)) // 100
         END AS BIGINT) AS rank
         FROM nodes n LEFT JOIN g2 g ON g.node = n.node),
  g3 AS (SELECT e.dst AS node, CAST(SUM(r.rank // d.deg) AS BIGINT) AS s
         FROM edges e JOIN deg d ON d.src = e.src
         JOIN r2 r ON r.node = e.src GROUP BY e.dst),
  r3 AS (SELECT n.node, CAST(CASE WHEN g.s IS NULL THEN 150000000000
           ELSE 150000000000 + 85*(g.s // 100) + (85*(g.s % 100)) // 100
         END AS BIGINT) AS rank
         FROM nodes n LEFT JOIN g3 g ON g.node = n.node)
SELECT node AS doc_id, rank FROM r3 ORDER BY rank DESC, doc_id
"""


@register("g01_pagerank_dedup_graph", oracle=_G01_ORACLE)
def g01_pagerank_dedup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    return (
        pagerank(edges, iters=3)
        .select(F.col("node").alias("doc_id"), "rank")
        .orderBy(F.desc("rank"), "doc_id")
    )


# ---------------------------------------------------------------------------
# d14 — incremental dedup: odd-id docs are the new batch, even-id docs
# the published corpus. A new doc near-dup to a published one is
# dropped (the corpus already represents it — increments never
# retroactively delete published docs); survivors then near-dedup
# among themselves (closure + min-id keep). This is the daily-crawl
# production shape: one minhash banding over the union, the published
# side contributing signatures only.
# ---------------------------------------------------------------------------
_D14_ORACLE = f"""
WITH RECURSIVE {_SQL_SHINGLES},
  sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
  inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ),
  pairs AS (
    SELECT id_a, id_b FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
  ),
  cross_hit AS (
    SELECT DISTINCT CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END AS doc_id
    FROM pairs WHERE id_a % 2 <> id_b % 2
  ),
  survivors AS (
    SELECT doc_id FROM documents
    WHERE doc_id % 2 = 1
      AND doc_id NOT IN (SELECT doc_id FROM cross_hit)
  ),
  edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    WHERE id_a % 2 = 1 AND id_b % 2 = 1
      AND id_a IN (SELECT doc_id FROM survivors)
      AND id_b IN (SELECT doc_id FROM survivors)
    UNION
    SELECT id_b, id_a FROM pairs
    WHERE id_a % 2 = 1 AND id_b % 2 = 1
      AND id_a IN (SELECT doc_id FROM survivors)
      AND id_b IN (SELECT doc_id FROM survivors)
  ),
  reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
  ),
  comp AS (
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
    FROM reach GROUP BY src
  )
SELECT d.doc_id,
  CAST(CASE WHEN ch.doc_id IS NOT NULL THEN d.doc_id
            ELSE COALESCE(c.cluster_id, d.doc_id) END AS BIGINT) AS cluster_id,
  ch.doc_id IS NOT NULL AS dup_of_published,
  ch.doc_id IS NULL
    AND d.doc_id = CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS keep
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN cross_hit ch USING (doc_id)
LEFT JOIN comp c USING (doc_id)
ORDER BY doc_id
"""


@register("d14_incremental_dedup", oracle=_D14_ORACLE)
def d14_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    new_docs = docs.filter(F.col("doc_id") % 2 == 1)
    published = docs.filter(F.col("doc_id") % 2 == 0)
    return dedup.incremental_dedup(
        new_docs, published, "doc_id", "text", n=3, threshold=0.5
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# t26 — Gopher-style document quality rules (Rae et al. 2021, §A1.1 of
# the Gopher paper; same family as C4's heuristics): per-document word
# count bounds, mean-word-length bounds, symbol-to-word and bullet-line
# ratios, minimum distinct-stopword hits, and a repetition guard
# (distinct/total token ratio). Every ratio is integer-counts → ONE
# IEEE double division, so each boolean flag is bit-identical across
# engines. All flags are codegen expressions over one documents scan —
# no shuffle at all until the final ORDER BY (which exists only for the
# oracle compare; the production filter is a pure map).
# ---------------------------------------------------------------------------
@register(
    "t26_gopher_rules",
    oracle="""
    WITH s AS (
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
          / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mwl,
        CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          / CAST(len(string_split(text, ' ')) AS DOUBLE) AS uniq_ratio,
        len(list_intersect(list_distinct(string_split(text, ' ')),
            ['the','a','of','and','to','in','is','it','on','for'])) AS sw_hits,
        CAST(length(text) - length(replace(text, '#', ''))
             + (length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE)
          / CAST(len(string_split(text, ' ')) AS DOUBLE) AS symbol_ratio,
        CAST(len(list_filter(string_split(text, chr(10)),
                 l -> l LIKE '- %' OR l LIKE '* %')) AS DOUBLE)
          / CAST(len(string_split(text, chr(10))) AS DOUBLE) AS bullet_ratio
      FROM documents
    )
    SELECT doc_id, n_words,
      n_words BETWEEN 30 AND 90 AS ok_words,
      mwl >= 3.8 AND mwl <= 4.8 AS ok_word_len,
      symbol_ratio <= 0.1 AS ok_symbols,
      bullet_ratio <= 0.9 AS ok_bullets,
      sw_hits >= 2 AS ok_stopwords,
      uniq_ratio >= 0.45 AS ok_repetition,
      n_words BETWEEN 30 AND 90 AND mwl >= 3.8 AND mwl <= 4.8
        AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
        AND sw_hits >= 2 AND uniq_ratio >= 0.45 AS keep
    FROM s
    ORDER BY doc_id
    """,
)
def t26_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    n_words = F.size(toks).cast("bigint")
    nd = n_words.cast("double")
    mwl = (F.length("text") - (F.size(toks) - 1)).cast("double") / nd
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / nd
    sw = F.array(*[F.lit(s) for s in T.EN_STOPWORDS])
    sw_hits = F.size(F.array_intersect(F.array_distinct(toks), sw))
    n_hash = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    n_ellipsis = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("...")))
    ) / 3
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / nd
    lines = F.split(F.col("text"), "\n")
    bullets = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("- ") | l.startswith("* "),
        )
    )
    bullet_ratio = bullets.cast("double") / F.size(lines).cast("double")
    ok_words = (n_words >= 30) & (n_words <= 90)
    ok_word_len = (mwl >= 3.8) & (mwl <= 4.8)
    ok_symbols = symbol_ratio <= 0.1
    ok_bullets = bullet_ratio <= 0.9
    ok_stopwords = sw_hits >= 2
    ok_repetition = uniq_ratio >= 0.45
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        ok_words.alias("ok_words"),
        ok_word_len.alias("ok_word_len"),
        ok_symbols.alias("ok_symbols"),
        ok_bullets.alias("ok_bullets"),
        ok_stopwords.alias("ok_stopwords"),
        ok_repetition.alias("ok_repetition"),
        (
            ok_words & ok_word_len & ok_symbols & ok_bullets
            & ok_stopwords & ok_repetition
        ).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# t27 — deterministic weighted sampling via PRIORITY SAMPLING (Duffield,
# Lund & Thorup, JACM 2007): each doc draws a reproducible uniform
# u ∈ (0,1] from the first 13 hex chars of md5("ws1:" || doc_id) (52
# bits — exactly representable in a double, parsed identically by
# Spark's conv() and DuckDB's 0x-cast), and gets priority w/u with
# w = n_chars. The weighted sample is the top-k priorities per
# language. One corpus scan + one top-k window per stratum (same plan
# shape as deterministic_sample / t24); no rand(), so re-runs and the
# oracle agree bit-for-bit. The float priority is selection-only —
# the output carries ids and integer weights, never the priority.
# ---------------------------------------------------------------------------
@register(
    "t27_weighted_sample",
    oracle="""
    WITH pri AS (
      SELECT lang, doc_id, n_chars,
        CAST(n_chars AS DOUBLE) /
          ((CAST(('0x' || substr(md5('ws1:' || CAST(doc_id AS VARCHAR)), 1, 13))
                 AS BIGINT) + 1) / 4503599627370496.0) AS priority
      FROM documents
    )
    SELECT lang, doc_id, n_chars, CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY lang ORDER BY priority DESC, doc_id) AS rnk
      FROM pri
    )
    WHERE rnk <= 25
    ORDER BY lang, rank
    """,
)
def t27_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.operators.sampling import priority_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        priority_sample(
            docs,
            stratum_col="lang",
            id_col="doc_id",
            weight_col="n_chars",
            k=25,
            salt="ws1:",
        )
        .select("lang", "doc_id", "n_chars", "rank")
        .orderBy("lang", "rank")
    )


# ---------------------------------------------------------------------------
# s11 — cosine radius (range) search: every neighbor above a similarity
# floor, per query — FAISS's range_search API, the dual of s01's top-k.
# Unlike top-k there is NO per-query window (the result is unbounded),
# so the plan is broadcast-join + codegen filter with zero shuffles:
# strictly cheaper than s01 at any scale.
# ---------------------------------------------------------------------------
@register(
    "s11_range_search",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      list_dot_product(q.v, c.v) /
        (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
    FROM e q JOIN e c ON q.vec_id < 8 AND q.vec_id != c.vec_id
    WHERE list_dot_product(q.v, c.v) /
        (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) >= 0.3
    ORDER BY query_id, neighbor_id
    """,
)
def s11_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return similarity.cosine_range(emb, queries, radius=0.3).orderBy(
        "query_id", "neighbor_id"
    )


# ---------------------------------------------------------------------------
# d15 — quality-aware near-dup dedup: d06's transitive clusters, but the
# keeper is the HIGHEST-QUALITY member (max n_chars, tie min doc_id) —
# the policy real corpus curation uses (keep the fullest copy, drop the
# truncated mirrors), vs d09's min-id keep. One extra per-cluster
# window on top of the cluster assignment; no global sort.
# ---------------------------------------------------------------------------
_D15_ORACLE = f"""
WITH RECURSIVE {_SQL_SHINGLES},
  sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
  inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ),
  pairs AS (
    SELECT id_a, id_b FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
  ),
  edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
  ),
  reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
  ),
  comp AS (
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
    FROM reach GROUP BY src
  ),
  labeled AS (
    SELECT d.doc_id, CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
      d.n_chars
    FROM documents d LEFT JOIN comp c USING (doc_id)
  )
SELECT doc_id, cluster_id, n_chars,
  ROW_NUMBER() OVER (PARTITION BY cluster_id
                     ORDER BY n_chars DESC, doc_id) = 1 AS keep
FROM labeled
ORDER BY doc_id
"""


@register("d15_quality_dedup", oracle=_D15_ORACLE)
def d15_quality_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_keep_best(
        docs, "doc_id", "text", "n_chars", n=3, threshold=0.5
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# t28 — CCNet-style perplexity buckets: rank documents per language by
# the t14 unigram-likelihood signal and split into head/middle/tail
# tertiles (Wenzek et al., "CCNet: Extracting high quality monolingual
# datasets from web crawl data", 2020 — head = most fluent). The
# ordering key is the SAME bit-identical mean-token-probability t14
# hash-matches, with doc_id tiebreak, so ntile agrees cross-engine;
# the window partitions by lang (never global).
# ---------------------------------------------------------------------------
_T28_ORACLE = """
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
freq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS ctok FROM tok GROUP BY term),
tot AS (SELECT CAST(SUM(ctok) AS BIGINT) AS n_corpus FROM freq),
per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
    CAST(SUM(ctok) AS BIGINT) AS sum_freq
  FROM tok JOIN freq USING (term)
  GROUP BY doc_id
),
scored AS (
  SELECT d.doc_id, d.lang,
    CAST(p.sum_freq AS DOUBLE) /
      (CAST(p.n_tokens AS DOUBLE) * CAST(t.n_corpus AS DOUBLE)) AS mean_tok_prob
  FROM documents d JOIN per p USING (doc_id) CROSS JOIN tot t
)
SELECT doc_id, lang, mean_tok_prob,
  CASE ntile(3) OVER (PARTITION BY lang ORDER BY mean_tok_prob DESC, doc_id)
    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM scored
ORDER BY doc_id
"""


@register("t28_ccnet_buckets", oracle=_T28_ORACLE)
def t28_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    freq = toks.groupBy("term").agg(F.count("*").alias("ctok"))
    n_corpus = int(freq.agg(F.sum("ctok")).collect()[0][0] or 0)
    per = (
        toks.join(freq, "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("ctok").alias("sum_freq"),
        )
    )
    scored = docs.select("doc_id", "lang").join(per, "doc_id").select(
        "doc_id",
        "lang",
        (
            F.col("sum_freq").cast("double")
            / (F.col("n_tokens").cast("double") * F.lit(float(n_corpus)))
        ).alias("mean_tok_prob"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("mean_tok_prob"), F.asc("doc_id")
    )
    tile = F.ntile(3).over(w)
    return (
        scored.withColumn(
            "bucket",
            F.when(tile == 1, "head").when(tile == 2, "middle").otherwise("tail"),
        )
        .select("doc_id", "lang", "mean_tok_prob", "bucket")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# s12 — kNN label propagation: classify a BOUNDED unlabeled batch
# (vec_id < 50 — fixed size at any corpus scale, the s01 broadcast
# contract) by majority vote over its 5 nearest labeled neighbors
# (cosine; tie -> smallest label) from the rest of the table. The
# retrieval half is s01's broadcast-query brute-force scan; the vote is
# one tiny groupBy + argmax window over k×queries rows.
# ---------------------------------------------------------------------------
_S12_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
    list_dot_product(q.v, c.v) /
      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
  FROM e q JOIN e c ON q.vec_id < 50 AND c.vec_id >= 50
),
topk AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS rnk
    FROM scored
  ) WHERE rnk <= 5
),
votes AS (
  SELECT query_id, label, CAST(COUNT(*) AS BIGINT) AS n_votes
  FROM topk GROUP BY query_id, label
)
SELECT query_id, label AS predicted_label, n_votes
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY n_votes DESC, label) AS r
  FROM votes
) WHERE r = 1
ORDER BY query_id
"""


@register("s12_knn_classify", oracle=_S12_ORACLE)
def s12_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    labeled = emb.filter(F.col("vec_id") >= 50)
    queries = emb.filter(F.col("vec_id") < 50)
    topk = similarity.cosine_topk(labeled, queries, k=5)
    votes = (
        topk.join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "label"),
            "neighbor_id",
        )
        .groupBy("query_id", "label")
        .agg(F.count("*").cast("bigint").alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("label")
    )
    return (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            "query_id",
            F.col("label").alias("predicted_label"),
            "n_votes",
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# s13 — IVF-PQ composite index (coarse inverted lists × PQ codes × exact
# re-rank): run exhaustively (nprobe = C, rerank >= corpus) so the full
# train→assign→encode→probe→ADC→re-rank pipeline equals brute force and
# the s01 oracle hash-checks it — the same contract as s04 and s10.
# Recall at realistic (nprobe, rerank) is asserted in tests/test_pq.py.
# ---------------------------------------------------------------------------
@register("s13_ivfpq_topk", oracle=_S01_ORACLE)
def s13_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.operators import pq

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    # auto-sized quantizer + exhaustive probe (see s04)
    centroids = similarity.train_centroids(emb, iters=1)
    books = pq.train_pq_codebooks(emb, m=4, k=16, iters=1)
    return pq.ivfpq_topk(
        emb, queries, centroids, books, k=5, nprobe=None, rerank=1_000_000
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# t29 — bigram language-model table: conditional next-token probability
# P(b|a) = n(a,b)/n(a·) over the corpus, top-50 bigrams by joint count.
# Counts are exact integers (order-free partial aggs); each probability
# is a single division — the statistical core of n-gram LM training
# (and of the bigram-repetition quality signals), at corpus scale one
# token-pair shuffle + one first-token margin join.
# ---------------------------------------------------------------------------
@register(
    "t29_bigram_lm",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT t[i] AS w1, t[i+1] AS w2
      FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ),
    joint AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_ab FROM bg GROUP BY w1, w2
    ),
    marg AS (SELECT w1, CAST(SUM(n_ab) AS BIGINT) AS n_a FROM joint GROUP BY w1)
    SELECT w1, w2, n_ab, n_a,
      CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE) AS cond_p
    FROM joint JOIN marg USING (w1)
    ORDER BY n_ab DESC, w1, w2
    LIMIT 50
    """,
)
def t29_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    bg = docs.select(
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    joint = bg.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("n_ab"))
    marg = joint.groupBy("w1").agg(F.sum("n_ab").cast("bigint").alias("n_a"))
    return (
        joint.join(marg, "w1")
        .select(
            "w1",
            "w2",
            "n_ab",
            "n_a",
            (F.col("n_ab").cast("double") / F.col("n_a").cast("double")).alias(
                "cond_p"
            ),
        )
        .orderBy(F.desc("n_ab"), "w1", "w2")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# s14 — hard-negative mining (contrastive-training data prep): for each
# anchor in a bounded batch, the top-5 MOST similar vectors with a
# DIFFERENT label — the negatives that actually teach an embedding
# model (high-cosine, wrong class). The s01 broadcast-anchor scan with
# a label-inequality predicate folded in; one top-k window per anchor.
# ---------------------------------------------------------------------------
_S14_ORACLE = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    scored AS (
      SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
        c.vec_id AS negative_id, c.label AS negative_label,
        list_dot_product(a.v, c.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
      FROM e a JOIN e c
        ON a.vec_id < 8 AND a.vec_id != c.vec_id AND a.label != c.label
    )
    SELECT anchor_id, anchor_label, negative_id, negative_label, cos,
      CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                   ORDER BY cos DESC, negative_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 5
    ORDER BY anchor_id, rank
    """


@register("s14_hard_negatives", oracle=_S14_ORACLE)
def s14_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    from censo_escolar_spark.functions.vectors import as_double_array, cosine

    anchors = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        as_double_array("embedding").alias("a_v"),
    )
    corpus = emb.filter(F.col("embedding").isNotNull()).select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        as_double_array("embedding").alias("c_v"),
    )
    scored = corpus.join(
        F.broadcast(anchors),
        (F.col("anchor_id") != F.col("negative_id"))
        & (F.col("anchor_label") != F.col("negative_label")),
    ).withColumn("cos", cosine(F.col("a_v"), F.col("c_v")))
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos"), F.asc("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select(
            "anchor_id",
            "anchor_label",
            "negative_id",
            "negative_label",
            "cos",
            "rank",
        )
        .orderBy("anchor_id", "rank")
    )


# ---------------------------------------------------------------------------
# g02 — per-node triangle counts over the CONTRACTED simhash near-dup
# graph: identical fingerprints collapse to one vertex (min doc_id)
# first, then vertices pair at hamming <= 3 and triangles are counted
# per vertex. The clustering-coefficient numerator — the mirror-farm /
# template-spam signal on dedup graphs. Contraction is the load-bearing
# scale step: an m-document identical-template group is an m-clique
# with C(m,3) triangles (90M on the raw sf0.1 graph); on the contracted
# graph triangle work is proportional to structure BETWEEN distinct
# fingerprints, which is what the analysis is about. Spark side is
# degree-ordered orientation (operators/graph.py::triangle_counts) —
# wedge fan-out bounded by O(sqrt(m)) out-degree, every triangle found
# exactly once; the oracle is the brute-force three-way self-join on
# the id-ordered contracted edge list.
# ---------------------------------------------------------------------------
_G02_ORACLE = f"""
WITH fp AS ({_D04_ORACLE.replace("ORDER BY doc_id", "")}),
  con AS (SELECT simhash, MIN(doc_id) AS doc_id FROM fp GROUP BY simhash),
  e AS (
    SELECT a.doc_id AS u, b.doc_id AS v
    FROM con a JOIN con b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
  ),
  tri AS (
    SELECT ab.u AS a, ab.v AS b, bc.v AS c
    FROM e ab
    JOIN e bc ON bc.u = ab.v
    JOIN e ac ON ac.u = ab.u AND ac.v = bc.v
  ),
  corners AS (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  )
SELECT node AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY node ORDER BY doc_id
"""


@register("g02_triangle_counts", oracle=_G02_ORACLE)
def g02_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.operators.graph import triangle_counts

    docs = load_table(spark, sf_dir, "documents")
    fps = dedup.simhash_fingerprints(docs, "doc_id", "text")
    contracted = fps.groupBy("simhash").agg(F.min("doc_id").alias("doc_id"))
    pairs = dedup.simhash_pairs_from_fingerprints(
        contracted.localCheckpoint(eager=True), "doc_id", max_hamming=3, n_bands=4
    )
    return (
        triangle_counts(pairs, a_col="id_a", b_col="id_b")
        .select(F.col("node").alias("doc_id"), "n_triangles")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# s15 — exact kNN self-join: top-k cosine neighbors of EVERY corpus row
# (kNN-graph construction), via the blocked-GEMM candidate pass with an
# epsilon-guarded local cut + exact fold-order re-score (operators/
# similarity.py::knn_join). Oracle is the brute-force all-pairs ranking.
# ---------------------------------------------------------------------------
_S15_ORACLE = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
      FROM e a JOIN e b ON a.vec_id != b.vec_id
    )
    SELECT query_id, neighbor_id, cos,
      CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 3
    ORDER BY query_id, rank
    """


@register("s15_knn_join", oracle=_S15_ORACLE)
def s15_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_join(emb, k=3).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# d16 — canonical-URL dedup: normalize the first URL in each document
# (scheme/www/query/trailing-slash stripped, host lowercased) and keep
# the min doc_id per canonical key; docs with no URL always keep. The
# CC-pipeline first pass — URL-level dedup is ~free (one groupBy on a
# short string key) and removes crawl-variant duplicates before any
# content hashing runs. All canonicalization is shared codegen
# regexp/string expressions (functions/text.py::canonical_url).
# Skew guard: URL-less docs (canon_url='') always keep, so they skip
# the min-window entirely — at corpus scale that '' key would funnel
# the no-URL majority through ONE window task; the window runs only
# over rows with a real canonical key, then the frames union.
# ---------------------------------------------------------------------------
@register(
    "d16_url_dedup",
    oracle=r"""
    WITH canon AS (
      SELECT doc_id,
        CASE
          WHEN regexp_extract(text, 'https?://([A-Za-z0-9.-]+)(/[A-Za-z0-9./_%-]*)?', 1) = ''
          THEN ''
          ELSE regexp_replace(
                 lower(regexp_extract(text, 'https?://([A-Za-z0-9.-]+)(/[A-Za-z0-9./_%-]*)?', 1)),
                 '^www\.', '')
               || regexp_replace(
                 regexp_extract(text, 'https?://([A-Za-z0-9.-]+)(/[A-Za-z0-9./_%-]*)?', 2),
                 '/+$', '')
        END AS canon_url
      FROM documents
    )
    SELECT doc_id, canon_url,
      (canon_url = ''
       OR doc_id = MIN(doc_id) OVER (PARTITION BY canon_url)) AS keep
    FROM canon
    ORDER BY doc_id
    """,
)
def d16_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    canon = docs.select("doc_id", T.canonical_url("text").alias("canon_url"))
    no_url = canon.filter(F.col("canon_url") == "").withColumn(
        "keep", F.lit(True)
    )
    w = Window.partitionBy("canon_url")
    with_url = canon.filter(F.col("canon_url") != "").select(
        "doc_id",
        "canon_url",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep"),
    )
    return no_url.unionByName(with_url).orderBy("doc_id")


# ---------------------------------------------------------------------------
# t30 — vocabulary statistics per language: types, tokens, hapax
# legomena, type-token ratio. The corpus-health dashboard numbers
# (synthetic/templated text shows abnormally low TTR and hapax mass).
# Counts are exact integers off ONE doc-token fan-out; each ratio is a
# single final IEEE division. Per-(lang, token) partial aggregation
# means the shuffle carries the distinct vocabulary, not the token
# stream.
# ---------------------------------------------------------------------------
@register(
    "t30_vocab_stats",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vocab AS (
      SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM tok GROUP BY lang, tok
    )
    SELECT lang,
      CAST(SUM(n) AS BIGINT) AS n_tokens,
      CAST(COUNT(*) AS BIGINT) AS vocab_size,
      CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
      CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS type_token_ratio,
      CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE) AS hapax_frac
    FROM vocab GROUP BY lang ORDER BY lang
    """,
)
def t30_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    return (
        vocab.groupBy("lang")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("vocab_size"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("hapax_count"),
        )
        .select(
            "lang",
            "n_tokens",
            "vocab_size",
            "hapax_count",
            (F.col("vocab_size").cast("double") / F.col("n_tokens").cast("double"))
            .alias("type_token_ratio"),
            (F.col("hapax_count").cast("double") / F.col("vocab_size").cast("double"))
            .alias("hapax_frac"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# s16 — MMR diversified retrieval: per query, greedily select 3 of the
# top-10 candidates maximizing lam*relevance − (1−lam)*max-sim-to-
# already-selected (Carbonell/Goldstein MMR — the RAG diversity
# re-rank). The greedy loop is UNROLLED INTO THE PLAN (operators/
# similarity.py::mmr_rerank): per round one query-keyed equi-join, one
# max-penalty aggregate, one pick window — all JVM-side exact-fold
# cosines, so the oracle replays the identical unrolled selection in
# SQL and every score bit-matches.
# ---------------------------------------------------------------------------
# NOTE: the MMR weight (1 − λ) is written CAST(1.0 AS DOUBLE) − CAST(0.7
# AS DOUBLE) throughout — the operator computes `1.0 - lam` in IEEE
# (0.30000000000000004); DuckDB's bare (1 - 0.7) is exact decimal 0.3,
# one ulp below, and the score hash diverges at 2.8e-17.
_S16_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
    list_dot_product(q.v, c.v) /
      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS rel
  FROM e q JOIN e c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 8
),
cand AS (
  SELECT query_id, cand_id, rel FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rn
    FROM scored
  ) WHERE rn <= 10
),
pair AS (
  SELECT a.query_id, a.cand_id, b.cand_id AS other_id,
    list_dot_product(va.v, vb.v) /
      (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v))) AS sim
  FROM cand a
  JOIN cand b ON a.query_id = b.query_id AND a.cand_id != b.cand_id
  JOIN e va ON va.vec_id = a.cand_id
  JOIN e vb ON vb.vec_id = b.cand_id
),
s1 AS (
  SELECT query_id, cand_id, score FROM (
    SELECT query_id, cand_id, 0.7 * rel AS score,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY 0.7 * rel DESC, cand_id) AS rn
    FROM cand
  ) WHERE rn = 1
),
p2 AS (
  SELECT p.query_id, p.cand_id, MAX(p.sim) AS penal
  FROM pair p JOIN s1 ON s1.query_id = p.query_id AND s1.cand_id = p.other_id
  GROUP BY p.query_id, p.cand_id
),
s2 AS (
  SELECT query_id, cand_id, score FROM (
    SELECT c.query_id, c.cand_id,
      0.7 * c.rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * COALESCE(p2.penal, 0.0) AS score,
      ROW_NUMBER() OVER (PARTITION BY c.query_id
        ORDER BY 0.7 * c.rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * COALESCE(p2.penal, 0.0) DESC,
                 c.cand_id) AS rn
    FROM cand c
    LEFT JOIN p2 ON p2.query_id = c.query_id AND p2.cand_id = c.cand_id
    WHERE NOT EXISTS (SELECT 1 FROM s1 WHERE s1.query_id = c.query_id
                      AND s1.cand_id = c.cand_id)
  ) WHERE rn = 1
),
sel12 AS (
  SELECT query_id, cand_id FROM s1 UNION ALL SELECT query_id, cand_id FROM s2
),
p3 AS (
  SELECT p.query_id, p.cand_id, MAX(p.sim) AS penal
  FROM pair p JOIN sel12 s ON s.query_id = p.query_id AND s.cand_id = p.other_id
  GROUP BY p.query_id, p.cand_id
),
s3 AS (
  SELECT query_id, cand_id, score FROM (
    SELECT c.query_id, c.cand_id,
      0.7 * c.rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * COALESCE(p3.penal, 0.0) AS score,
      ROW_NUMBER() OVER (PARTITION BY c.query_id
        ORDER BY 0.7 * c.rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * COALESCE(p3.penal, 0.0) DESC,
                 c.cand_id) AS rn
    FROM cand c
    LEFT JOIN p3 ON p3.query_id = c.query_id AND p3.cand_id = c.cand_id
    WHERE NOT EXISTS (SELECT 1 FROM sel12 s WHERE s.query_id = c.query_id
                      AND s.cand_id = c.cand_id)
  ) WHERE rn = 1
)
SELECT query_id, cand_id AS neighbor_id, CAST(1 AS INTEGER) AS mmr_rank, score FROM s1
UNION ALL
SELECT query_id, cand_id, CAST(2 AS INTEGER), score FROM s2
UNION ALL
SELECT query_id, cand_id, CAST(3 AS INTEGER), score FROM s3
ORDER BY query_id, mmr_rank
"""


@register("s16_mmr_rerank", oracle=_S16_ORACLE)
def s16_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return similarity.mmr_rerank(
        emb, queries, k=3, fetch_k=10, lam=0.7
    ).orderBy("query_id", "mmr_rank")


# ---------------------------------------------------------------------------
# d17 — minhash ESTIMATE pairs: the sketch-only dedup regime. d03
# exact-verifies its candidates against full shingle sets; at 100 TB
# that second pass re-reads text, and production near-dup sweeps often
# ship on the estimate alone. Candidates come from banded signature
# agreement (4 bands × 4 rows), the similarity reported is the
# unbiased minhash estimate matches/16 — and the hash family is the
# PORTABLE md5-derived one (operators/dedup.py::
# portable_minhash_signatures), so stored signatures interoperate
# across engines and the oracle replays the ENTIRE pipeline —
# signatures, banding, estimate — bit for bit in SQL.
# ---------------------------------------------------------------------------
_D17_ORACLE = f"""
WITH {_SQL_SHINGLES},
  hr AS (
    SELECT doc_id, i,
      MIN(list_sum(list_transform(range(0,15), k ->
        (strpos('0123456789abcdef',
                substr(md5(shingle || ':' || i), k+1, 1)) - 1)::BIGINT
        << (4*(14-k))))) AS m
    FROM sh CROSS JOIN (SELECT unnest(range(0,16)) AS i)
    GROUP BY doc_id, i
  ),
  sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM hr GROUP BY doc_id),
  band AS (
    SELECT doc_id, b,
      array_to_string(sig[4*b+1 : 4*b+4], '_') AS key
    FROM sig CROSS JOIN (SELECT unnest(range(0,4)) AS b)
  ),
  cand AS (
    SELECT DISTINCT a.doc_id AS id_a, x.doc_id AS id_b
    FROM band a JOIN band x
      ON a.b = x.b AND a.key = x.key AND a.doc_id < x.doc_id
  ),
  est AS (
    SELECT c.id_a, c.id_b,
      list_sum(list_transform(range(1,17), j ->
        CASE WHEN sa.sig[j] = sb.sig[j] THEN 1 ELSE 0 END)) AS matches
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.id_a
    JOIN sig sb ON sb.doc_id = c.id_b
  )
SELECT id_a, id_b, CAST(matches AS DOUBLE) / 16 AS est_jaccard
FROM est WHERE CAST(matches AS DOUBLE) / 16 >= 0.5
ORDER BY id_a, id_b
"""


@register("d17_minhash_estimates", oracle=_D17_ORACLE)
def d17_minhash_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_estimate_pairs(
        docs, "doc_id", "text", n=3, n_hashes=16, n_bands=4, threshold=0.5
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# d18 — chunk-level duplication fraction: split every document into
# fixed 10-token chunks, hash-count how many DISTINCT documents carry
# each chunk string, and report per document what fraction of its
# chunks appear elsewhere — the standard corpus-contamination /
# boilerplate dashboard number (d10/d11 find+strip exact spans; this
# is the cheap report-side metric). One chunk fan-out (narrow, ~n/10
# rows per doc), one partial-aggregated groupBy on the chunk string,
# one doc-keyed rejoin; the final fraction is a single IEEE division.
# ---------------------------------------------------------------------------
@register(
    "d18_chunk_dup_fraction",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    chunks AS (
      SELECT doc_id, i,
        array_to_string(t[10*i+1 : 10*i+10], ' ') AS chunk
      FROM toks,
        UNNEST(range(0, CAST(ceil(len(t) / 10.0) AS BIGINT))) AS u(i)
    ),
    freq AS (
      SELECT chunk, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM chunks GROUP BY chunk
    )
    SELECT c.doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_chunks,
      CAST(SUM(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_dup_chunks,
      CAST(SUM(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE) AS dup_frac
    FROM chunks c JOIN freq f ON c.chunk = f.chunk
    GROUP BY c.doc_id
    ORDER BY c.doc_id
    """,
)
def d18_chunk_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0).cast("bigint"),
                F.ceil(F.size("t") / F.lit(10.0)).cast("bigint") - 1,
            )
        ).alias("i"),
        F.col("t"),
    ).select(
        "doc_id",
        F.array_join(
            F.slice("t", (F.col("i") * 10 + 1).cast("int"), 10), " "
        ).alias("chunk"),
    )
    freq = chunks.groupBy("chunk").agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_docs")
    )
    dup = F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
    return (
        chunks.join(freq, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            dup.cast("bigint").alias("n_dup_chunks"),
            (dup.cast("double") / F.count("*").cast("double")).alias(
                "dup_frac"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# t31 — vocabulary drift between crawls: treat sources src0-src9 as the
# "old" crawl and src10+ as the "new" one, and rank tokens by their
# chi-square contribution against the homogeneity hypothesis — the
# distribution-shift monitor a corpus pipeline runs between snapshots
# (a token surging in the new crawl = topical/domain drift or spam).
# Counts are exact integers off one token fan-out; the two corpus
# totals are a 1-ROW broadcast (the q47/q65 bounds pattern); each
# contribution is a fixed per-row IEEE tree, never summed across rows.
# ---------------------------------------------------------------------------
@register(
    "t31_vocab_drift",
    oracle="""
    WITH tok AS (
      SELECT CASE WHEN CAST(substr(source, 4) AS INT) < 10
                  THEN 'old' ELSE 'new' END AS crawl,
        unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    counts AS (
      SELECT tok,
        CAST(COUNT(*) FILTER (WHERE crawl = 'old') AS BIGINT) AS n_old,
        CAST(COUNT(*) FILTER (WHERE crawl = 'new') AS BIGINT) AS n_new
      FROM tok GROUP BY tok
    ),
    tot AS (
      SELECT CAST(SUM(n_old) AS BIGINT) AS na, CAST(SUM(n_new) AS BIGINT) AS nb
      FROM counts
    ),
    scored AS (
      SELECT tok, n_old, n_new,
        (n_old - CAST((n_old + n_new) * na AS DOUBLE) / (na + nb))
          * (n_old - CAST((n_old + n_new) * na AS DOUBLE) / (na + nb))
          / (CAST((n_old + n_new) * na AS DOUBLE) / (na + nb))
        + (n_new - CAST((n_old + n_new) * nb AS DOUBLE) / (na + nb))
          * (n_new - CAST((n_old + n_new) * nb AS DOUBLE) / (na + nb))
          / (CAST((n_old + n_new) * nb AS DOUBLE) / (na + nb)) AS chi2
      FROM counts CROSS JOIN tot
      WHERE n_old + n_new >= 20
    )
    SELECT tok, n_old, n_new, chi2
    FROM scored ORDER BY chi2 DESC, tok LIMIT 30
    """,
)
def t31_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.when(
            F.substring("source", 4, 10).cast("int") < 10, F.lit("old")
        )
        .otherwise(F.lit("new"))
        .alias("crawl"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    counts = tok.groupBy("tok").agg(
        F.count(F.when(F.col("crawl") == "old", 1)).cast("bigint").alias("n_old"),
        F.count(F.when(F.col("crawl") == "new", 1)).cast("bigint").alias("n_new"),
    )
    tot = counts.agg(
        F.sum("n_old").cast("bigint").alias("na"),
        F.sum("n_new").cast("bigint").alias("nb"),
    )
    j = counts.crossJoin(F.broadcast(tot)).filter(
        F.col("n_old") + F.col("n_new") >= 20
    )
    ea = ((F.col("n_old") + F.col("n_new")) * F.col("na")).cast("double") / (
        F.col("na") + F.col("nb")
    )
    eb = ((F.col("n_old") + F.col("n_new")) * F.col("nb")).cast("double") / (
        F.col("na") + F.col("nb")
    )
    chi2 = (F.col("n_old") - ea) * (F.col("n_old") - ea) / ea + (
        F.col("n_new") - eb
    ) * (F.col("n_new") - eb) / eb
    return (
        j.select("tok", "n_old", "n_new", chi2.alias("chi2"))
        .orderBy(F.desc("chi2"), F.asc("tok"))
        .limit(30)
    )


# ---------------------------------------------------------------------------
# s17 — IVF kNN-join: the sub-quadratic scale path for s15's exact
# blocked-GEMM kNN self-join. The whole corpus probes the inverted
# file as the query side (ivf_topk with queries=corpus) — per row only
# nprobe/C of the corpus is scored, an equi-join on centroid id that
# becomes a partition-pruned bucketed probe at 100 TB. Run here at
# nprobe = n_centroids (exhaustive) so the result EQUALS the exact
# kNN-join and s15's brute-force oracle hash-checks it; recall at
# nprobe < C is asserted against s15 in tests/test_similarity_ivf.py.
# ---------------------------------------------------------------------------
@register("s17_ivf_knn_join", oracle=_S15_ORACLE)
def s17_ivf_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # PINNED at the graded 8-cell/8-probe parameterization: this query's
    # contract is EXHAUSTIVE (nprobe = C, result equals brute force), so
    # cell count never prunes work here — it only multiplies the probe-
    # side explode (every corpus row duplicates nprobe times), which the
    # 10x probe measured at 12x wall under auto-sized cells. Auto-sized
    # quantizers serve the realistic nprobe << C path (recall-tested in
    # tests/test_similarity_ivf.py) and the within-cell pair generation
    # (s05); an exhaustive-contract config keeps the fixed tiny C.
    centroids = similarity.train_centroids(emb, n_centroids=8, iters=1)
    return similarity.ivf_knn_join(
        emb, centroids, k=3, nprobe=8
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# s21 — top-k against a PERSISTED IVF index: the stored form of the
# "cell-bucketed table at 100 TB" claim s04 makes about its equi-join.
# The corpus is written ONCE as a parquet table partitioned by the
# coarse cell id (operators/similarity.write_ivf_index), and the probe
# reads it back through a partition filter on the probed cells
# (ivf_topk_indexed) — build-once/probe-many, the production ANN-index
# lifecycle. Run exhaustively (nprobe = C) so the result equals brute
# force and the s01 oracle hash-checks the whole write→prune→probe
# path; partition pruning at nprobe < C is asserted against the plan in
# tests/test_similarity_ivf.py.
# ---------------------------------------------------------------------------
@register("s21_ivf_indexed_topk", oracle=_S01_ORACLE)
def s21_ivf_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from censo_escolar_spark.streaming import detach_from_state

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    centroids = similarity.train_centroids(emb, iters=1)
    root = tempfile.mkdtemp(prefix="s21_ivf_index_")
    try:
        similarity.write_ivf_index(emb, root, centroids)
        out = similarity.ivf_topk_indexed(
            spark, root, queries, centroids, k=5, nprobe=None
        ).orderBy("query_id", "rank")
        return detach_from_state(out, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# s22 — INCREMENTALLY-maintained IVF index: s21's stored index given the
# batch-store treatment (streaming/ivfindex.py). The corpus arrives as
# three increments (vec_id % 3 — arbitrary arrival slicing); each is
# assigned to the FROZEN coarse quantizer once and appended as its own
# batch=<id>/cell=<c> partitions — O(batch) per increment, the text/
# image-dedup append discipline applied to the ANN index — with the
# crash-safe two-phase compaction forced INSIDE the loop
# (compact_every=2, the q73 pattern: the fold is proven contents-
# preserving mid-maintenance, not just at the happy path). The final
# probe reads the committed union partition-pruned on the probed cells,
# run exhaustively (nprobe = C) so the result must equal s01 brute
# force over everything published. Pruning at nprobe < C and
# batch-retry convergence are asserted in tests/test_similarity_ivf.py.
# ---------------------------------------------------------------------------
@register("s22_ivf_incremental_topk", oracle=_S01_ORACLE)
def s22_ivf_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from censo_escolar_spark.plans.fixtures import (
        PARITY_SHUFFLE,
        ivf_meta_base,
    )
    from censo_escolar_spark.streaming import (
        clone_state,
        detach_from_state,
        state_shuffle,
    )
    from censo_escolar_spark.streaming.ivfindex import (
        apply_ivf_index_batch,
        ivf_topk_incremental,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    # the realistic lifecycle: the quantizer is trained on the corpus
    # that exists at index-build time (the first increment) and FROZEN;
    # later increments assign to those cells. Exhaustive probe keeps
    # the contract independent of where the cell boundaries fall.
    # Increments 1-2 (+ the cadence fold at 2) are the shared meta
    # store base (the probe here is meta-BLIND: an explicit schema
    # subset prunes the stored label at the scan); the third increment
    # extends a clone.
    base, centroids = ivf_meta_base(spark, sf_dir)
    root = clone_state(base, prefix="s22_ivf_")
    try:
        with state_shuffle(spark, PARITY_SHUFFLE):
            apply_ivf_index_batch(
                emb.filter(F.col("vec_id") % 3 == 2),
                3,
                state_dir=root,
                centroids=centroids,
                meta_cols=("label",),
                compact_every=2,
            )
        out = ivf_topk_incremental(
            spark, root, queries, centroids, k=5, nprobe=None
        ).orderBy("query_id", "rank")
        return detach_from_state(out, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# s23 — IVF index DELETIONS: the lifecycle step s22 lacks. Inserts
# arrive as two increments, a delete batch tombstones vec_id % 5 == 0,
# then a third increment re-covers some of those ids — and must stay
# live, because a tombstone removes only rows inserted STRICTLY BEFORE
# it (batch-ordered anti-join; the compaction fold physically reclaims
# tombstoned rows and drops consumed tombstones, exercised in-loop at
# batch 4 with compact_every=2). Final exhaustive probe ≡ brute force
# over the LIVE set: all vectors except the %5==0 ids that were already
# inserted when the delete was issued (%3 in (0,1)); queries stay the
# full s01 query set (query vectors are inputs, not corpus members).
# ---------------------------------------------------------------------------
_S23_LIVE_ORACLE = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    live AS (
      SELECT * FROM e WHERE NOT (vec_id % 5 = 0 AND vec_id % 3 != 2)
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        list_dot_product(q.v, c.v) /
          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
      FROM e q JOIN live c ON q.vec_id != c.vec_id
      WHERE q.vec_id < 8
    )
    SELECT query_id, neighbor_id, cos,
      CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 5
    ORDER BY query_id, rank
    """


@register("s23_ivf_index_deletes", oracle=_S23_LIVE_ORACLE)
def s23_ivf_index_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.plans.fixtures import ivf_deletes_store
    from censo_escolar_spark.streaming import detach
    from censo_escolar_spark.streaming.ivfindex import ivf_topk_incremental

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    # inserts 1-2, tombstone %5==0 (a no-op for not-yet-inserted %3==2
    # ids, whose later insert must stay live), insert 4 triggering the
    # in-loop reclaiming fold: the shared read-only store fixture
    # (s28 probes it filtered, s29 probes it at snapshot horizons);
    # this row probes the LIVE view meta-blind.
    root, centroids = ivf_deletes_store(spark, sf_dir)
    out = ivf_topk_incremental(
        spark, root, queries, centroids, k=5, nprobe=None
    ).orderBy("query_id", "rank")
    return detach(out)


# ---------------------------------------------------------------------------
# t32 — metadata/content language confusion matrix: the declared `lang`
# column vs the content-based lang_id prediction, with per-declared-
# lang accuracy. The metadata-QC report every multilingual corpus runs
# (mislabeled language is a top silent-quality killer for per-language
# sampling weights). Reuses t04's oracle-replicable classifier; one
# groupBy on the 5×5-ish label pair grid, one division per row.
# ---------------------------------------------------------------------------
@register(
    "t32_lang_confusion",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
        list_sort(list_transform({_T04_MARKERS_SQL},
          s -> {{neg: -len(list_filter(string_split(text, ' '),
                                       t -> list_contains(s.m, t))),
                 lang: s.l}}))[1] AS best
      FROM documents
    ),
    pred AS (
      SELECT lang,
        CASE WHEN best.neg < 0 THEN best.lang ELSE 'unknown' END AS lang_pred
      FROM scored
    ),
    cell AS (
      SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
      FROM pred GROUP BY lang, lang_pred
    )
    SELECT lang, lang_pred, n,
      CAST(n AS DOUBLE)
        / SUM(n) OVER (PARTITION BY lang) AS frac_of_declared
    FROM cell
    ORDER BY lang, lang_pred
    """,
)
def t32_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select("lang", T.lang_id("text").alias("lang_pred"))
    cell = pred.groupBy("lang", "lang_pred").agg(
        F.count("*").cast("bigint").alias("n")
    )
    w = Window.partitionBy("lang")
    return cell.select(
        "lang",
        "lang_pred",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w)).alias(
            "frac_of_declared"
        ),
    ).orderBy("lang", "lang_pred")


# ---------------------------------------------------------------------------
# s18 — embedding-table QC: per label, the L2-norm distribution
# (min / exact median / max) plus how many vectors are not unit-norm
# within 1% and how many are degenerate (near-zero norm). The health
# check run before any cosine-based pipeline ships — un-normalized or
# zero vectors silently poison cosine math. Norms use the exact
# fold-order dot (bit-identical to list_dot_product); the median is
# the q46 interpolating pairing; one label-keyed groupBy, one scan.
# ---------------------------------------------------------------------------
@register(
    "s18_norm_stats",
    oracle="""
    WITH n AS (
      SELECT label, sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[])) AS nrm
      FROM embeddings WHERE embedding IS NOT NULL
    )
    SELECT label,
      CAST(COUNT(*) AS BIGINT) AS n_vectors,
      MIN(nrm) AS min_norm,
      quantile_cont(nrm, 0.5) AS median_norm,
      MAX(nrm) AS max_norm,
      CAST(COUNT(*) FILTER (WHERE abs(nrm - 1) > 0.01) AS BIGINT)
        AS n_unnormalized,
      CAST(COUNT(*) FILTER (WHERE nrm < 1e-6) AS BIGINT) AS n_degenerate
    FROM n GROUP BY label ORDER BY label
    """,
)
def s18_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.functions.vectors import as_double_array, norm2

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.filter(F.col("embedding").isNotNull()).select(
        "label", norm2(as_double_array("embedding")).alias("nrm")
    )
    return (
        n.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.min("nrm").alias("min_norm"),
            F.percentile("nrm", 0.5).alias("median_norm"),
            F.max("nrm").alias("max_norm"),
            F.count(F.when(F.abs(F.col("nrm") - 1) > 0.01, 1))
            .cast("bigint")
            .alias("n_unnormalized"),
            F.count(F.when(F.col("nrm") < 1e-6, 1))
            .cast("bigint")
            .alias("n_degenerate"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# d19 — streaming dedup maintenance parity: the documents corpus
# arrives as three micro-batches (doc_id % 3 = 0, 1, 2) through the
# streaming maintainer (streaming/dedup.py — versioned published
# snapshots, incremental_dedup per batch): the first two through the
# REAL file-source streaming query (batch ids 0, 1; the shared
# fixture plans/fixtures.dedup_stream_base that d22/d23 also rebase
# on), the third as a direct ``apply_dedup_batch`` backfill (bid 2) —
# and the FINAL published corpus is returned. Batch ids are labels,
# not semantics: the oracle's batch column derives from doc_id % 3.
# The oracle unrolls the three rounds
# declaratively: batch 1 is plain within-batch closure dedup; each
# later batch first drops docs with an exact-Jaccard≥0.5 partner in
# the published set (increments never retroactively delete published
# docs — the d14 contract), then closure-dedups its survivors. This
# puts the streaming corpus-upkeep operator under the hash-compare
# gate (batch-equivalence), not just pytest.
# ---------------------------------------------------------------------------
_D19_ORACLE = f"""
WITH RECURSIVE {_SQL_SHINGLES},
  sz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
  inter AS MATERIALIZED (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ),
  pairs AS MATERIALIZED (
    SELECT id_a, id_b FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
  ),
  e0 AS MATERIALIZED (
    SELECT id_a AS src, id_b AS dst FROM pairs
    WHERE id_a % 3 = 0 AND id_b % 3 = 0
    UNION
    SELECT id_b, id_a FROM pairs WHERE id_a % 3 = 0 AND id_b % 3 = 0
  ),
  r0(src, dst) AS (
    SELECT src, dst FROM e0
    UNION
    SELECT r.src, e.dst FROM r0 r JOIN e0 e ON r.dst = e.src
  ),
  c0 AS MATERIALIZED (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cl FROM r0 GROUP BY src),
  k0 AS MATERIALIZED (
    SELECT d.doc_id
    FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d
    LEFT JOIN c0 USING (doc_id)
    WHERE d.doc_id = COALESCE(c0.cl, d.doc_id)
  ),
  x1 AS MATERIALIZED (
    SELECT DISTINCT CASE WHEN id_a % 3 = 1 THEN id_a ELSE id_b END AS doc_id
    FROM pairs
    WHERE (id_a % 3 = 1 AND id_b IN (SELECT doc_id FROM k0))
       OR (id_b % 3 = 1 AND id_a IN (SELECT doc_id FROM k0))
  ),
  s1 AS MATERIALIZED (
    SELECT doc_id FROM documents
    WHERE doc_id % 3 = 1 AND doc_id NOT IN (SELECT doc_id FROM x1)
  ),
  e1 AS MATERIALIZED (
    SELECT id_a AS src, id_b AS dst FROM pairs
    WHERE id_a IN (SELECT doc_id FROM s1) AND id_b IN (SELECT doc_id FROM s1)
    UNION
    SELECT id_b, id_a FROM pairs
    WHERE id_a IN (SELECT doc_id FROM s1) AND id_b IN (SELECT doc_id FROM s1)
  ),
  r1(src, dst) AS (
    SELECT src, dst FROM e1
    UNION
    SELECT r.src, e.dst FROM r1 r JOIN e1 e ON r.dst = e.src
  ),
  c1 AS MATERIALIZED (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cl FROM r1 GROUP BY src),
  k1 AS MATERIALIZED (
    SELECT s1.doc_id FROM s1
    LEFT JOIN c1 USING (doc_id)
    WHERE s1.doc_id = COALESCE(c1.cl, s1.doc_id)
  ),
  pub2 AS MATERIALIZED (SELECT doc_id FROM k0 UNION ALL SELECT doc_id FROM k1),
  x2 AS MATERIALIZED (
    SELECT DISTINCT CASE WHEN id_a % 3 = 2 THEN id_a ELSE id_b END AS doc_id
    FROM pairs
    WHERE (id_a % 3 = 2 AND id_b IN (SELECT doc_id FROM pub2))
       OR (id_b % 3 = 2 AND id_a IN (SELECT doc_id FROM pub2))
  ),
  s2 AS MATERIALIZED (
    SELECT doc_id FROM documents
    WHERE doc_id % 3 = 2 AND doc_id NOT IN (SELECT doc_id FROM x2)
  ),
  e2 AS MATERIALIZED (
    SELECT id_a AS src, id_b AS dst FROM pairs
    WHERE id_a IN (SELECT doc_id FROM s2) AND id_b IN (SELECT doc_id FROM s2)
    UNION
    SELECT id_b, id_a FROM pairs
    WHERE id_a IN (SELECT doc_id FROM s2) AND id_b IN (SELECT doc_id FROM s2)
  ),
  r2(src, dst) AS (
    SELECT src, dst FROM e2
    UNION
    SELECT r.src, e.dst FROM r2 r JOIN e2 e ON r.dst = e.src
  ),
  c2 AS MATERIALIZED (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cl FROM r2 GROUP BY src),
  k2 AS MATERIALIZED (
    SELECT s2.doc_id FROM s2
    LEFT JOIN c2 USING (doc_id)
    WHERE s2.doc_id = COALESCE(c2.cl, s2.doc_id)
  )
SELECT doc_id, CAST(doc_id % 3 + 1 AS INTEGER) AS batch
FROM (
  SELECT doc_id FROM k0
  UNION ALL SELECT doc_id FROM k1
  UNION ALL SELECT doc_id FROM k2
)
ORDER BY doc_id
"""


@register("d19_streaming_dedup_parity", oracle=_D19_ORACLE)
def d19_streaming_dedup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Store construction: the REAL streaming maintainer drains the
    # first two slices (plans/fixtures.dedup_stream_base — file source,
    # checkpoint, foreachBatch), then the third arrives as a direct
    # ``apply_dedup_batch`` backfill — both entry points of the same
    # batch body. The base store is a process-shared fixture (d22/d23
    # rebase on clones of it); this row reads the extended store.
    from censo_escolar_spark.plans.fixtures import dedup_full_store
    from censo_escolar_spark.streaming import detach
    from censo_escolar_spark.streaming.dedup import read_published

    store = dedup_full_store(spark, sf_dir)
    final = read_published(spark, store)
    out = final.select(
        "doc_id", (F.col("doc_id") % 3 + 1).cast("int").alias("batch")
    ).orderBy("doc_id")
    return detach(out)


# ---------------------------------------------------------------------------
# t33 — temperature-reweighted language mixture: the multilingual
# sampling-weight computation (XLM-R §3.1 family): per language,
# p_lang = token share, reweighted by temperature α = 0.5 —
# q_lang ∝ p_lang^0.5 — and renormalized; boost = q/p is the up/down-
# sampling factor low-resource languages receive. α is FIXED at 0.5
# because sqrt is correctly rounded in IEEE (bit-identical across
# engines) while pow(x, 0.3) need not be; the normalizing denominator
# is a cross-row sum, so each sqrt(p) is quantized to an exact 1e15
# integer first (fold-order-free BIGINT sum, q is one division of
# exact integers). One scan for token counts, one 6-row rollup.
# ---------------------------------------------------------------------------
@register(
    "t33_mixture_reweighting",
    oracle="""
    WITH counts AS (
      SELECT lang,
        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS n FROM counts),
    s AS (
      SELECT lang, n_tokens,
        CAST(n_tokens AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        CAST(round(sqrt(CAST(n_tokens AS DOUBLE) / CAST(n AS DOUBLE))
                   * 1000000000000000.0) AS BIGINT) AS sq
      FROM counts CROSS JOIN tot
    ),
    z AS (SELECT CAST(SUM(sq) AS BIGINT) AS zsum FROM s)
    SELECT lang, n_tokens, p,
      CAST(sq AS DOUBLE) / CAST(zsum AS DOUBLE) AS q,
      CAST(sq AS DOUBLE) / CAST(zsum AS DOUBLE) / p AS boost
    FROM s CROSS JOIN z
    ORDER BY lang
    """,
)
def t33_mixture_reweighting(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens")
    )
    tot = counts.agg(F.sum("n_tokens").cast("bigint").alias("n"))
    p = F.col("n_tokens").cast("double") / F.col("n").cast("double")
    s = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_tokens",
        p.alias("p"),
        F.round(F.sqrt(p) * F.lit(1e15)).cast("bigint").alias("sq"),
    )
    z = s.agg(F.sum("sq").cast("bigint").alias("zsum"))
    q = F.col("sq").cast("double") / F.col("zsum").cast("double")
    return (
        s.crossJoin(F.broadcast(z))
        .select(
            "lang",
            "n_tokens",
            "p",
            q.alias("q"),
            (q / F.col("p")).alias("boost"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# s19 — random-projection retrieval: embeddings projected 64 → 16 dims
# through a fixed ±1 sign matrix (Achlioptas/JL; splitmix64-derived,
# operators/similarity.py::sign_projection_matrix), then exact cosine
# top-k in the PROJECTED space for the bounded query set. The memory/
# bandwidth play of embedding pipelines: store and search 4× fewer
# dims with approximately preserved ranks (recall vs full-dim ranks is
# asserted in tests). Projection is a per-row map (16 exact folds
# against broadcast constant rows — bit-identical to the oracle's
# list_dot_product, which is why there is no GEMM here); retrieval is
# the s01 broadcast shape. The same constant matrix is inlined into
# the SQL as a literal, so both engines share it verbatim.
# ---------------------------------------------------------------------------
def _s19_matrix_sql() -> str:
    from censo_escolar_spark.operators.similarity import sign_projection_matrix

    m = sign_projection_matrix(16, 64)
    rows = ", ".join(
        "[" + ", ".join(f"{x:.1f}" for x in row) + "]" for row in m
    )
    return "[" + rows + "]"


_S19_ORACLE = f"""
    WITH s AS (SELECT {_s19_matrix_sql()} AS S),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          WHERE embedding IS NOT NULL),
    p AS (
      SELECT vec_id, list(list_dot_product(v, s.S[k]) ORDER BY k) AS pv
      FROM e, s, UNNEST(range(1, 17)) AS u(k)
      GROUP BY vec_id
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        list_dot_product(q.pv, c.pv) /
          (sqrt(list_dot_product(q.pv, q.pv))
           * sqrt(list_dot_product(c.pv, c.pv))) AS cos16
      FROM p q JOIN p c ON q.vec_id != c.vec_id
      WHERE q.vec_id < 8
        AND list_dot_product(q.pv, q.pv) > 0
        AND list_dot_product(c.pv, c.pv) > 0
    )
    SELECT query_id, neighbor_id, cos16, CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos16 DESC, neighbor_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 5
    ORDER BY query_id, rank
    """


@register("s19_random_projection_topk", oracle=_S19_ORACLE)
def s19_random_projection_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.functions.vectors import cosine, dot

    emb = load_table(spark, sf_dir, "embeddings")
    mat = similarity.sign_projection_matrix(16, 64)
    proj = similarity.project_signs(emb, mat)
    c = proj.select(
        F.col("vec_id").alias("neighbor_id"), F.col("proj").alias("cv")
    ).filter(dot(F.col("cv"), F.col("cv")) > 0)
    q = proj.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("proj").alias("qv")
    ).filter(dot(F.col("qv"), F.col("qv")) > 0)
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).withColumn("cos16", cosine(F.col("qv"), F.col("cv")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos16"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cos16", "rank")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# d20 — duplicate-cluster size histogram: the dedup QA dashboard. From
# the d06 transitive near-dup clusters (singletons included), the
# distribution of cluster sizes — how much of the corpus is unique,
# how heavy the duplication tail is, whether a degenerate giant
# component exists (the classic symptom of a too-loose threshold or a
# hot shingle). All counts are exact integers off one extra rollup of
# the cluster labels; corpus_frac is one final IEEE division against a
# 1-row total broadcast (q65 pattern). At scale this reads the stored
# cluster-label table — the histogram is two partial-aggregated
# groupBys, nothing rescans text.
# ---------------------------------------------------------------------------
_D20_ORACLE = f"""
WITH RECURSIVE {_SQL_JACCARD_CLOSURE},
  labels AS (
    SELECT d.doc_id,
      CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
    FROM documents d LEFT JOIN comp c USING (doc_id)
  ),
  sizes AS (
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
    FROM labels GROUP BY cluster_id
  ),
  tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_total FROM labels)
SELECT cluster_size,
  CAST(COUNT(*) AS BIGINT) AS n_clusters,
  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
  CAST(cluster_size * COUNT(*) AS DOUBLE) / CAST(n_docs_total AS DOUBLE)
    AS corpus_frac
FROM sizes CROSS JOIN tot
GROUP BY cluster_size, n_docs_total
ORDER BY cluster_size
"""


@register("d20_cluster_size_histogram", oracle=_D20_ORACLE)
def d20_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    labels = dedup.dedup_clusters(docs, "doc_id", "text", n=3, threshold=0.5)
    sizes = labels.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    tot = labels.agg(F.count("*").cast("bigint").alias("n_docs_total"))
    return (
        sizes.crossJoin(F.broadcast(tot))
        .groupBy("cluster_size", "n_docs_total")
        .agg(F.count("*").cast("bigint").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs"),
            (
                (F.col("cluster_size") * F.col("n_clusters")).cast("double")
                / F.col("n_docs_total").cast("double")
            ).alias("corpus_frac"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# s20 — binary-embedding retrieval (1-bit quantization): each 64-dim
# vector collapses to two 32-bit sign words; candidates rank by
# Hamming distance (bit_count of XOR — pure integer codegen, 16 bytes
# per vector instead of 512), the top-32 shortlist re-ranks by exact
# fold cosine, final top-5 by cosine. The memory-bound ANN pattern
# (binary/embedding-cache search): the scan side touches only packed
# words, floats are read for the bounded shortlist alone. Sign bits,
# XOR, bit_count, and the fold cosine are all bit-identical
# cross-engine, so the whole pipeline hash-matches its SQL replay.
# ---------------------------------------------------------------------------
def _s20_word_sql(lo: int, alias: str) -> str:
    terms = " + ".join(
        f"CASE WHEN v[{j}] > 0 THEN CAST(2**{j - lo} AS BIGINT) ELSE 0 END"
        for j in range(lo, lo + 32)
    )
    return f"({terms}) AS {alias}"


_S20_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE embedding IS NOT NULL
                 AND list_dot_product(embedding::DOUBLE[],
                                      embedding::DOUBLE[]) > 0),
    b AS (
      SELECT vec_id, v, {_s20_word_sql(1, "w0")}, {_s20_word_sql(33, "w1")}
      FROM e
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        CAST(bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1))
             AS INTEGER) AS hamming,
        q.v AS qv, c.v AS cv
      FROM b q JOIN b c ON q.vec_id != c.vec_id
      WHERE q.vec_id < 8
    ),
    shortlist AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY hamming, neighbor_id) AS h_rn
      FROM scored
    ),
    reranked AS (
      SELECT query_id, neighbor_id, hamming,
        list_dot_product(qv, cv) /
          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
          AS cos
      FROM shortlist WHERE h_rn <= 32
    )
    SELECT query_id, neighbor_id, hamming, cos, CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS rnk
      FROM reranked
    )
    WHERE rnk <= 5
    ORDER BY query_id, rank
    """


@register("s20_binary_hamming_topk", oracle=_S20_ORACLE)
def s20_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from censo_escolar_spark.functions.vectors import as_double_array, cosine, dot

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    v = as_double_array("embedding")
    # zero-norm guard (mirrors s19): a zero vector reaching the
    # shortlist would cosine to 0/0 = NaN, whose DESC placement relies
    # on both engines' unpinned NaN sort order
    emb = emb.filter(dot(v, v) > 0)

    def word(lo: int):
        return reduce(
            lambda a, b: a + b,
            [
                F.when(
                    F.element_at(v, j) > 0,
                    F.lit(1 << (j - lo)).cast("bigint"),
                ).otherwise(F.lit(0).cast("bigint"))
                for j in range(lo, lo + 32)
            ],
        )

    b = emb.select(
        "vec_id", v.alias("v"), word(1).alias("w0"), word(33).alias("w1")
    )
    q = b.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    c = b.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("w0").alias("cw0"),
        F.col("w1").alias("cw1"),
    )
    hamming = (
        F.bit_count(F.expr("qw0 ^ cw0")) + F.bit_count(F.expr("qw1 ^ cw1"))
    ).cast("int")
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).withColumn("hamming", hamming)
    wh = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    reranked = (
        scored.withColumn("h_rn", F.row_number().over(wh))
        .filter(F.col("h_rn") <= 32)
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        reranked.withColumn("rank", F.row_number().over(wc).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "hamming", "cos", "rank")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# t34 — tokenizer fertility per language: tokens-per-word (fertility)
# and bytes-per-token, the standard tokenizer-efficiency diagnostics for
# multilingual data-mixture planning (a high-fertility language is
# under-served by the tokenizer and its token share overstates its
# content share — the correction t33's raw token shares need). All
# exact BIGINT sums in one scan (bytes = octet_length of the UTF-8
# text, words = whitespace tokens, tokens = the t05 BPE-ish
# pre-tokenizer regex count), then single IEEE divisions — bit-exact
# cross-engine, 6-row output shuffle.
# ---------------------------------------------------------------------------
@register(
    "t34_tokenizer_fertility",
    oracle=rf"""
    SELECT lang,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(octet_length(encode(text))) AS BIGINT) AS n_bytes,
      CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_words,
      CAST(SUM(len(regexp_extract_all(text, '{T.BPE_PRETOKEN_RE}'))) AS BIGINT)
        AS n_tokens,
      CAST(CAST(SUM(len(regexp_extract_all(text, '{T.BPE_PRETOKEN_RE}'))) AS BIGINT)
           AS DOUBLE)
        / CAST(CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS DOUBLE)
        AS fertility,
      CAST(CAST(SUM(octet_length(encode(text))) AS BIGINT) AS DOUBLE)
        / CAST(CAST(SUM(len(regexp_extract_all(text, '{T.BPE_PRETOKEN_RE}'))) AS BIGINT)
               AS DOUBLE)
        AS bytes_per_token
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def t34_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.octet_length("text").cast("bigint")).alias("n_bytes"),
        F.sum(T.token_count("text").cast("bigint")).alias("n_words"),
        F.sum(T.bpe_token_count("text").cast("bigint")).alias("n_tokens"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_bytes",
        "n_words",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("n_words").cast("double")).alias(
            "fertility"
        ),
        (F.col("n_bytes").cast("double") / F.col("n_tokens").cast("double")).alias(
            "bytes_per_token"
        ),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# t35 — deterministic training shuffle + sharding: the last step of a
# corpus pipeline before ingestion. Training order must be (a) globally
# shuffled (no source/time locality), (b) a pure function of content
# keys (reproducible runs, resumable from any shard), so the order key
# is a 52-bit md5 hash of (doc_id, seed) — cross-engine exact via the
# hex-prefix trick — and the global position comes from the two-phase
# range ranking (operators/ranking.py: never a single-task window).
# Shards are fixed 256-doc slices of the shuffled order.
# ---------------------------------------------------------------------------
@register(
    "t35_training_shuffle",
    oracle="""
    WITH h AS (
      SELECT doc_id, lang,
        ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 13))::BIGINT
          AS shuffle_key
      FROM documents
    ),
    pos AS (
      SELECT doc_id, lang, shuffle_key,
        row_number() OVER (ORDER BY shuffle_key, doc_id) AS position
      FROM h
    )
    SELECT doc_id, lang, shuffle_key,
      CAST(position AS BIGINT) AS position,
      CAST((position - 1) // 256 AS BIGINT) AS shard,
      CAST((position - 1) % 256 AS BIGINT) AS pos_in_shard
    FROM pos
    ORDER BY position
    """,
)
def t35_training_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.operators.ranking import global_row_number

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42"))), 1, 13
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("shuffle_key"),
    )
    ranked = global_row_number(
        docs, [F.col("shuffle_key"), F.col("doc_id")], out_col="position"
    )
    return ranked.select(
        "doc_id",
        "lang",
        "shuffle_key",
        "position",
        F.expr("(position - 1) div 256").cast("bigint").alias("shard"),
        F.expr("(position - 1) % 256").cast("bigint").alias("pos_in_shard"),
    ).orderBy("position")


# ---------------------------------------------------------------------------
# t36 — epoch sampling plan: t33's temperature boosts operationalized
# into per-document multiplicities for one training epoch. A language
# with boost b contributes floor(b) copies of every doc plus one more
# for the deterministic hash-fraction of docs below frac(b) — exactly
# b in expectation, reproducible (no RNG), and leakage-free (the coin
# is the doc's own content key). boost is bit-identical cross-engine
# (t33's quantized-sqrt construction), so floor/frac comparisons are
# exact; the hash coin is the 52-bit md5 prefix as a dyadic fraction.
# One scan + a 6-row broadcast join; multiplicities explode downstream
# into the shuffle (t35), so the plan itself stays narrow.
# ---------------------------------------------------------------------------
@register(
    "t36_epoch_plan",
    oracle="""
    WITH counts AS (
      SELECT lang,
        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS n FROM counts),
    s AS (
      SELECT lang,
        CAST(n_tokens AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        CAST(round(sqrt(CAST(n_tokens AS DOUBLE) / CAST(n AS DOUBLE))
                   * 1000000000000000.0) AS BIGINT) AS sq
      FROM counts CROSS JOIN tot
    ),
    z AS (SELECT CAST(SUM(sq) AS BIGINT) AS zsum FROM s),
    b AS (
      SELECT lang,
        CAST(sq AS DOUBLE) / CAST(zsum AS DOUBLE) / p AS boost
      FROM s CROSS JOIN z
    ),
    coin AS (
      SELECT d.doc_id, d.lang, b.boost,
        ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':epoch0'), 1, 13))::BIGINT
          AS h
      FROM documents d JOIN b USING (lang)
    )
    SELECT doc_id, lang, boost,
      CAST(floor(boost) +
           CASE WHEN CAST(h AS DOUBLE)
                     < (boost - floor(boost)) * 4503599627370496.0
                THEN 1 ELSE 0 END AS BIGINT) AS multiplicity
    FROM coin
    ORDER BY doc_id
    """,
)
def t36_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens")
    )
    tot = counts.agg(F.sum("n_tokens").cast("bigint").alias("n"))
    p = F.col("n_tokens").cast("double") / F.col("n").cast("double")
    s = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        p.alias("p"),
        F.round(F.sqrt(p) * F.lit(1e15)).cast("bigint").alias("sq"),
    )
    z = s.agg(F.sum("sq").cast("bigint").alias("zsum"))
    boosts = (
        s.crossJoin(F.broadcast(z))
        .select(
            "lang",
            (F.col("sq").cast("double") / F.col("zsum").cast("double") / F.col("p"))
            .alias("boost"),
        )
    )
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":epoch0"))),
                1,
                13,
            ),
            16,
            10,
        )
        .cast("bigint")
    )
    frac = F.col("boost") - F.floor(F.col("boost"))
    return (
        docs.select("doc_id", "lang")
        .join(F.broadcast(boosts), "lang")
        .select(
            "doc_id",
            "lang",
            "boost",
            (
                F.floor("boost")
                + F.when(
                    h.cast("double") < frac * F.lit(4503599627370496.0), F.lit(1)
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("multiplicity"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# t37 — n-gram novelty rate per language: what fraction of the eval
# split's DISTINCT verbatim 8-grams never occur in the train split —
# the aggregate memorization-risk signal complementing d08's per-pair
# contamination report (same deterministic doc_id % 10 split, same
# 8-gram span definition). Shape: distinct (lang, shingle) on the eval
# side, distinct shingle on the train side, one anti/left join on the
# shingle string — the standard inverted-index shuffle (map-side
# partial distinct); counts are exact BIGINTs with ONE final IEEE
# division. Shingle STRINGS (not hashes) keep the oracle equality
# definitional; at 100 TB swap in the 8-byte xxhash64 index
# (operators/dedup.shingle_sets) for 2-3x less shuffle at the price of
# a ~2^-64 collision.
# ---------------------------------------------------------------------------
@register(
    "t37_ngram_novelty",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, lang, array_to_string(t[i:i+7], ' ') AS s
      FROM toks, UNNEST(range(1, len(t)-6)) AS u(i)
    ),
    ev AS (SELECT DISTINCT lang, s FROM sh WHERE doc_id % 10 = 0),
    tr AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 != 0)
    SELECT ev.lang,
      CAST(COUNT(*) AS BIGINT) AS n_eval_shingles,
      CAST(SUM(CASE WHEN tr.s IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_novel,
      CAST(SUM(CASE WHEN tr.s IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*) AS novelty_rate
    FROM ev LEFT JOIN tr ON ev.s = tr.s
    GROUP BY ev.lang ORDER BY ev.lang
    """,
)
def t37_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.operators.skew import spread_small_input

    # the 8-gram explode over 90% of the corpus is CPU-dense per input
    # byte; spread an unsplittable scan across cores first (guide §2.5 —
    # a 1.7 s single-task explode stage measured on the harness; no-op
    # for real many-file corpora)
    docs = spread_small_input(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        rows=table_rows(sf_dir, "documents"),
    )
    ev_sh = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(
            "lang",
            F.explode(F.array_distinct(T.shingles("text", 8))).alias("shingle"),
        )
        .distinct()
    )
    tr_sh = (
        docs.filter(F.col("doc_id") % 10 != 0)
        .select(F.explode(F.array_distinct(T.shingles("text", 8))).alias("shingle"))
        .distinct()
    )
    novel = ev_sh.join(tr_sh, "shingle", "left_anti")
    totals = ev_sh.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_eval_shingles")
    )
    novels = novel.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_novel"))
    n_novel = F.coalesce(F.col("n_novel"), F.lit(0).cast("bigint"))
    return (
        totals.join(novels, "lang", "left")
        .select(
            "lang",
            "n_eval_shingles",
            n_novel.alias("n_novel"),
            (n_novel.cast("double") / F.col("n_eval_shingles").cast("double")).alias(
                "novelty_rate"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# d21 — dedup survivorship audit per language: the pre-publish report a
# curation pipeline reads before committing a dedup pass — how many
# docs, how many transitive near-dup clusters, how many canonical
# survivors, and the character-volume saving, per language. Reuses
# d06/d20's cluster labels (min-id canonical member); all counts and
# char sums are exact BIGINTs off one rollup of labels ⋈ documents (a
# cluster spanning languages is counted in each language it touches —
# per-language attribution); savings_frac is ONE final IEEE division.
# At scale this reads the stored cluster-label table — nothing rescans
# text.
# ---------------------------------------------------------------------------
_D21_ORACLE = f"""
WITH RECURSIVE {_SQL_JACCARD_CLOSURE},
  labels AS (
    SELECT d.doc_id,
      CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
    FROM documents d LEFT JOIN comp c USING (doc_id)
  ),
  joined AS (
    SELECT l.cluster_id, d.lang, d.n_chars,
      l.doc_id = l.cluster_id AS keep
    FROM labels l JOIN documents d USING (doc_id)
  ),
  agg AS (
    SELECT lang,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
      CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
      CAST(SUM(n_chars) AS BIGINT) AS chars_total,
      CAST(SUM(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT)
        AS chars_surviving
    FROM joined GROUP BY lang
  )
SELECT lang, n_docs, n_clusters, n_survivors, chars_total, chars_surviving,
  CAST(chars_total - chars_surviving AS DOUBLE)
    / CAST(chars_total AS DOUBLE) AS savings_frac
FROM agg ORDER BY lang
"""


@register("d21_dedup_survivorship", oracle=_D21_ORACLE)
def d21_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    labels = dedup.dedup_clusters(docs, "doc_id", "text", n=3, threshold=0.5)
    full = labels.join(docs.select("doc_id", "lang", "n_chars"), "doc_id")
    keep = F.col("doc_id") == F.col("cluster_id")
    agg = full.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_survivors"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
        F.sum(F.when(keep, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("chars_surviving"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_clusters",
        "n_survivors",
        "chars_total",
        "chars_surviving",
        (
            (F.col("chars_total") - F.col("chars_surviving")).cast("double")
            / F.col("chars_total").cast("double")
        ).alias("savings_frac"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# t38 — vocabulary coverage / OOV rate per language against a fixed
# token vocabulary: the eval-readiness complement of t34's fertility
# (a language whose running text falls outside the vocab is undertrained
# at any mixture weight). The vocab here is the corpus's own global
# top-100 tokens (count DESC, token ASC — a deterministic cut both
# engines express identically); per language the query reports exact
# BIGINT token/type totals and OOV splits, with ONE final IEEE division
# for the rate. Plan shape: one token explode + a 100-row broadcast
# LEFT join + per-lang aggregate — at 100 TB the vocab is a real fixed
# artifact (the tokenizer's), i.e. the same broadcast join without the
# top-k subquery.
# ---------------------------------------------------------------------------
@register(
    "t38_vocab_coverage",
    oracle="""
    WITH toks AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    counts AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY tok
    ),
    vocab AS MATERIALIZED (
      SELECT tok FROM counts ORDER BY n DESC, tok LIMIT 100
    )
    SELECT t.lang,
      CAST(COUNT(*) AS BIGINT) AS n_tokens,
      CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      CAST(COUNT(DISTINCT t.tok) AS BIGINT) AS n_types,
      CAST(COUNT(DISTINCT CASE WHEN v.tok IS NULL THEN t.tok END) AS BIGINT)
        AS n_oov_types,
      CAST(CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS DOUBLE)
        / CAST(CAST(COUNT(*) AS BIGINT) AS DOUBLE) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.lang
    ORDER BY t.lang
    """,
)
def t38_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(100)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    joined = toks.join(F.broadcast(vocab), "tok", "left")
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    agg = joined.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum(oov).cast("bigint").alias("n_oov"),
        F.countDistinct("tok").cast("bigint").alias("n_types"),
        F.countDistinct(
            F.when(F.col("in_vocab").isNull(), F.col("tok"))
        )
        .cast("bigint")
        .alias("n_oov_types"),
    )
    return agg.select(
        "lang",
        "n_tokens",
        "n_oov",
        "n_types",
        "n_oov_types",
        (F.col("n_oov").cast("double") / F.col("n_tokens").cast("double")).alias(
            "oov_rate"
        ),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# t39 — BM25 ranked retrieval over an inverted index: the lexical half
# of a retrieval-based curation stack (contamination lookup, hard-
# negative mining, hybrid dedup).  Query docs are doc_id < 4 (the s01
# anchor convention); each queries with its 8 rarest distinct terms
# (df ASC, term ASC — a deterministic cut).  Scoring is Okapi BM25 with
# the RATIONAL idf (no log — t13's bit-reproducibility trick); the one
# cross-row float sum is quantized to BIGINT first (t33's trick) so
# partial-agg order can't move the hash, and ranking sorts on the
# scaled integer.  Plan shape: corpus stats = two exact-count
# aggregates; candidates = posting-list equi-join against a ≤32-row
# broadcast probe set; top-k = one window over per-query candidates.
# At 100 TB the posting lists are term-partitioned and each shard emits
# its local top-k — no all-pairs stage anywhere.
# ---------------------------------------------------------------------------
_T39_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot_tokens FROM tok),
qterms AS (
  SELECT qid, term, df FROM (
    SELECT qt.doc_id AS qid, qt.term, d.df,
      ROW_NUMBER() OVER (PARTITION BY qt.doc_id ORDER BY d.df ASC, qt.term ASC) AS r
    FROM (SELECT DISTINCT doc_id, term FROM tf WHERE doc_id < 4) qt
    JOIN dfreq d USING (term)
  ) WHERE r <= 8
),
consts AS (
  SELECT CAST(n.n_docs AS DOUBLE) AS nd,
    CAST(tot.tot_tokens AS DOUBLE) / CAST(n.n_docs AS DOUBLE) AS avgdl
  FROM n CROSS JOIN tot
),
scored AS (
  SELECT q.qid AS query_id, t.doc_id,
    CAST(round(
      (((c.nd - CAST(q.df AS DOUBLE) + 0.5) / (CAST(q.df AS DOUBLE) + 0.5))
        * (CAST(t.tf AS DOUBLE) * {retrieval.BM25_K1_PLUS_1!r}))
      / (CAST(t.tf AS DOUBLE)
         + ({retrieval.BM25_K1!r} * ({retrieval.BM25_ONE_MINUS_B!r}
            + ({retrieval.BM25_B!r} * (CAST(l.dl AS DOUBLE) / c.avgdl)))))
      * {retrieval.BM25_SCALE!r}) AS BIGINT) AS qscaled
  FROM qterms q
  JOIN tf t ON q.term = t.term AND t.doc_id != q.qid
  JOIN dl l ON t.doc_id = l.doc_id
  CROSS JOIN consts c
),
agg AS (
  SELECT query_id, doc_id, CAST(SUM(qscaled) AS BIGINT) AS score_scaled,
    CAST(COUNT(*) AS INTEGER) AS n_terms
  FROM scored GROUP BY query_id, doc_id
)
SELECT query_id, CAST(r AS INTEGER) AS rank, doc_id, n_terms, score_scaled,
  CAST(score_scaled AS DOUBLE) / {retrieval.BM25_SCALE!r} AS score
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score_scaled DESC, doc_id) AS r
  FROM agg
)
WHERE r <= 5
ORDER BY query_id, rank
"""


@register("t39_bm25_topk", oracle=_T39_ORACLE)
def t39_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf, dl, dfreq = retrieval.corpus_stats(docs, "doc_id", "text")
    qterms = retrieval.rarest_query_terms(tf, dfreq, range(4), n_terms=8)
    return retrieval.bm25_topk(
        docs, qterms, k=5, stats=(tf, dl, dfreq)
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# s24 — hybrid retrieval with reciprocal-rank fusion (Cormack et al.,
# SIGIR 2009): fuse the lexical BM25 top-20 (t39's inverted-index path)
# with the dense cosine top-20 (s01's baseline) per query; rrf(d) =
# Σ 1/(60 + rank).  Queries are doc_id/vec_id < 4 (the two test tables
# share the 0..N-1 id namespace).  Determinism: both input rankings are
# bit-reproducible (BM25 sorts on a scaled BIGINT; cosine on the
# fold-order dot both engines share), the fusion adds exactly TWO
# per-row scalars in fixed order (never a cross-row float agg), and
# ties break by doc_id.  Scale: inputs are per-query top-k lists, so
# fusion is an O(k)-rows-per-query outer join — the retrieval stages
# carry all the data weight (t39/s01 shapes).
# ---------------------------------------------------------------------------
_S24_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot_tokens FROM tok),
qterms AS (
  SELECT qid, term, df FROM (
    SELECT qt.doc_id AS qid, qt.term, d.df,
      ROW_NUMBER() OVER (PARTITION BY qt.doc_id ORDER BY d.df ASC, qt.term ASC) AS r
    FROM (SELECT DISTINCT doc_id, term FROM tf WHERE doc_id < 4) qt
    JOIN dfreq d USING (term)
  ) WHERE r <= 8
),
consts AS (
  SELECT CAST(n.n_docs AS DOUBLE) AS nd,
    CAST(tot.tot_tokens AS DOUBLE) / CAST(n.n_docs AS DOUBLE) AS avgdl
  FROM n CROSS JOIN tot
),
scored AS (
  SELECT q.qid AS query_id, t.doc_id,
    CAST(round(
      (((c.nd - CAST(q.df AS DOUBLE) + 0.5) / (CAST(q.df AS DOUBLE) + 0.5))
        * (CAST(t.tf AS DOUBLE) * {retrieval.BM25_K1_PLUS_1!r}))
      / (CAST(t.tf AS DOUBLE)
         + ({retrieval.BM25_K1!r} * ({retrieval.BM25_ONE_MINUS_B!r}
            + ({retrieval.BM25_B!r} * (CAST(l.dl AS DOUBLE) / c.avgdl)))))
      * {retrieval.BM25_SCALE!r}) AS BIGINT) AS qscaled
  FROM qterms q
  JOIN tf t ON q.term = t.term AND t.doc_id != q.qid
  JOIN dl l ON t.doc_id = l.doc_id
  CROSS JOIN consts c
),
agg AS (
  SELECT query_id, doc_id, CAST(SUM(qscaled) AS BIGINT) AS score_scaled
  FROM scored GROUP BY query_id, doc_id
),
lex AS (
  SELECT query_id, doc_id, CAST(r AS INTEGER) AS rank_a FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY score_scaled DESC, doc_id) AS r
    FROM agg
  ) WHERE r <= 20
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
    list_dot_product(q.v, c.v) /
      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
  FROM e q JOIN e c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 4
),
dense AS (
  SELECT query_id, doc_id, CAST(r AS INTEGER) AS rank_b FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cos DESC, doc_id) AS r
    FROM dscored
  ) WHERE r <= 20
),
fused AS (
  SELECT COALESCE(l.query_id, d.query_id) AS query_id,
    COALESCE(l.doc_id, d.doc_id) AS doc_id,
    l.rank_a, d.rank_b,
    (CASE WHEN l.rank_a IS NOT NULL
          THEN 1.0 / (60.0 + CAST(l.rank_a AS DOUBLE)) ELSE 0.0 END)
    + (CASE WHEN d.rank_b IS NOT NULL
            THEN 1.0 / (60.0 + CAST(d.rank_b AS DOUBLE)) ELSE 0.0 END) AS rrf
  FROM lex l
  FULL OUTER JOIN dense d ON l.query_id = d.query_id AND l.doc_id = d.doc_id
)
SELECT query_id, CAST(r AS INTEGER) AS rank, doc_id,
  CAST(rank_a AS INTEGER) AS rank_lex, CAST(rank_b AS INTEGER) AS rank_dense,
  rrf
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS r
  FROM fused
)
WHERE r <= 5
ORDER BY query_id, rank
"""


@register("s24_hybrid_rrf", oracle=_S24_ORACLE)
def s24_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    tf, dl, dfreq = retrieval.corpus_stats(docs, "doc_id", "text")
    qterms = retrieval.rarest_query_terms(tf, dfreq, range(4), n_terms=8)
    lex = retrieval.bm25_topk(docs, qterms, k=20, stats=(tf, dl, dfreq)).select(
        "query_id", "doc_id", "rank"
    )
    dense = similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") < 4), k=20
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    return retrieval.rrf_fuse(lex, dense, k=5).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# s25 — late-interaction (ColBERT-style) maxsim rerank: each embedding
# is treated as 4 contiguous 16-dim token-block sub-vectors;
# maxsim(q,d) = Σ_j max_i cos(q_j, d_i).  The quadratic token-
# interaction matrix is evaluated ONLY on an ANN candidate set (the
# s01 brute-cosine top-64 per query) — the real late-interaction
# serving shape: ANN prune, bounded rerank.  Determinism: every block
# cosine is the fold-order dot (bit-identical to list_dot_product),
# max is order-free, and the outer sum is a FIXED 4-term left-to-right
# chain per row — no cross-row float aggregation.  Scale: rerank cost
# is 16 codegen folds × (n_queries × 64) rows regardless of corpus
# size; the candidate stage carries the data weight (s01/s21 shapes).
# ---------------------------------------------------------------------------
def _s25_oracle(dim: int = 64, n_blocks: int = 4, n_cand: int = 64, k: int = 5) -> str:
    bs = dim // n_blocks

    def blk(side: str, j: int) -> str:
        return f"{side}.v[{j * bs + 1}:{j * bs + bs}]"

    def cos(j: int, i: int) -> str:
        q, c = blk("q", j), blk("c", i)
        return (
            f"list_dot_product({q}, {c}) / "
            f"(sqrt(list_dot_product({q}, {q})) * sqrt(list_dot_product({c}, {c})))"
        )

    per_qblock = [
        "GREATEST(" + ", ".join(cos(j, i) for i in range(n_blocks)) + ")"
        for j in range(n_blocks)
    ]
    score = " + ".join(per_qblock)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
    list_dot_product(q.v, c.v) /
      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
  FROM e q JOIN e c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 4
),
cand AS (
  SELECT query_id, doc_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cos DESC, doc_id) AS r
    FROM dscored
  ) WHERE r <= {n_cand}
),
rerank AS (
  SELECT t.query_id, t.doc_id, {score} AS maxsim
  FROM cand t
  JOIN e q ON t.query_id = q.vec_id
  JOIN e c ON t.doc_id = c.vec_id
)
SELECT query_id, CAST(r AS INTEGER) AS rank, doc_id, maxsim
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY maxsim DESC, doc_id) AS r
  FROM rerank
)
WHERE r <= {k}
ORDER BY query_id, rank
"""


@register("s25_maxsim_rerank", oracle=_s25_oracle())
def s25_maxsim_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cand = similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") < 4), k=64
    ).select("query_id", F.col("neighbor_id").alias("doc_id"))
    return retrieval.maxsim_rerank(
        cand, emb, dim=64, n_blocks=4, k=5
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# d22 — right-to-be-forgotten in the streaming dedup corpus: d19's
# ingest pipeline (the shared streamed base, batch ids 0-1) followed
# by a DELETE batch (bid 2) tombstoning every doc_id % 7 == 0
# (published or not — never-published ids are no-ops), then a third
# ingest (bid 4) whose near-dup suppression runs against the
# post-delete LIVE index — a new near-dup of a forgotten doc must
# PUBLISH (the forgotten doc can no longer influence retention), and
# a bid-4 doc whose id was tombstoned at bid 2 is LIVE
# (arrival-ordered tombstones only remove rows published strictly
# before them).  compact_every=2 puts one fold at the delete batch
# covering only pre-delete content (plain union) and one AFTER it
# (upto=3: tombstoned text/sketch/band rows physically reclaimed,
# consumed tombstones dropped) — so the parity also proves the LSM
# reclaim preserves the live view.  Oracle: d19's per-batch
# declarative replay with the published set minus the delete set
# driving final-batch suppression.
# ---------------------------------------------------------------------------
_D22_ORACLE = f"""
WITH RECURSIVE {_SQL_SHINGLES},
  sz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
  inter AS MATERIALIZED (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ),
  pairs AS MATERIALIZED (
    SELECT id_a, id_b FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
  ),
  e0 AS MATERIALIZED (
    SELECT id_a AS src, id_b AS dst FROM pairs
    WHERE id_a % 3 = 0 AND id_b % 3 = 0
    UNION
    SELECT id_b, id_a FROM pairs WHERE id_a % 3 = 0 AND id_b % 3 = 0
  ),
  r0(src, dst) AS (
    SELECT src, dst FROM e0
    UNION
    SELECT r.src, e.dst FROM r0 r JOIN e0 e ON r.dst = e.src
  ),
  c0 AS MATERIALIZED (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cl FROM r0 GROUP BY src),
  k0 AS MATERIALIZED (
    SELECT d.doc_id
    FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d
    LEFT JOIN c0 USING (doc_id)
    WHERE d.doc_id = COALESCE(c0.cl, d.doc_id)
  ),
  x1 AS MATERIALIZED (
    SELECT DISTINCT CASE WHEN id_a % 3 = 1 THEN id_a ELSE id_b END AS doc_id
    FROM pairs
    WHERE (id_a % 3 = 1 AND id_b IN (SELECT doc_id FROM k0))
       OR (id_b % 3 = 1 AND id_a IN (SELECT doc_id FROM k0))
  ),
  s1 AS MATERIALIZED (
    SELECT doc_id FROM documents
    WHERE doc_id % 3 = 1 AND doc_id NOT IN (SELECT doc_id FROM x1)
  ),
  e1 AS MATERIALIZED (
    SELECT id_a AS src, id_b AS dst FROM pairs
    WHERE id_a IN (SELECT doc_id FROM s1) AND id_b IN (SELECT doc_id FROM s1)
    UNION
    SELECT id_b, id_a FROM pairs
    WHERE id_a IN (SELECT doc_id FROM s1) AND id_b IN (SELECT doc_id FROM s1)
  ),
  r1(src, dst) AS (
    SELECT src, dst FROM e1
    UNION
    SELECT r.src, e.dst FROM r1 r JOIN e1 e ON r.dst = e.src
  ),
  c1 AS MATERIALIZED (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cl FROM r1 GROUP BY src),
  k1 AS MATERIALIZED (
    SELECT s1.doc_id FROM s1
    LEFT JOIN c1 USING (doc_id)
    WHERE s1.doc_id = COALESCE(c1.cl, s1.doc_id)
  ),
  del0 AS MATERIALIZED (SELECT doc_id FROM documents WHERE doc_id % 7 = 0),
  pub2 AS MATERIALIZED (
    SELECT doc_id FROM (
      SELECT doc_id FROM k0 UNION ALL SELECT doc_id FROM k1
    )
    WHERE doc_id NOT IN (SELECT doc_id FROM del0)
  ),
  x2 AS MATERIALIZED (
    SELECT DISTINCT CASE WHEN id_a % 3 = 2 THEN id_a ELSE id_b END AS doc_id
    FROM pairs
    WHERE (id_a % 3 = 2 AND id_b IN (SELECT doc_id FROM pub2))
       OR (id_b % 3 = 2 AND id_a IN (SELECT doc_id FROM pub2))
  ),
  s2 AS MATERIALIZED (
    SELECT doc_id FROM documents
    WHERE doc_id % 3 = 2 AND doc_id NOT IN (SELECT doc_id FROM x2)
  ),
  e2 AS MATERIALIZED (
    SELECT id_a AS src, id_b AS dst FROM pairs
    WHERE id_a IN (SELECT doc_id FROM s2) AND id_b IN (SELECT doc_id FROM s2)
    UNION
    SELECT id_b, id_a FROM pairs
    WHERE id_a IN (SELECT doc_id FROM s2) AND id_b IN (SELECT doc_id FROM s2)
  ),
  r2(src, dst) AS (
    SELECT src, dst FROM e2
    UNION
    SELECT r.src, e.dst FROM r2 r JOIN e2 e ON r.dst = e.src
  ),
  c2 AS MATERIALIZED (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cl FROM r2 GROUP BY src),
  k2 AS MATERIALIZED (
    SELECT s2.doc_id FROM s2
    LEFT JOIN c2 USING (doc_id)
    WHERE s2.doc_id = COALESCE(c2.cl, s2.doc_id)
  )
SELECT doc_id,
  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 WHEN doc_id % 3 = 1 THEN 2 ELSE 4 END
       AS INTEGER) AS batch
FROM (
  SELECT doc_id FROM pub2
  UNION ALL SELECT doc_id FROM k2
)
ORDER BY doc_id
"""


@register("d22_corpus_forget", oracle=_D22_ORACLE)
def d22_corpus_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    import posixpath
    import shutil

    from censo_escolar_spark.plans.fixtures import (
        PARITY_SHUFFLE,
        dedup_stream_base,
    )
    from censo_escolar_spark.streaming import (
        clone_state,
        detach_from_state,
        state_shuffle,
    )
    from censo_escolar_spark.streaming.dedup import (
        apply_corpus_delete_batch,
        apply_dedup_batch,
        read_published,
    )

    docs = load_table(spark, sf_dir, "documents")
    base, _slices = dedup_stream_base(spark, sf_dir)
    # delete + post-delete ingest mutate the store: work on a clone
    state = clone_state(posixpath.join(base, "state"), prefix="d22_dedup_")
    try:
        with state_shuffle(spark, PARITY_SHUFFLE):
            # bid 2 triggers the cadence fold at upto=1 (pre-delete
            # content only — the plain union), then bid 4 triggers the
            # reclaiming fold at upto=3 (tombstones consumed)
            apply_corpus_delete_batch(
                docs.filter(F.col("doc_id") % 7 == 0).select("doc_id"),
                2,
                state_dir=state,
                compact_every=2,
            )
            apply_dedup_batch(
                docs.filter(F.col("doc_id") % 3 == 2).select("doc_id", "text"),
                4,
                state_dir=state,
                threshold=0.5,
                compact_every=2,
            )
            final = read_published(spark, state)
            out = final.select(
                "doc_id",
                F.when(F.col("doc_id") % 3 == 0, 1)
                .when(F.col("doc_id") % 3 == 1, 2)
                .otherwise(4)
                .cast("int")
                .alias("batch"),
            ).orderBy("doc_id")
            return detach_from_state(out, state)
    finally:
        shutil.rmtree(state, ignore_errors=True)


# ---------------------------------------------------------------------------
# s26 — metadata-filtered ANN on the PERSISTED index: s09's predicate
# (top-k among same-label vectors) composed with s21's storage.  The
# stored rows carry the label (write_ivf_index meta_cols); the probe is
# partition-pruned on the probed cells AND row-group-filtered on the
# query set's label values — both predicates reach the parquet source
# (asserted in tests/test_similarity_ivf.py) — then the per-query
# restriction completes through the (cell, label) equi-join.  Run at
# nprobe = C (exhaustive) so the result equals the filtered brute
# force and the s09 oracle hash-checks it; filtered recall at
# nprobe < C is asserted in tests.
# ---------------------------------------------------------------------------
@register("s26_ivf_filtered_topk", oracle=_S09_ORACLE)
def s26_ivf_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from censo_escolar_spark.streaming import detach_from_state

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    centroids = similarity.train_centroids(emb, iters=1)
    root = tempfile.mkdtemp(prefix="s26_ivf_index_")
    try:
        similarity.write_ivf_index(emb, root, centroids, meta_cols=("label",))
        out = similarity.ivf_topk_indexed_filtered(
            spark, root, queries, centroids, match_col="label", k=5, nprobe=None
        ).orderBy("query_id", "rank")
        return detach_from_state(out, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# t40 — incrementally-maintained BM25 index: t39's retrieval against a
# STORED lexical index built by three disjoint document increments
# (streaming/lexindex.py — bucketed posting lists, additive df
# contributions, per-batch totals; compact_every=2 puts one LSM fold
# inside the loop, which re-aggregates termstats/totals).  Query terms
# are selected from the INDEX's summed term stats (identical to t39's
# corpus df because increments are disjoint and cover the corpus); the
# probe's posting scan is partition-pruned to the ≤32 query terms'
# buckets.  Final top-k ≡ the one-shot t39 — same oracle SQL.
# ---------------------------------------------------------------------------
@register("t40_bm25_incremental_index", oracle=_T39_ORACLE)
def t40_bm25_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from censo_escolar_spark.plans.fixtures import PARITY_SHUFFLE, lex_base
    from censo_escolar_spark.streaming import (
        clone_state,
        detach_from_state,
        state_shuffle,
    )
    from censo_escolar_spark.streaming.lexindex import (
        apply_lex_index_batch,
        bm25_topk_indexed,
        lex_index_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    # batches 1-2 (+ the cadence fold at 2) are the shared lex base;
    # the third ingest extends a clone (t41's delete run diverges from
    # the same base)
    state = clone_state(lex_base(spark, sf_dir), prefix="t40_lex_")
    try:
        with state_shuffle(spark, PARITY_SHUFFLE):
            apply_lex_index_batch(
                docs.filter(F.col("doc_id") % 3 == 2).select("doc_id", "text"),
                3,
                state_dir=state,
                compact_every=2,
            )
        termstats, _ = lex_index_stats(spark, state)
        qtf, _, _ = retrieval.corpus_stats(
            docs.filter(F.col("doc_id") < 4), "doc_id", "text"
        )
        qterms = retrieval.rarest_query_terms(qtf, termstats, range(4), n_terms=8)
        out = bm25_topk_indexed(spark, state, qterms, k=5).orderBy(
            "query_id", "rank"
        )
        return detach_from_state(out, state)
    finally:
        shutil.rmtree(state, ignore_errors=True)


# ---------------------------------------------------------------------------
# s27 — PERSISTED IVF-PQ index: the compressed member of the stored-
# index family (s21 raw / s22 incremental / s23 deletes / s26
# filtered).  The index table holds only (id, pq_code) partitioned by
# coarse cell — m bytes per vector — so the probe scan reads codes,
# never floats; the bounded top-rerank pool joins the embeddings table
# for the exact fold-order re-rank.  Run at nprobe = C and rerank ≥
# corpus so the pipeline equals brute force and the s01 oracle
# hash-checks it (s13's contract); pruning + recall at realistic
# (nprobe, rerank) are asserted in tests/test_pq.py.
# ---------------------------------------------------------------------------
@register("s27_ivfpq_indexed_topk", oracle=_S01_ORACLE)
def s27_ivfpq_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from censo_escolar_spark.operators import pq
    from censo_escolar_spark.streaming import detach_from_state

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    centroids = similarity.train_centroids(emb, iters=1)
    books = pq.train_pq_codebooks(emb, m=4, k=16, iters=1)
    root = tempfile.mkdtemp(prefix="s27_ivfpq_index_")
    try:
        pq.write_ivfpq_index(emb, root, centroids, books)
        out = pq.ivfpq_topk_indexed(
            spark, root, emb, queries, centroids, books,
            k=5, nprobe=None, rerank=1_000_000,
        ).orderBy("query_id", "rank")
        return detach_from_state(out, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# t41 — BM25 index deletions: t40's maintained lexical index with a
# right-to-be-forgotten batch in the middle (the s23/d22 tombstone
# discipline applied to posting lists).  Batches: ingest %3==0, ingest
# %3==1, DELETE all doc_id %7==0 (no-op for not-yet-indexed ids),
# ingest %3==2 — so a %7==0 ∧ %3==2 doc arrives AFTER its tombstone
# and stays live (batch-ordered semantics), while indexed %7==0 docs
# leave the live view; compact_every=2 puts one fold before and one
# after the delete (the post-delete fold physically reclaims and
# REBUILDS termstats/totals from survivors).  The probe recomputes df
# for the query docs' candidate terms from the LIVE pruned postings
# (stored termstats still count tombstoned docs) and N/avgdl from the
# live doclens.  Oracle: one-shot BM25 (t39's SQL) over the live set
# NOT (doc_id%7=0 AND doc_id%3<>2), with query-doc tokenization over
# the unfiltered table (queries are inputs, not corpus members) and
# rarest-term selection against the live df.
# ---------------------------------------------------------------------------
_T41_ORACLE = f"""
WITH live AS (
  SELECT doc_id, text FROM documents
  WHERE NOT (doc_id % 7 = 0 AND doc_id % 3 != 2)
),
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM live),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM live),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot_tokens FROM tok),
qtok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents WHERE doc_id < 4
),
qterms AS (
  SELECT qid, term, df FROM (
    SELECT qt.doc_id AS qid, qt.term, d.df,
      ROW_NUMBER() OVER (PARTITION BY qt.doc_id ORDER BY d.df ASC, qt.term ASC) AS r
    FROM (SELECT DISTINCT doc_id, term FROM qtok) qt
    JOIN dfreq d USING (term)
  ) WHERE r <= 8
),
consts AS (
  SELECT CAST(n.n_docs AS DOUBLE) AS nd,
    CAST(tot.tot_tokens AS DOUBLE) / CAST(n.n_docs AS DOUBLE) AS avgdl
  FROM n CROSS JOIN tot
),
scored AS (
  SELECT q.qid AS query_id, t.doc_id,
    CAST(round(
      (((c.nd - CAST(q.df AS DOUBLE) + 0.5) / (CAST(q.df AS DOUBLE) + 0.5))
        * (CAST(t.tf AS DOUBLE) * {retrieval.BM25_K1_PLUS_1!r}))
      / (CAST(t.tf AS DOUBLE)
         + ({retrieval.BM25_K1!r} * ({retrieval.BM25_ONE_MINUS_B!r}
            + ({retrieval.BM25_B!r} * (CAST(l.dl AS DOUBLE) / c.avgdl)))))
      * {retrieval.BM25_SCALE!r}) AS BIGINT) AS qscaled
  FROM qterms q
  JOIN tf t ON q.term = t.term AND t.doc_id != q.qid
  JOIN dl l ON t.doc_id = l.doc_id
  CROSS JOIN consts c
),
agg AS (
  SELECT query_id, doc_id, CAST(SUM(qscaled) AS BIGINT) AS score_scaled,
    CAST(COUNT(*) AS INTEGER) AS n_terms
  FROM scored GROUP BY query_id, doc_id
)
SELECT query_id, CAST(r AS INTEGER) AS rank, doc_id, n_terms, score_scaled,
  CAST(score_scaled AS DOUBLE) / {retrieval.BM25_SCALE!r} AS score
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score_scaled DESC, doc_id) AS r
  FROM agg
)
WHERE r <= 5
ORDER BY query_id, rank
"""


@register("t41_bm25_index_deletes", oracle=_T41_ORACLE)
def t41_bm25_index_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.plans.fixtures import lex_deletes_store
    from censo_escolar_spark.streaming import detach
    from censo_escolar_spark.streaming.lexindex import (
        bm25_topk_indexed,
        live_term_df,
    )

    docs = load_table(spark, sf_dir, "documents")
    # base (fold) + delete + reclaiming fold is the shared read-only
    # store fixture (t44's snapshot reads audit the same store); this
    # row probes its LIVE view
    state = lex_deletes_store(spark, sf_dir)
    qtf, _, _ = retrieval.corpus_stats(
        docs.filter(F.col("doc_id") < 4), "doc_id", "text"
    )
    cand_terms = [r["term"] for r in qtf.select("term").distinct().collect()]
    live_df = live_term_df(spark, state, cand_terms)
    qterms = retrieval.rarest_query_terms(qtf, live_df, range(4), n_terms=8)
    out = bm25_topk_indexed(spark, state, qterms, k=5).orderBy(
        "query_id", "rank"
    )
    return detach(out)


# ---------------------------------------------------------------------------
# d23 — maintainer COLD-RESTART parity: e40's two-incarnation pattern
# composed with the batch-store dedup maintainer, the recovery path a
# production corpus crawl exercises on every deploy/crash. Incarnation
# A drains the first two document slices through the REAL streaming
# query (maintain_deduped_corpus: file source, maxFilesPerTrigger=1,
# availableNow -> batch ids 0, 1; shared fixture
# plans/fixtures.dedup_stream_base, checkpoint + state hardlink-cloned
# here) and dies; a compaction is then staged
# EXACTLY mid-protocol (phase-1 temps + commit marker, no swap — the
# crash window of the two-phase fold, streaming/dedup.py::
# stage_published_compaction); incarnation B starts a brand-new query
# over the SAME checkpoint. Recovery must (a) finish the staged fold
# from the marker before the store is read (every batch apply begins
# with recover_batch_store), (b) restore the OFFSET LOG so the new
# incarnation processes ONLY the new slice as batch 2 (a re-read of
# slices 1-2 would double-publish every doc), and (c) keep the
# published set identical to the straight-through d19 run — so the
# oracle IS d19's declarative three-round replay. Batch-id continuity
# and new-file-only input are additionally asserted in
# tests/test_streaming_dedup.py::test_dedup_maintainer_cold_restart.
# ---------------------------------------------------------------------------
@register("d23_streaming_dedup_restart", oracle=_D19_ORACLE)
def d23_streaming_dedup_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    import posixpath
    import shutil
    import tempfile

    from censo_escolar_spark.plans.fixtures import (
        PARITY_SHUFFLE,
        dedup_stream_base,
    )
    from censo_escolar_spark.streaming import (
        deploy_slices,
        detach_from_state,
        link_tree,
        state_shuffle,
    )
    from censo_escolar_spark.streaming.dedup import (
        maintain_deduped_corpus,
        read_published,
        stage_published_compaction,
    )

    # incarnation A is the shared streamed base (real file-source query,
    # batch ids 0-1, durable checkpoint). The crash + restart below
    # mutate checkpoint and state, so both are hardlink-CLONED; the
    # stream SOURCE dir must keep its absolute path across the restart
    # (Spark re-resolves the last committed batch's file paths on
    # recovery), so incarnation B reads the fixture's own src, extended
    # with the third slice (idempotent, deterministic content).
    base, slices = dedup_stream_base(spark, sf_dir)
    src = posixpath.join(base, "src")
    schema = spark.read.parquet(posixpath.join(slices, "s00")).schema

    root = tempfile.mkdtemp(prefix="d23_restart_")
    ckpt, state = (posixpath.join(root, d) for d in ("ckpt", "state"))
    try:
        link_tree(posixpath.join(base, "ckpt"), ckpt)
        link_tree(posixpath.join(base, "state"), state)
        # crash INSIDE the compaction protocol: temps + marker, no swap
        with state_shuffle(spark, PARITY_SHUFFLE):
            stage_published_compaction(spark, state, upto=1)
            # incarnation B: recovers the fold + offsets, batch 2 = new slice
            deploy_slices(slices, src, which=(2,))
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

        final = read_published(spark, state)
        out = final.select(
            "doc_id", (F.col("doc_id") % 3 + 1).cast("int").alias("batch")
        ).orderBy("doc_id")
        return detach_from_state(out, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# t42 — learned-quality-classifier scoring: the missing curation lane.
# Modern pipelines score every document with a trained quality
# classifier (FineWeb-Edu's educational-value regressor is the
# canonical example) and cut on an integer grade; the Spark plan here
# IS that serving shape — feature extraction in codegen, one linear
# form per row, algebraic squash, zero UDFs — with fixed
# splitmix64-derived weights standing in for the trained ones so the
# oracle replays the exact doubles (functions/text.py::learned_quality
# documents the float discipline: one IEEE division per feature, fixed
# left-to-right linear chain, s/(1+|s|) instead of the non-portable
# exp()). grade = floor((score+1)*2.5) in 0..4; keep-filters cut on
# grade >= 3.
# ---------------------------------------------------------------------------
_T42_FEATURES = """
    f AS (
      SELECT doc_id, lang,
        CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
          / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mwl,
        CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          / CAST(len(string_split(text, ' ')) AS DOUBLE) AS uniq_ratio,
        CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
             ['the','a','of','and','to','in','is','it','on','for'])) AS DOUBLE)
          / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
        CASE WHEN length(text) > 0 THEN
          CAST(length(text)
               - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
            / CAST(length(text) AS DOUBLE)
        ELSE CAST(0.0 AS DOUBLE) END AS digit_ratio
      FROM documents
    ),
    lin AS (
      SELECT *, CAST('0.129' AS DOUBLE)
        + CAST('-0.184' AS DOUBLE) * mwl
        + CAST('0.635' AS DOUBLE) * uniq_ratio
        + CAST('0.318' AS DOUBLE) * stop_ratio
        + CAST('-0.844' AS DOUBLE) * digit_ratio AS s
      FROM f
    ),
    scored AS (
      SELECT doc_id, lang, mwl, uniq_ratio, stop_ratio, digit_ratio,
        s / (CAST(1.0 AS DOUBLE) + abs(s)) AS score
      FROM lin
    ),
    graded AS (
      SELECT *, CAST(floor((score + CAST(1.0 AS DOUBLE))
                           * CAST(2.5 AS DOUBLE)) AS INTEGER) AS grade
      FROM scored
    )
"""


@register(
    "t42_learned_quality_score",
    oracle="WITH " + _T42_FEATURES + """
    SELECT doc_id, lang, mwl, uniq_ratio, stop_ratio, digit_ratio,
      score, grade
    FROM graded
    ORDER BY doc_id
    """,
)
def t42_learned_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    q = T.learned_quality("text")
    return docs.select(
        "doc_id",
        "lang",
        q["mwl"].alias("mwl"),
        q["uniq_ratio"].alias("uniq_ratio"),
        q["stop_ratio"].alias("stop_ratio"),
        q["digit_ratio"].alias("digit_ratio"),
        q["score"].alias("score"),
        q["grade"].alias("grade"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# t43 — incrementally-maintained quality-score stats: t42's classifier
# run as a stream maintainer (streaming/stats.py::apply_quality_batch,
# the ACCUMULATION state shape on the versioned bucket store). The
# documents corpus arrives as three micro-batches (doc_id % 3); each
# batch scores ITS OWN rows once (per-row, bit-deterministic) and folds
# BIGINT-quantized sums additively into the per-(lang, grade) state —
# so the final snapshot equals the one-shot recompute bit-for-bit, and
# the oracle is simply t42's scoring aggregated corpus-wide.
# compact_every=2 puts one state fold inside the run. mean_score is
# derived read-side: (score_q / 1e9) / n_docs, fixed division order in
# both engines.
# ---------------------------------------------------------------------------
@register(
    "t43_quality_stats_maintained",
    oracle="WITH " + _T42_FEATURES + """,
    q AS (
      SELECT lang, grade,
        CAST(round(score * CAST(1000000000 AS DOUBLE)) AS BIGINT) AS sq
      FROM graded
    )
    SELECT lang, grade,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(sq) AS BIGINT) AS score_q,
      (CAST(CAST(SUM(sq) AS BIGINT) AS DOUBLE)
         / CAST(1000000000 AS DOUBLE))
        / CAST(CAST(COUNT(*) AS BIGINT) AS DOUBLE) AS mean_score
    FROM q
    GROUP BY lang, grade
    ORDER BY lang, grade
    """,
)
def t43_quality_stats_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from censo_escolar_spark.streaming import detach_from_state
    from censo_escolar_spark.streaming.stats import (
        apply_quality_batch,
        read_quality_state,
    )

    from censo_escolar_spark.plans.fixtures import PARITY_SHUFFLE
    from censo_escolar_spark.streaming import state_shuffle

    docs = load_table(spark, sf_dir, "documents")
    state = tempfile.mkdtemp(prefix="t43_quality_state_")
    try:
        with state_shuffle(spark, PARITY_SHUFFLE):
            for bid in (1, 2, 3):
                apply_quality_batch(
                    docs.filter(F.col("doc_id") % 3 == bid - 1).select(
                        "lang", "text"
                    ),
                    bid,
                    state_dir=state,
                    compact_every=2,
                )
        snap = read_quality_state(spark, state)
        out = snap.select(
            "lang",
            "grade",
            "n_docs",
            "score_q",
            (
                (F.col("score_q").cast("double") / F.lit(1e9))
                / F.col("n_docs").cast("double")
            ).alias("mean_score"),
        ).orderBy("lang", "grade")
        return detach_from_state(out, state)
    finally:
        shutil.rmtree(state, ignore_errors=True)


# ---------------------------------------------------------------------------
# s28 — metadata-filtered ANN over the INCREMENTAL index with deletes
# in the loop: s26's tenant/label predicate composed with s22/s23's
# growing tombstone-aware store — the query shape a live multi-tenant
# vector service actually runs, which previously fell back to an
# unfiltered probe + post-filter. Insert batches carry the label as a
# stored meta column (meta-aware fold: a compaction of a meta store
# must fold with the meta schema or it would silently drop the label);
# batch 3 tombstones every %5==0 id (no-ops for not-yet-inserted ids,
# whose batch-4 insert stays live); batch 4 triggers the in-loop LSM
# fold. Probe at nprobe=None so the result equals the filtered brute
# force over the LIVE set — the s23 live-set oracle with the s09 label
# equi-join. Filtered recall at nprobe < C and the pruned+pushed scan
# are asserted in tests/test_similarity_ivf.py.
# ---------------------------------------------------------------------------
@register(
    "s28_ivf_incremental_filtered",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    live AS (
      SELECT * FROM e WHERE NOT (vec_id % 5 = 0 AND vec_id % 3 != 2)
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
        list_dot_product(q.v, c.v) /
          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
      FROM e q JOIN live c
        ON q.vec_id != c.vec_id AND q.label = c.label
      WHERE q.vec_id < 8
    )
    SELECT query_id, neighbor_id, label, cos, CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 5
    ORDER BY query_id, rank
    """,
)
def s28_ivf_incremental_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.plans.fixtures import ivf_deletes_store
    from censo_escolar_spark.streaming import detach
    from censo_escolar_spark.streaming.ivfindex import (
        ivf_topk_incremental_filtered,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    # the shared tombstone-aware meta store (built with label meta and
    # the in-loop meta-aware fold — see plans/fixtures.ivf_deletes_store);
    # this row runs the label-filtered probe against its LIVE view
    root, centroids = ivf_deletes_store(spark, sf_dir)
    out = ivf_topk_incremental_filtered(
        spark, root, queries, centroids, match_col="label", k=5, nprobe=None
    ).orderBy("query_id", "rank")
    return detach(out)


# ---------------------------------------------------------------------------
# s29 — SNAPSHOT (time-travel) reads of the maintained IVF index: the
# audit query a live vector service runs ("what did retrieval serve
# BEFORE today's ingest?"). The batch store is naturally versioned —
# every component partition is keyed by the batch id that committed it
# — so a probe with a `below` horizon resolves the index exactly as it
# stood after batch `below - 1`, with the SAME pruned-scan probe plan.
# Horizon validity is bounded by compaction (the LSM trade: a fold
# collapses history at-or-below its `upto` into one partition, so only
# horizons AT-OR-ABOVE the last fold remain resolvable — here the
# batch-4 fold has upto=3, and the audited horizon is 4). Probe A
# (below=4) must see inserts 1-2 minus the batch-3 tombstones, fold
# notwithstanding; probe B (live) additionally sees batch-4 inserts,
# including re-inserts of tombstoned ids. Both exhaustive, so each
# equals brute force over its snapshot's live set.
# ---------------------------------------------------------------------------
@register(
    "s29_ivf_snapshot_read",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    snap_a AS (
      SELECT * FROM e WHERE vec_id % 3 != 2 AND vec_id % 5 != 0
    ),
    snap_b AS (
      SELECT * FROM e WHERE NOT (vec_id % 5 = 0 AND vec_id % 3 != 2)
    ),
    scored AS (
      SELECT 1 AS snapshot, q.vec_id AS query_id, c.vec_id AS neighbor_id,
        list_dot_product(q.v, c.v) /
          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
      FROM e q JOIN snap_a c ON q.vec_id != c.vec_id
      WHERE q.vec_id < 8
      UNION ALL
      SELECT 2, q.vec_id, c.vec_id,
        list_dot_product(q.v, c.v) /
          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
      FROM e q JOIN snap_b c ON q.vec_id != c.vec_id
      WHERE q.vec_id < 8
    )
    SELECT CAST(snapshot AS INTEGER) AS snapshot,
      query_id, neighbor_id, cos, CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY snapshot, query_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 5
    ORDER BY snapshot, query_id, rank
    """,
)
def s29_ivf_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.plans.fixtures import ivf_deletes_store
    from censo_escolar_spark.streaming import detach
    from censo_escolar_spark.streaming.ivfindex import ivf_topk_incremental

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    # the shared tombstone-aware store whose batch-4 ingest triggered
    # the fold at upto=3: history below the audited horizon collapsed
    # INTO batch=3, which the below=4 read must still resolve
    root, centroids = ivf_deletes_store(spark, sf_dir)

    def probe(snap: int, below) -> DataFrame:
        return ivf_topk_incremental(
            spark, root, queries, centroids, k=5, nprobe=None, below=below
        ).select(F.lit(snap).cast("int").alias("snapshot"), "*")

    out = (
        probe(1, 4)
        .unionByName(probe(2, None))
        .orderBy("snapshot", "query_id", "rank")
    )
    return detach(out)


# ---------------------------------------------------------------------------
# d24 — classifier-GATED curated ingest: the two curation lanes
# composed the way a production pipeline actually runs them — the
# learned-quality classifier (t42) gates what enters the dedup
# maintainer (d19), so low-grade documents never cost shingling,
# sketching, or index writes. Engine side is one codegen filter
# (grade >= 2, ~17% of the corpus kept) in front of the unchanged
# maintainer; the oracle prepends t42's bit-exact grading chain as a
# qdocs CTE and replays d19's three-round dedup over it (every FROM
# documents in the d19 chain rebound to qdocs). The gate boundary is
# exact: grade is an integer computed from bit-identical scores in
# both engines, so threshold membership can never straddle.
# ---------------------------------------------------------------------------
_D24_QDOCS = """
  q_f AS (
    SELECT doc_id, text,
      CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mwl,
      CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        / CAST(len(string_split(text, ' ')) AS DOUBLE) AS uniq_ratio,
      CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
           ['the','a','of','and','to','in','is','it','on','for'])) AS DOUBLE)
        / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
      CASE WHEN length(text) > 0 THEN
        CAST(length(text)
             - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
          / CAST(length(text) AS DOUBLE)
      ELSE CAST(0.0 AS DOUBLE) END AS digit_ratio
    FROM documents
  ),
  q_lin AS (
    SELECT doc_id, text, CAST('0.129' AS DOUBLE)
      + CAST('-0.184' AS DOUBLE) * mwl
      + CAST('0.635' AS DOUBLE) * uniq_ratio
      + CAST('0.318' AS DOUBLE) * stop_ratio
      + CAST('-0.844' AS DOUBLE) * digit_ratio AS s
    FROM q_f
  ),
  qdocs AS MATERIALIZED (
    SELECT doc_id, text FROM q_lin
    WHERE CAST(floor((s / (CAST(1.0 AS DOUBLE) + abs(s))
                      + CAST(1.0 AS DOUBLE))
                     * CAST(2.5 AS DOUBLE)) AS INTEGER) >= 2
  )
"""

_D24_ORACLE = (
    "WITH RECURSIVE "
    + _D24_QDOCS
    + ",\n  "
    + _D19_ORACLE.replace("FROM documents", "FROM qdocs").replace(
        "WITH RECURSIVE ", "", 1
    )
)


@register("d24_curated_ingest", oracle=_D24_ORACLE)
def d24_curated_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from censo_escolar_spark.plans.fixtures import (
        PARITY_SHUFFLE,
        curated_dedup_base,
    )
    from censo_escolar_spark.streaming import (
        clone_state,
        detach_from_state,
        state_shuffle,
    )
    from censo_escolar_spark.streaming.dedup import (
        apply_dedup_batch,
        read_published,
    )

    docs = load_table(spark, sf_dir, "documents")
    # batches 1-2 of the GATED store come from the shared family base;
    # the classifier gate + third increment + published read run live
    # on a private clone (the gate is one codegen filter — cheap to
    # re-apply to the third slice here)
    kept = docs.filter(T.learned_quality("text")["grade"] >= 2).select(
        "doc_id", "text"
    )
    state = clone_state(
        curated_dedup_base(spark, sf_dir), prefix="d24_curated_state_"
    )
    try:
        with state_shuffle(spark, PARITY_SHUFFLE):
            apply_dedup_batch(
                kept.filter(F.col("doc_id") % 3 == 2),
                3,
                state_dir=state,
                threshold=0.5,
            )
            final = read_published(spark, state)
            out = final.select(
                "doc_id", (F.col("doc_id") % 3 + 1).cast("int").alias("batch")
            ).orderBy("doc_id")
            return detach_from_state(out, state)
    finally:
        shutil.rmtree(state, ignore_errors=True)


# ---------------------------------------------------------------------------
# s30 — INCREMENTAL IVF-PQ: the compressed codes index (s27's m-bytes-
# per-vector layout) under the maintained-store discipline (s22/s23's
# batch=/cell= partitions, arrival-ordered tombstones, delete-aware
# in-loop fold). Coarse quantizer AND codebooks are trained on the
# first increment and FROZEN — re-training per batch would silently
# change the meaning of every stored code; at 100 TB the growing index
# is exactly the one you want compressed. Batches: insert %3==0,
# insert %3==1, DELETE %5==0 (no-op for not-yet-coded ids), insert
# %3==2 (triggers the reclaiming fold at upto=3). Probe exhaustive
# (nprobe=None, rerank >= corpus) so the ADC + exact-re-rank pipeline
# must equal brute force over the LIVE set — s23's oracle verbatim.
# Recall at realistic (nprobe, rerank) and code equality with the
# one-shot store are asserted in tests/test_pq.py.
# ---------------------------------------------------------------------------
@register("s30_ivfpq_incremental", oracle=_S23_LIVE_ORACLE)
def s30_ivfpq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from censo_escolar_spark.plans.fixtures import PARITY_SHUFFLE, ivfpq_base
    from censo_escolar_spark.streaming import (
        clone_state,
        detach_from_state,
        state_shuffle,
    )
    from censo_escolar_spark.streaming.ivfindex import (
        apply_ivfpq_delete_batch,
        apply_ivfpq_index_batch,
        ivfpq_topk_incremental,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    # batches 1-2 (and the frozen quantizer/codebooks) come from the
    # shared family base — the d19/s23 fixture discipline; the delete,
    # the fold-triggering insert, and the probe still run live here on
    # a private clone, so the row's divergence steps are unchanged
    base, (centroids, books) = ivfpq_base(spark, sf_dir)
    root = clone_state(base, prefix="s30_ivfpq_state_")
    try:
        with state_shuffle(spark, PARITY_SHUFFLE):
            ins = dict(
                state_dir=root,
                centroids=centroids,
                codebooks=books,
                compact_every=2,
            )
            apply_ivfpq_delete_batch(
                emb.filter(F.col("vec_id") % 5 == 0).select("vec_id"),
                3,
                state_dir=root,
                compact_every=2,
            )
            # batch 4 triggers the in-loop fold (upto=3): tombstoned
            # codes physically reclaimed, consumed tombstones dropped
            apply_ivfpq_index_batch(emb.filter(F.col("vec_id") % 3 == 2), 4, **ins)
        live = emb.filter(
            ~((F.col("vec_id") % 5 == 0) & (F.col("vec_id") % 3 != 2))
        )
        out = ivfpq_topk_incremental(
            spark, root, queries, live, centroids, books,
            k=5, nprobe=None, rerank=1_000_000,
        ).orderBy("query_id", "rank")
        return detach_from_state(out, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# t44 — SNAPSHOT (time-travel) reads of the maintained BM25 index: s29's
# audit query on the LEXICAL store ("what did ranked retrieval serve
# BEFORE today's ingest?"). The t41 store's history below the audited
# horizon collapsed INTO batch=3 at the batch-4 fold (upto=3), so a
# below=4 probe resolves the post-delete, pre-batch-4 index — with the
# fold-REBUILT termstats/totals (the delete-aware fold recomputed them
# from survivors, so the snapshot's N/avgdl/df are the post-forget
# stats, not the stale pre-delete ones). Probe A (below=4): live set =
# ingests 1-2 minus the %7 tombstones; probe B (live): plus batch-4
# docs, including re-ingests of tombstoned ids. Query-term selection
# (rarest-8 by df) runs against EACH snapshot's own live df — the same
# query document can legitimately probe different terms in the two
# eras. Oracle: t39's BM25 SQL instantiated per snapshot's live set,
# unioned under a snapshot column.
# ---------------------------------------------------------------------------
def _t44_snapshot_block(p: str, live_where: str) -> str:
    """One snapshot's BM25 CTE chain (t41's oracle, prefixed)."""
    return f"""
{p}live AS (SELECT doc_id, text FROM documents WHERE {live_where}),
{p}tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {p}live),
{p}tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
          FROM {p}tok GROUP BY doc_id, term),
{p}dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
          FROM {p}tf GROUP BY doc_id),
{p}dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
             FROM {p}tf GROUP BY term),
{p}n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM {p}live),
{p}tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot_tokens FROM {p}tok),
{p}qterms AS (
  SELECT qid, term, df FROM (
    SELECT qt.doc_id AS qid, qt.term, d.df,
      ROW_NUMBER() OVER (PARTITION BY qt.doc_id
                         ORDER BY d.df ASC, qt.term ASC) AS r
    FROM (SELECT DISTINCT doc_id, term FROM qtok) qt
    JOIN {p}dfreq d USING (term)
  ) WHERE r <= 8
),
{p}consts AS (
  SELECT CAST(n.n_docs AS DOUBLE) AS nd,
    CAST(tot.tot_tokens AS DOUBLE) / CAST(n.n_docs AS DOUBLE) AS avgdl
  FROM {p}n n CROSS JOIN {p}tot tot
),
{p}scored AS (
  SELECT q.qid AS query_id, t.doc_id,
    CAST(round(
      (((c.nd - CAST(q.df AS DOUBLE) + 0.5) / (CAST(q.df AS DOUBLE) + 0.5))
        * (CAST(t.tf AS DOUBLE) * {retrieval.BM25_K1_PLUS_1!r}))
      / (CAST(t.tf AS DOUBLE)
         + ({retrieval.BM25_K1!r} * ({retrieval.BM25_ONE_MINUS_B!r}
            + ({retrieval.BM25_B!r} * (CAST(l.dl AS DOUBLE) / c.avgdl)))))
      * {retrieval.BM25_SCALE!r}) AS BIGINT) AS qscaled
  FROM {p}qterms q
  JOIN {p}tf t ON q.term = t.term AND t.doc_id != q.qid
  JOIN {p}dl l ON t.doc_id = l.doc_id
  CROSS JOIN {p}consts c
),
{p}agg AS (
  SELECT query_id, doc_id, CAST(SUM(qscaled) AS BIGINT) AS score_scaled,
    CAST(COUNT(*) AS INTEGER) AS n_terms
  FROM {p}scored GROUP BY query_id, doc_id
),
{p}top AS (
  SELECT query_id, CAST(r AS INTEGER) AS rank, doc_id, n_terms,
    score_scaled,
    CAST(score_scaled AS DOUBLE) / {retrieval.BM25_SCALE!r} AS score
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY score_scaled DESC, doc_id) AS r
    FROM {p}agg
  )
  WHERE r <= 5
)"""


_T44_ORACLE = (
    """
WITH qtok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents WHERE doc_id < 4
),"""
    + _t44_snapshot_block("a_", "doc_id % 3 != 2 AND doc_id % 7 != 0")
    + ","
    + _t44_snapshot_block("b_", "NOT (doc_id % 7 = 0 AND doc_id % 3 != 2)")
    + """
SELECT * FROM (
  SELECT CAST(1 AS INTEGER) AS snapshot, * FROM a_top
  UNION ALL
  SELECT CAST(2 AS INTEGER) AS snapshot, * FROM b_top
)
ORDER BY snapshot, query_id, rank
"""
)


@register("t44_bm25_snapshot_read", oracle=_T44_ORACLE)
def t44_bm25_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.plans.fixtures import lex_deletes_store
    from censo_escolar_spark.streaming import detach
    from censo_escolar_spark.streaming.lexindex import (
        bm25_topk_indexed,
        live_term_df,
    )

    docs = load_table(spark, sf_dir, "documents")
    # the shared t41 store: ingests 1-2 (fold at 2), delete 3, ingest 4
    # (reclaiming fold at upto=3 — the audited horizon's floor)
    state = lex_deletes_store(spark, sf_dir)
    qtf, _, _ = retrieval.corpus_stats(
        docs.filter(F.col("doc_id") < 4), "doc_id", "text"
    )
    cand_terms = [r["term"] for r in qtf.select("term").distinct().collect()]

    def probe(snap: int, below) -> DataFrame:
        df_live = live_term_df(spark, state, cand_terms, below=below)
        qterms = retrieval.rarest_query_terms(qtf, df_live, range(4), n_terms=8)
        return bm25_topk_indexed(spark, state, qterms, k=5, below=below).select(
            F.lit(snap).cast("int").alias("snapshot"), "*"
        )

    out = (
        probe(1, 4)
        .unionByName(probe(2, None))
        .orderBy("snapshot", "query_id", "rank")
    )
    return detach(out)


# ---------------------------------------------------------------------------
# s31 — SCHEMA EVOLUTION on the live IVF store: the reference's
# null-padding drift semantics (sources/readers.read_parquet_evolving,
# the censo year-over-year column story) applied to the engine's OWN
# state. The store is built WITHOUT metadata (batches 1-2, plain
# (id, v, cell) files — including a fold at batch 2 that rewrites
# history in the old schema), then gains a label column mid-stream
# (batches 3-4 written with meta_cols): a meta-aware read over the
# mixed-era store must NULL-fill the pre-evolution files (explicit-
# schema parquet reads resolve missing columns as NULL), and the
# batch-4 meta-aware fold must rewrite BOTH eras under the evolved
# schema without dropping the label or inventing one for old rows.
# Probe 1 (meta-blind, exhaustive) must equal brute force over ALL
# rows — evolution can't lose pre-era vectors; probe 2 (label-filtered)
# retrieves only among the labeled era (NULL labels never equi-join —
# the documented drop semantics). Era membership is vec_id % 3 == 2 by
# construction, which is how the oracle models the label boundary.
# The mixed-era fold is additionally unit-tested in
# tests/test_similarity_ivf.py.
# ---------------------------------------------------------------------------
@register(
    "s31_ivf_schema_evolution",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT 1 AS probe, q.vec_id AS query_id, c.vec_id AS neighbor_id,
        CAST(NULL AS INTEGER) AS label,
        list_dot_product(q.v, c.v) /
          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
      FROM e q JOIN e c ON q.vec_id != c.vec_id
      WHERE q.vec_id < 8
      UNION ALL
      SELECT 2, q.vec_id, c.vec_id, c.label,
        list_dot_product(q.v, c.v) /
          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
      FROM e q JOIN e c
        ON q.vec_id != c.vec_id AND q.label = c.label AND c.vec_id % 3 = 2
      WHERE q.vec_id < 8
    )
    SELECT CAST(probe AS INTEGER) AS probe, query_id, neighbor_id, label,
      cos, CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY probe, query_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 5
    ORDER BY probe, query_id, rank
    """,
)
def s31_ivf_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from censo_escolar_spark.plans.fixtures import PARITY_SHUFFLE, ivf_plain_base
    from censo_escolar_spark.streaming import (
        clone_state,
        detach_from_state,
        state_shuffle,
    )
    from censo_escolar_spark.streaming.ivfindex import (
        apply_ivf_index_batch,
        ivf_topk_incremental,
        ivf_topk_incremental_filtered,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    # the PRE-EVOLUTION era (plain batches 1-2, fold at 2) comes from
    # the shared family base; the mid-stream schema evolution — the
    # thing this row proves — still runs live on a private clone
    base, centroids = ivf_plain_base(spark, sf_dir)
    root = clone_state(base, prefix="s31_ivf_state_")
    try:
        with state_shuffle(spark, PARITY_SHUFFLE):
            # evolution: later batches carry the label; the batch-4 fold
            # (upto=3) rewrites BOTH eras under the evolved schema
            evolved = dict(
                state_dir=root,
                centroids=centroids,
                meta_cols=("label",),
                compact_every=2,
            )
            third = emb.filter(F.col("vec_id") % 3 == 2)
            apply_ivf_index_batch(third.filter(F.col("vec_id") % 2 == 0), 3, **evolved)
            apply_ivf_index_batch(third.filter(F.col("vec_id") % 2 == 1), 4, **evolved)

        blind = ivf_topk_incremental(
            spark, root, queries, centroids, k=5, nprobe=None
        ).select(
            F.lit(1).cast("int").alias("probe"),
            "query_id",
            "neighbor_id",
            F.lit(None).cast("int").alias("label"),
            "cos",
            "rank",
        )
        filtered = ivf_topk_incremental_filtered(
            spark, root, queries, centroids, match_col="label", k=5, nprobe=None
        ).select(
            F.lit(2).cast("int").alias("probe"),
            "query_id",
            "neighbor_id",
            "label",
            "cos",
            "rank",
        )
        out = blind.unionByName(filtered).orderBy("probe", "query_id", "rank")
        return detach_from_state(out, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# d25 — SNAPSHOT (time-travel) reads of the maintained dedup corpus:
# the audit query s29/t44 gave the vector and lexical stores, applied
# to the fourth store (the text-dedup corpus) — "what was published
# BEFORE today's crawl batch?". The batch store is naturally versioned
# (every component partition keyed by the committing batch id), so
# `read_published(below=…)` resolves the corpus exactly as it stood
# after the prior batch, and the LIVE read sees everything. Probes run
# against the SHARED d19 store fixture read-only: snapshot A (below=2)
# = the two streamed increments' published set (the oracle's k0 ∪ k1
# rounds); snapshot B (live) = the full three-round replay. Increments
# never retroactively delete published docs, so A ⊆ B by construction
# — the oracle proves the horizon slices arrival history, not set
# membership.
# ---------------------------------------------------------------------------
_D25_ORACLE = (
    _D19_ORACLE.rsplit("SELECT doc_id, CAST(doc_id % 3 + 1 AS INTEGER) AS batch", 1)[0]
    + """
SELECT CAST(snapshot AS INTEGER) AS snapshot, doc_id,
  CAST(doc_id % 3 + 1 AS INTEGER) AS batch
FROM (
  SELECT 1 AS snapshot, doc_id FROM k0
  UNION ALL SELECT 1, doc_id FROM k1
  UNION ALL SELECT 2, doc_id FROM k0
  UNION ALL SELECT 2, doc_id FROM k1
  UNION ALL SELECT 2, doc_id FROM k2
)
ORDER BY snapshot, doc_id
"""
)


@register("d25_dedup_snapshot_read", oracle=_D25_ORACLE)
def d25_dedup_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.plans.fixtures import dedup_full_store
    from censo_escolar_spark.streaming import detach
    from censo_escolar_spark.streaming.dedup import read_published

    store = dedup_full_store(spark, sf_dir)

    def probe(snap: int, below) -> DataFrame:
        return read_published(spark, store, below=below).select(
            F.lit(snap).cast("int").alias("snapshot"),
            "doc_id",
            (F.col("doc_id") % 3 + 1).cast("int").alias("batch"),
        )

    out = probe(1, 2).unionByName(probe(2, None)).orderBy("snapshot", "doc_id")
    return detach(out)
