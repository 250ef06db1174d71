"""Similarity search over embedding columns.

Reference parity: exact kNN with squared-L2 + threshold rejection is
the retrieval core at `rag_chatbot/main.py:26-47` (R16/R17/R18 in
SURVEY.md §2A): FAISS IndexFlatL2 → brute-force scan; threshold is a
strict ``>`` on the *squared* distance (`rag_chatbot/main.py:42`),
with distance exactly at the threshold accepted.

Spark-first design:
- the corpus stays distributed; the (small) query side broadcasts —
  the reference's whole-corpus-in-RAM constraint disappears;
- exact L2 kNN (vectorized.knn_l2_np) scans each corpus partition
  once, keeps a per-partition top-k, and merges the ≤ queries ×
  partitions × k candidates on the driver: no shuffle, no window,
  and the answer rides along as a payload instead of a join-back;
- cosine top-k and the approximate paths reuse that scan-and-merge
  (vectorized.cosine_topk_np; IVF: ivf_assign_np tags each vector
  with its nearest deterministic centroid once, ivf_search_cosine_np
  ranks only the ``nprobe`` nearest cells per query; LSH:
  rp_lsh_ann, for when no trained centroids exist).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import local_frame


def queries_df(spark: SparkSession, vectors: list[list[float]], id_start: int = 0) -> DataFrame:
    """Small query-side DataFrame [qid, qvec] from literal vectors (a
    local relation: collecting it runs no job)."""
    rows = [(i + id_start, [float(x) for x in v]) for i, v in enumerate(vectors)]
    return local_frame(spark, [("qid", "BIGINT"), ("qvec", "ARRAY<DOUBLE>")], rows)


def knn_l2_with_threshold(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float,
    sentinel: str,
    answer_col: str,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """R17+R18: 1-NN with rejection — strictly-greater-than on the
    squared distance rejects (distance == threshold is ACCEPTED,
    preserving `rag_chatbot/main.py:42`).

    Output: [qid, <corpus_id>, dist, accepted, answer] — a local
    relation. The answer (the reference's positional lookup, R19)
    rides through the numpy kernel as its payload; a rejected row
    gets the sentinel, an accepted NULL answer stays NULL. The corpus
    is scanned as it is partitioned (knn_l2_np): spread the index
    once where it is built, not per query.
    """
    from ai_data_pipeline_spark.operators.vectorized import knn_l2_np

    nn = knn_l2_np(corpus, queries, 1, corpus_id, corpus_vec, payload=answer_col)
    return nn.select(
        "qid",
        corpus_id,
        "dist",
        (F.col("dist") <= F.lit(threshold)).alias("accepted"),
        F.when(F.col("dist") > F.lit(threshold), F.lit(sentinel))
        .otherwise(F.col(answer_col))
        .alias("answer"),
    )
