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
- approximate path = IVF with deterministic centroids: assign each
  corpus vector to its nearest centroid once (a narrow column),
  partition by centroid, probe only ``nprobe`` cells per query.
  This is the textbook inverted-file ANN re-expressed relationally;
  LSH bucketing (MinHashLSH/BRP-LSH in MLlib) is the alternative
  when no trained centroids exist.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import local_frame
from ai_data_pipeline_spark.functions.vector import array_lit, cosine, dot, norm, squared_l2


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
    dim: int | None = None,
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


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Brute-force cosine top-k (descending similarity).

    Norms are precomputed per side (array folds are interpreted, not
    codegen'd — never recompute them per pair), and the corpus is
    spread across cores before the broadcast join so a single-file
    corpus doesn't serialize the scan.
    """
    n = corpus.sparkSession.sparkContext.defaultParallelism
    c = corpus.repartition(n).withColumn("_cn", norm(corpus_vec, dim))
    q = queries.withColumn("_qn", norm("qvec", dim))
    d = F.col("_cn") * F.col("_qn")
    joined = c.crossJoin(F.broadcast(q)).withColumn(
        "sim", F.when(d != 0, dot(corpus_vec, "qvec", dim) / d)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc(corpus_id))
    return (
        joined.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("qid", corpus_id, "sim", "rk")
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: list[list[float]],
    corpus_vec: str = "embedding",
    dim: int | None = None,
    keep_dist: bool = False,
) -> DataFrame:
    """Assign each vector to its nearest centroid (the IVF 'index
    build'). Adds a ``cell`` column (and, with ``keep_dist``, the
    squared-L2 ``dist`` to that centroid — the occupancy/balance
    diagnostic); at scale, write the result partitioned/bucketed by
    cell so probes prune files.

    Each centroid distance is materialized as its own column BEFORE
    the least() chain: inlining K full distance expressions into a
    nested least(struct(...)) tree explodes the generated code past
    JIT limits and Spark silently falls back to interpretation
    (measured 5× slowdown at K=8, d=64).
    """
    with_d = corpus
    for ci, cv in enumerate(centroids):
        with_d = with_d.withColumn(f"_d{ci}", squared_l2(corpus_vec, array_lit(cv), dim))
    best = None
    for ci in range(len(centroids)):
        cell = F.struct(F.col(f"_d{ci}").alias("d"), F.lit(ci).alias("c"))
        best = cell if best is None else F.least(best, cell)
    out = with_d.withColumn("cell", best["c"].cast("int"))
    if keep_dist:
        out = out.withColumn("dist", best["d"])
    return out.drop(*[f"_d{ci}" for ci in range(len(centroids))])


def ivf_search_cosine(
    corpus_with_cells: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int,
    nprobe: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Probe the ``nprobe`` nearest cells per query, then exact
    cosine top-k within the probed subset. Scale path: the join on
    ``cell`` prunes the corpus scan to nprobe/n_cells of the data
    (partition pruning if the corpus is written partitioned by cell).
    """
    # nearest cells per query (tiny: n_queries × n_centroids)
    cells = None
    rows = []
    for ci, cv in enumerate(centroids):
        rows.append((ci, [float(x) for x in cv]))
    spark = corpus_with_cells.sparkSession
    cent_df = spark.createDataFrame(rows, "cell INT, cvec ARRAY<DOUBLE>")
    qcells = (
        queries.crossJoin(F.broadcast(cent_df))
        .withColumn("cd", squared_l2("qvec", "cvec", dim))
        .withColumn(
            "crk",
            F.row_number().over(Window.partitionBy("qid").orderBy(F.asc("cd"), F.asc("cell"))),
        )
        .filter(F.col("crk") <= nprobe)
        .select("qid", "qvec", "cell")
    )
    d = F.col("_cn") * F.col("_qn")
    joined = (
        corpus_with_cells.withColumn("_cn", norm(corpus_vec, dim))
        .join(F.broadcast(qcells.withColumn("_qn", norm("qvec", dim))), "cell")
        .withColumn("sim", F.when(d != 0, dot(corpus_vec, "qvec", dim) / d))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc(corpus_id))
    return (
        joined.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("qid", corpus_id, "sim", "rk")
    )
