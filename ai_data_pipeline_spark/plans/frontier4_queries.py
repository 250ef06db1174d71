"""Frontier queries, fourth batch (round 12): storage-lifecycle
OPTIMIZE (compaction), the full-build inverted index, the
retrieval-quality release gate, and the per-mechanism dedup
precision audit.

Reference parity: the reference (``/root/reference/app/main.py``,
``rag_chatbot/main.py``) has no storage lifecycle at all — its JSONL
sink appends forever (``app/main.py:99``) and its FAISS index is
rebuilt from scratch on every service start
(``rag_chatbot/main.py:26-28``). These rows grade what a production
deployment of the same pipeline needs at 100 TB: the store that the
append discipline (q294/q299) fragments must be compacted without
changing a single answer, the inverted index must be BUILT at full
cost once and then serve many queries from partition-pruned reads,
an index swap must be gated on measured retrieval quality, and each
near-dup mechanism's precision must be measured against exact truth
(q219 measures recall; this is the other half).

Float/oracle policy: plans/relational.py header. All graded numbers
here are exact BIGINT counts, file counts, rank positions, or single
IEEE divisions of two exact BIGINTs (< 2^53) per the repo rule.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table, spread

QUERIES: dict = {}
ORACLE: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Q300 — vector-store COMPACTION (the OPTIMIZE half of q299's
# append discipline — r11 verdict queue #2): three append
# generations land in the cell-partitioned store exactly as q299's
# daily ingest would (each generation `repartition("cell")` before
# the partitioned write, so it adds ONE file per cell it touches —
# the q250 rule), leaving every cell with ~3 small files; months of
# that is the tiny-file cliff the q250 probe measured at 6.2×.
# Compaction rewrites the store ONE FILE PER CELL into a NEW
# snapshot directory (write-new-then-swap-the-pointer — the
# production pattern; it also sidesteps the
# lineage-over-overwritten-path hazard q293/q297 have to
# localCheckpoint around), sorted by vec_id within each cell so
# parquet row-group stats are tight. Graded claims: (a) the
# compacted store is CONTENT-INVARIANT — the q27 top-3 cosine
# search over the compacted store is value-identical to searching
# the raw embeddings table (the oracle never builds a store at
# all); (b) the FILE-COUNT audit — files before = Σ over
# generations of cells that generation touched, files after =
# number of non-empty cells — both read back from the stores
# themselves via input_file_name(), never from a driver directory
# listing. Generation split: the 40-bit md5 uniform of vec_id
# (q228's idiom — never `id mod k`, which is degenerate against
# source round-robin). Scale: compaction is one shuffle of the
# store keyed by cell (the partition column — no skew beyond cell
# geometry) and reads/writes each byte once; the audit is a
# metadata-cardinality aggregate.
# ---------------------------------------------------------------------------

_Q300_GENS = 3


def q300_vector_store_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ai_data_pipeline_spark.functions.vector import cosine
    from ai_data_pipeline_spark.operators import similarity
    from ai_data_pipeline_spark.operators.vectorized import ivf_assign_np
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS, Q28_CENTROIDS

    emb = _t(spark, sf_dir, "embeddings")
    u40 = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    corpus = ivf_assign_np(emb, Q28_CENTROIDS).select(
        "vec_id", "embedding", F.col("cell").cast("int").alias("cell"),
        F.pmod(u40, F.lit(_Q300_GENS)).alias("gen"),
    )

    tmp = tempfile.mkdtemp(prefix="q300_")
    raw_path = tmp + "/store_appended"
    compact_path = tmp + "/store_compacted"
    try:
        # --- the fragmented store: one append per generation.
        for g in range(_Q300_GENS):
            mode = "overwrite" if g == 0 else "append"
            (
                corpus.filter(F.col("gen") == g)
                .select("vec_id", "embedding", "cell")
                .repartition("cell")
                .write.mode(mode)
                .partitionBy("cell")
                .parquet(raw_path)
            )
        store = spark.read.parquet(raw_path)
        # input_file_name is non-deterministic to the analyzer —
        # project it into a column BEFORE aggregating over it.
        files_before = (
            store.select(F.input_file_name().alias("f"))
            .agg(F.count_distinct("f").cast("long").alias("n"))
        )

        # --- compaction: new snapshot dir, one file per cell,
        # sorted by vec_id so footer stats are tight (the
        # compact_sorted discipline applied to a partitioned store).
        (
            store.repartition("cell")
            .sortWithinPartitions("cell", "vec_id")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(compact_path)
        )
        store2 = spark.read.parquet(compact_path)
        after = store2.select(
            F.input_file_name().alias("f"), "cell"
        ).agg(
            F.count_distinct("f").cast("long").alias("n_files_after"),
            F.count_distinct("cell").cast("long").alias("n_cells"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )

        # --- content invariance: the graded search runs over the
        # COMPACTED store; the oracle recomputes from `embeddings`.
        queries = similarity.queries_df(spark, Q27_QUERY_VECS)
        cand = store2.crossJoin(F.broadcast(queries)).select(
            "qid",
            "vec_id",
            cosine(F.col("embedding"), F.col("qvec")).alias("sim"),
        )
        top = (
            cand.withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
                ),
            )
            .filter(F.col("rk") <= 3)
            .select("qid", F.col("rk").cast("long").alias("rk"), "vec_id", "sim")
            .orderBy("qid", "rk")
            .collect()  # 15 rows, before temp-dir cleanup
        )
        nfb = int(files_before.collect()[0]["n"])  # 1 row
        arow = after.collect()[0]  # 1 row
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    out = spark.createDataFrame(top, "qid long, rk long, vec_id long, sim double")
    return (
        out.withColumn("n_files_before", F.lit(nfb).cast("long"))
        .withColumn("n_files_after", F.lit(int(arow["n_files_after"])).cast("long"))
        .withColumn("n_cells", F.lit(int(arow["n_cells"])).cast("long"))
        .withColumn("n_rows", F.lit(int(arow["n_rows"])).cast("long"))
        .orderBy("qid", "rk")
    )


QUERIES["q300_vector_store_compaction"] = q300_vector_store_compaction


# Oracle: full-table search (the two stores and the compaction must
# be value-invisible); the file audit recomputed from the same md5
# generation split + centroid assignment — files before ≡ distinct
# (gen, cell) occupancy, files after ≡ distinct occupied cells
# (both follow from repartition-on-the-partition-column writes
# emitting exactly one file per cell per job — the q250 invariant).
def _q300_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import (
        sql_dot,
        sql_lit_list,
        sql_norm,
        sql_squared_l2,
    )
    from ai_data_pipeline_spark.plans.constants import (
        EMBED_DIM,
        Q27_QUERY_VECS,
        Q28_CENTROIDS,
    )

    qrows = ", ".join(
        f"({qi}, {sql_lit_list(v)})" for qi, v in enumerate(Q27_QUERY_VECS)
    )
    cells = ", ".join(
        f"struct_pack(d := {sql_squared_l2('embedding', sql_lit_list(c), EMBED_DIM)}, c := {ci})"
        for ci, c in enumerate(Q28_CENTROIDS)
    )
    cos = (
        f"({sql_dot('a.embedding', 'q.qvec', EMBED_DIM)}) / "
        f"(({sql_norm('a.embedding', EMBED_DIM)}) * ({sql_norm('q.qvec', EMBED_DIM)}))"
    )
    return f"""
    WITH flags AS MATERIALIZED (
        SELECT vec_id, embedding,
               (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 10))::BIGINT)
                   % {_Q300_GENS} AS gen,
               struct_extract((list_sort([{cells}]))[1], 'c') AS cell
        FROM embeddings
    ), audit AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT)
                FROM (SELECT DISTINCT gen, cell FROM flags)) AS n_files_before,
               CAST(COUNT(DISTINCT cell) AS BIGINT) AS n_files_after,
               CAST(COUNT(DISTINCT cell) AS BIGINT) AS n_cells,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM flags
    ), ranked AS (
        SELECT q.qid, a.vec_id, {cos} AS sim,
               ROW_NUMBER() OVER (
                   PARTITION BY q.qid
                   ORDER BY {cos} DESC, a.vec_id) AS rk
        FROM flags a CROSS JOIN (VALUES {qrows}) AS q(qid, qvec)
    )
    SELECT CAST(qid AS BIGINT) AS qid, CAST(rk AS BIGINT) AS rk,
           vec_id, sim,
           d.n_files_before, d.n_files_after, d.n_cells, d.n_rows
    FROM ranked CROSS JOIN audit d
    WHERE rk <= 3
    ORDER BY qid, rk
    """


ORACLE["q300_vector_store_compaction"] = _q300_oracle()


# ---------------------------------------------------------------------------
# Q301 — FULL-BUILD inverted index serving multiple query families
# from ONE store (r11 verdict queue #3 — closes the gap it flagged
# on q290/q296, whose postings were built pre-pruned to the probe
# tokens): the postings store here is built UNPRUNED — a full
# posexplode of every document (the real build cost: one scan of
# the corpus, one shuffle keyed by the partition column) and
# written partitioned by TOKEN BUCKET tb = md5-40(token) mod 16
# (the token-bucket layout q290's docstring models; partitioning by
# raw token is wrong at 100 TB where the vocabulary is millions of
# values — buckets keep directory fan-out fixed while still letting
# a query's PartitionFilters prune to the ≤ |query tokens| buckets
# it needs). The store is then READ BACK and serves all three query
# families of the keyword retrieval stack from partition-pruned
# reads (plan-pinned in tests/test_frontier4_plans.py):
#   * phrase queries (q290's) — k-way positional self-join on the
#     postings, adjacency p_i = p_0 + i;
#   * boolean AND queries (q290's) — per-doc distinct-term count;
#   * ranked TF·IDF queries (q296's) — exact-integer log2 idf
#     ladder, with df taken from the FULL store (not a pruned
#     rebuild) and N from the corpus catalog stat.
# One output shape for all three: (query_id, kind, query, n_docs,
# n_occurrences, top_doc_id, top_score) — phrase/and rank their
# top document as MIN(doc_id) among matches with NULL score
# (boolean semantics have no score); ranked rows carry the rank-1
# (score DESC, tf_total DESC, doc_id) doc and its BIGINT score.
# Audit constants: n_postings (full store rows — the build paid for
# the whole corpus), n_buckets (occupied tb partitions),
# n_buckets_scanned (buckets the query side touches — a Python
# constant derived from the same md5 both engines compute).
# Scale: build = one corpus scan + one bucket-keyed shuffle; every
# query reads only its tokens' buckets (PartitionFilters) and
# filters to exact tokens inside them (dictionary-encoded column —
# row-group pruning); the phrase join shuffles only the queried
# tokens' postings on doc_id.
# ---------------------------------------------------------------------------

_Q301_BUCKETS = 16
# q290's phrase + boolean queries, q296's ranked queries — same
# constants, now served from one full-built store.
from ai_data_pipeline_spark.plans.frontier3_queries import (  # noqa: E402
    _Q290_ANDS,
    _Q290_PHRASES,
    _Q296_QUERIES,
)


def _tok_bucket_py(tok: str) -> int:
    """Python twin of the md5-40 token bucket (both engines compute
    the same 40-bit integer; hashlib here only derives plan-time
    literals for the PartitionFilters pushdown)."""
    return int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:10], 16) % _Q301_BUCKETS


_Q301_TOKENS = sorted(
    {w for _, p in _Q290_PHRASES for w in p.split()}
    | {w for _, ts in _Q290_ANDS for w in ts}
    | {w for _, ts in _Q296_QUERIES for w in ts}
)
_Q301_SCAN_BUCKETS = sorted({_tok_bucket_py(t) for t in _Q301_TOKENS})

_OUT_COLS = [
    "query_id",
    "kind",
    "query",
    "n_docs",
    "n_occurrences",
    "top_doc_id",
    "top_score",
]


def q301_build_postings_store(docs: DataFrame, path: str) -> None:
    """Full postings build: posexplode every document, bucket by
    md5-40(token) mod 16, one file per bucket per job (the
    repartition-on-the-partition-column rule)."""
    from ai_data_pipeline_spark.functions.text import ws_tokens

    postings = docs.select(
        "doc_id", F.posexplode(ws_tokens(F.col("text"))).alias("pos", "token")
    ).withColumn(
        "tb",
        F.pmod(
            F.conv(F.substring(F.md5(F.col("token")), 1, 10), 16, 10).cast("long"),
            F.lit(_Q301_BUCKETS),
        ),
    )
    (
        postings.repartition("tb")
        .write.mode("overwrite")
        .partitionBy("tb")
        .parquet(path)
    )


def q301_serve(spark: SparkSession, store: DataFrame, n_corpus_docs) -> DataFrame:
    """All three query families served from the store read-back.

    ``store`` is the postings read from parquet; every access below
    filters on ``tb`` FIRST (partition pruning — plan-pinned) and
    then on the exact token inside the surviving buckets.
    """
    from ai_data_pipeline_spark.functions.buckets import log2_bucket_case as lb

    pruned = (
        store.filter(
            F.col("tb").isin([int(b) for b in _Q301_SCAN_BUCKETS])
            & F.col("token").isin(list(_Q301_TOKENS))
        )
        .select("doc_id", "pos", "token")
        .localCheckpoint()  # consumed by every query family below
    )

    frames = []
    for qid, phrase in _Q290_PHRASES:
        words = phrase.split()
        cur = pruned.filter(F.col("token") == words[0]).select(
            "doc_id", F.col("pos").alias("p0")
        )
        for i, w in enumerate(words[1:], start=1):
            nxt = pruned.filter(F.col("token") == w).select(
                "doc_id", F.col("pos").alias(f"p{i}")
            )
            cur = cur.join(nxt, "doc_id").filter(
                F.col(f"p{i}") == F.col("p0") + F.lit(i)
            )
        frames.append(
            cur.agg(
                F.count(F.lit(1)).cast("long").alias("n_occurrences"),
                F.count_distinct("doc_id").cast("long").alias("n_docs"),
                F.min("doc_id").cast("long").alias("top_doc_id"),
            ).select(
                F.lit(qid).alias("query_id"),
                F.lit("phrase").alias("kind"),
                F.lit(phrase).alias("query"),
                "n_docs",
                "n_occurrences",
                "top_doc_id",
                F.lit(None).cast("long").alias("top_score"),
            )
        )
    for qid, terms in _Q290_ANDS:
        per_doc = (
            pruned.filter(F.col("token").isin(terms))
            .groupBy("doc_id")
            .agg(
                F.count_distinct("token").alias("n_terms"),
                F.count(F.lit(1)).cast("long").alias("occ"),
            )
            .filter(F.col("n_terms") == len(terms))
        )
        frames.append(
            per_doc.agg(
                F.coalesce(F.sum("occ"), F.lit(0)).cast("long").alias("n_occurrences"),
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.min("doc_id").cast("long").alias("top_doc_id"),
            ).select(
                F.lit(qid).alias("query_id"),
                F.lit("and").alias("kind"),
                F.lit(" ".join(terms)).alias("query"),
                "n_docs",
                "n_occurrences",
                "top_doc_id",
                F.lit(None).cast("long").alias("top_score"),
            )
        )

    # ranked TF·IDF: df from the FULL store's postings for the query
    # tokens (identical to full-corpus df for those tokens), N from
    # the corpus stat as a 1-row broadcast — never a driver collect.
    ndf = n_corpus_docs.withColumn("j", F.lit(1))
    df_t = (
        pruned.groupBy("token")
        .agg(F.count_distinct("doc_id").alias("df"))
        .withColumn("j", F.lit(1))
        .join(F.broadcast(ndf), "j")
        .select(
            "token",
            (lb(F.col("n") + 1) - lb(F.col("df") + 1)).alias("idf"),
        )
    )
    qterms = spark.createDataFrame(
        [(qid, t) for qid, ts in _Q296_QUERIES for t in ts],
        "qid string, token string",
    )
    scored = (
        pruned.join(F.broadcast(qterms), "token")
        .groupBy("qid", "doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(F.broadcast(df_t), "token")
        .groupBy("qid", "doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("idf")).cast("long").alias("score"),
            F.sum("tf").cast("long").alias("tf_total"),
        )
    )
    ranked1 = scored.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(
                F.desc("score"), F.desc("tf_total"), F.asc("doc_id")
            )
        ),
    )
    qmeta = spark.createDataFrame(
        [(qid, " ".join(ts)) for qid, ts in _Q296_QUERIES], "qid string, q string"
    )
    frames.append(
        ranked1.groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("tf_total").cast("long").alias("n_occurrences"),
            F.min(F.when(F.col("rk") == 1, F.col("doc_id")))
            .cast("long")
            .alias("top_doc_id"),
            F.min(F.when(F.col("rk") == 1, F.col("score")))
            .cast("long")
            .alias("top_score"),
        )
        .join(F.broadcast(qmeta), "qid")
        .select(
            F.col("qid").alias("query_id"),
            F.lit("ranked").alias("kind"),
            F.col("q").alias("query"),
            "n_docs",
            "n_occurrences",
            "top_doc_id",
            "top_score",
        )
    )

    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionByName(fdf)
    return out


def q301_full_postings_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    docs = spread(_t(spark, sf_dir, "documents"))
    tmp = tempfile.mkdtemp(prefix="q301_")
    path = tmp + "/postings_by_bucket"
    try:
        q301_build_postings_store(docs, path)
        store = spark.read.parquet(path)
        audit = store.agg(
            F.count(F.lit(1)).cast("long").alias("n_postings"),
            F.count_distinct("tb").cast("long").alias("n_buckets"),
        )
        n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
        served = q301_serve(spark, store, n_docs)
        rows = served.select(*_OUT_COLS).orderBy("query_id").collect()  # 8 rows
        arow = audit.collect()[0]  # 1 row
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    out = spark.createDataFrame(
        rows,
        "query_id string, kind string, query string, n_docs long, "
        "n_occurrences long, top_doc_id long, top_score long",
    )
    return (
        out.withColumn("n_postings", F.lit(int(arow["n_postings"])).cast("long"))
        .withColumn("n_buckets", F.lit(int(arow["n_buckets"])).cast("long"))
        .withColumn(
            "n_buckets_scanned",
            F.lit(len(_Q301_SCAN_BUCKETS)).cast("long"),
        )
        .orderBy("query_id")
    )


QUERIES["q301_full_postings_index"] = q301_full_postings_index


# Oracle: semantics recomputed straight off `documents` — phrase
# counts via k-gram list_filter (q290's equivalence: positional
# adjacency on postings ≡ sliding k-gram), AND via per-doc token
# counts, ranked via the same exact-integer idf ladder; the store,
# the bucketed write and the pruned read-back must all be
# value-invisible. Audit: n_postings = total token count,
# n_buckets = distinct md5-40 bucket over the full vocabulary,
# n_buckets_scanned = the same constant both engines derive.
def _q301_oracle() -> str:
    from ai_data_pipeline_spark.functions.buckets import sql_log2_bucket_case
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    toks = sql_word_ngrams("text", 1)
    parts = []
    for qid, phrase in _Q290_PHRASES:
        k = len(phrase.split())
        grams = sql_word_ngrams("text", k)
        parts.append(f"""
        SELECT '{qid}' AS query_id, 'phrase' AS kind, '{phrase}' AS query,
               CAST(COUNT(DISTINCT CASE WHEN n > 0 THEN doc_id END) AS BIGINT)
                   AS n_docs,
               CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_occurrences,
               CAST(MIN(CASE WHEN n > 0 THEN doc_id END) AS BIGINT) AS top_doc_id,
               CAST(NULL AS BIGINT) AS top_score
        FROM (
            SELECT doc_id,
                   len(list_filter({grams}, g -> g = '{phrase}')) AS n
            FROM documents)
        """)
    for qid, terms in _Q290_ANDS:
        conds = " AND ".join(
            f"len(list_filter({toks}, t -> t = '{w}')) > 0" for w in terms
        )
        occ = " + ".join(
            f"len(list_filter({toks}, t -> t = '{w}'))" for w in terms
        )
        q = " ".join(terms)
        parts.append(f"""
        SELECT '{qid}' AS query_id, 'and' AS kind, '{q}' AS query,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COALESCE(SUM(occ), 0) AS BIGINT) AS n_occurrences,
               CAST(MIN(doc_id) AS BIGINT) AS top_doc_id,
               CAST(NULL AS BIGINT) AS top_score
        FROM (
            SELECT doc_id, {occ} AS occ
            FROM documents
            WHERE {conds})
        """)
    ranked_needed = sorted({w for _, ts in _Q296_QUERIES for w in ts})
    lits = ", ".join(f"'{w}'" for w in ranked_needed)
    qvals = ", ".join(
        f"('{qid}', '{t}')" for qid, ts in _Q296_QUERIES for t in ts
    )
    qmeta = ", ".join(
        f"('{qid}', '{' '.join(ts)}')" for qid, ts in _Q296_QUERIES
    )
    parts.append(f"""
    SELECT s.qid AS query_id, 'ranked' AS kind, m.q AS query,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tf_total) AS BIGINT) AS n_occurrences,
           CAST(MIN(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS top_doc_id,
           CAST(MIN(CASE WHEN rk = 1 THEN score END) AS BIGINT) AS top_score
    FROM (
        SELECT qid, doc_id, score, tf_total,
               ROW_NUMBER() OVER (
                   PARTITION BY qid
                   ORDER BY score DESC, tf_total DESC, doc_id) AS rk
        FROM (
            SELECT qid, doc_id, CAST(SUM(tf * idf) AS BIGINT) AS score,
                   CAST(SUM(tf) AS BIGINT) AS tf_total
            FROM (
                SELECT q.qid, p.doc_id, p.token, COUNT(*) AS tf
                FROM (
                    SELECT doc_id, u.token
                    FROM documents,
                    LATERAL (SELECT unnest({toks}) AS token) u
                    WHERE u.token IN ({lits})
                ) p JOIN (VALUES {qvals}) AS q(qid, token)
                  ON q.token = p.token
                GROUP BY 1, 2, 3
            ) tfs JOIN (
                SELECT token,
                       {sql_log2_bucket_case("((SELECT COUNT(*) FROM documents) + 1)")}
                         - {sql_log2_bucket_case("(COUNT(DISTINCT doc_id) + 1)")} AS idf
                FROM (
                    SELECT doc_id, u.token
                    FROM documents,
                    LATERAL (SELECT unnest({toks}) AS token) u
                    WHERE u.token IN ({lits})
                )
                GROUP BY token
            ) dfs ON dfs.token = tfs.token
            GROUP BY qid, doc_id)
    ) s JOIN (VALUES {qmeta}) AS m(qid, q) ON m.qid = s.qid
    GROUP BY s.qid, m.q
    """)
    body = " UNION ALL ".join(parts)
    return f"""
    WITH results AS MATERIALIZED ({body}),
    vocab AS (
        SELECT u.token
        FROM documents, LATERAL (SELECT unnest({toks}) AS token) u
    ), audit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_postings,
               CAST(COUNT(DISTINCT
                   (('0x' || substr(md5(token), 1, 10))::BIGINT)
                       % {_Q301_BUCKETS}) AS BIGINT) AS n_buckets
        FROM vocab
    )
    SELECT r.*, a.n_postings, a.n_buckets,
           CAST({len(_Q301_SCAN_BUCKETS)} AS BIGINT) AS n_buckets_scanned
    FROM results r CROSS JOIN audit a
    ORDER BY query_id
    """


ORACLE["q301_full_postings_index"] = _q301_oracle()


# ---------------------------------------------------------------------------
# Q302 — retrieval-quality regression GATE (r11 verdict queue #4 —
# the builder's own round-12 item): q285 measures rank quality and
# q233 the recall/cost curve; a deployment needs those composed
# into ONE pass/fail row it can wire into CI before swapping an
# index generation. Over the fixed q27 query set, for each
# candidate operating point (IVF at nprobe ∈ {1, 2} against the
# q28 centroid geometry): brute-force cosine top-10 is truth;
# the gate aggregates three EXACT-INTEGER metrics and compares each
# against its threshold by CROSS-MULTIPLICATION — no float enters a
# pass/fail decision (the repo's float policy taken to its
# conclusion: a gate that flips on a 1-ulp drift is a broken gate):
#   * recall@10: Σ_q |BF top-10 ∩ ANN top-10| ≥ 70% of Σ_q 10
#     — recall_num·100 ≥ 70·recall_den;
#   * MRR of the true top-1: per-query reciprocal rank scaled by
#     2520 = lcm(1..10) (a CASE ladder — rank r contributes
#     2520/r exactly, 0 on a miss), MRR ≥ 0.60 ⟺
#     mrr_num·100 ≥ 60·mrr_den with mrr_den = n_queries·2520;
#   * rank concordance: Σ concordant ≥ Σ discordant Kendall pairs
#     over the common items (τ ≥ 0).
# release_pass = all three. The emitted recall/mrr doubles are each
# ONE IEEE division of two exact BIGINTs (display only — the gate
# flags are graded integers). Scale: the expensive inputs are the
# graded search operators themselves; the gate is O(k²) per query
# per operating point, corpus-size-independent (q285's property).
# ---------------------------------------------------------------------------

_Q302_NPROBES = [1, 2]
_Q302_K = 10
_Q302_RECALL_PCT = 70
_Q302_MRR_PCT = 60
# 2520 = lcm(1..10); rank r in the top-10 contributes exactly
# 2520/r (all integers by construction — hardcoded, no division).
_Q302_RR_SCALED = {1: 2520, 2: 1260, 3: 840, 4: 630, 5: 504,
                   6: 420, 7: 360, 8: 315, 9: 280, 10: 252}


def _q302_metrics(spark: SparkSession, sf_dir: str, nprobe: int,
                  bf: DataFrame | None = None,
                  corpus: DataFrame | None = None) -> DataFrame:
    """Per-query (qid, n_common, truth_rank, concordant, discordant)
    for the IVF search at ``nprobe`` vs brute-force truth — q285's
    metric frame, parameterized by operating point. ``bf`` and
    ``corpus`` are nprobe-independent — the gate computes them once
    (localCheckpointed) and shares them across operating points."""
    from ai_data_pipeline_spark.operators import similarity
    from ai_data_pipeline_spark.operators.vectorized import (
        cosine_topk_np,
        ivf_assign_np,
        ivf_search_cosine_np,
    )
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS, Q28_CENTROIDS

    queries = similarity.queries_df(spark, Q27_QUERY_VECS)
    if bf is None or corpus is None:
        emb = _t(spark, sf_dir, "embeddings")
    if bf is None:
        bf = cosine_topk_np(emb, queries, k=_Q302_K).select(
            "qid", "vec_id", F.col("rk").cast("long").alias("rk_bf")
        )
    if corpus is None:
        corpus = ivf_assign_np(emb, Q28_CENTROIDS)
    ann = ivf_search_cosine_np(
        corpus, queries, Q28_CENTROIDS, k=_Q302_K, nprobe=nprobe
    ).select("qid", "vec_id", F.col("rk").cast("long").alias("rk_ann"))

    qids = bf.select("qid").distinct()
    truth = bf.filter(F.col("rk_bf") == 1).select("qid", "vec_id")
    tr = truth.join(ann, ["qid", "vec_id"], "left").select(
        "qid", F.coalesce(F.col("rk_ann"), F.lit(0)).alias("truth_rank")
    )
    common = bf.join(ann, ["qid", "vec_id"]).select(
        "qid", "vec_id", "rk_bf", "rk_ann"
    )
    ncom = common.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    a, b = common.alias("a"), common.alias("b")
    cd = (
        a.join(
            b,
            (F.col("a.qid") == F.col("b.qid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.qid").alias("qid"),
            (
                (F.col("a.rk_bf") - F.col("b.rk_bf"))
                * (F.col("a.rk_ann") - F.col("b.rk_ann"))
                > 0
            ).alias("conc"),
        )
        .groupBy("qid")
        .agg(
            F.sum(F.when(F.col("conc"), 1).otherwise(0)).cast("long").alias("concordant"),
            F.sum(F.when(~F.col("conc"), 1).otherwise(0)).cast("long").alias("discordant"),
        )
    )
    return (
        qids.join(tr, "qid", "left")
        .join(ncom, "qid", "left")
        .join(cd, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias("n_common"),
            F.col("truth_rank").cast("long").alias("truth_rank"),
            F.coalesce(F.col("concordant"), F.lit(0)).cast("long").alias("concordant"),
            F.coalesce(F.col("discordant"), F.lit(0)).cast("long").alias("discordant"),
        )
    )


def q302_retrieval_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    rr = F.lit(0).cast("long")
    for r, contrib in sorted(_Q302_RR_SCALED.items()):
        rr = F.when(F.col("truth_rank") == r, F.lit(contrib).cast("long")).otherwise(rr)

    from ai_data_pipeline_spark.operators import similarity
    from ai_data_pipeline_spark.operators.vectorized import (
        cosine_topk_np,
        ivf_assign_np,
    )
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS, Q28_CENTROIDS

    # the nprobe-INDEPENDENT inputs (brute-force truth + cell
    # assignment) computed once and pinned — both operating points
    # consume them (the multi-consumer rule; bf is k×|queries| rows,
    # corpus is the assigned table the ANN kernel scans).
    emb = _t(spark, sf_dir, "embeddings")
    qdf = similarity.queries_df(spark, Q27_QUERY_VECS)
    bf = (
        cosine_topk_np(emb, qdf, k=_Q302_K)
        .select("qid", "vec_id", F.col("rk").cast("long").alias("rk_bf"))
        .localCheckpoint()
    )
    corpus = ivf_assign_np(emb, Q28_CENTROIDS).localCheckpoint()

    frames = []
    for nprobe in _Q302_NPROBES:
        m = _q302_metrics(spark, sf_dir, nprobe, bf=bf, corpus=corpus)
        agg = m.agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.sum("n_common").cast("long").alias("recall_num"),
            F.sum(rr).cast("long").alias("mrr_num"),
            F.sum("concordant").cast("long").alias("concordant"),
            F.sum("discordant").cast("long").alias("discordant"),
        ).select(
            F.lit(nprobe).cast("long").alias("nprobe"),
            "n_queries",
            "recall_num",
            (F.col("n_queries") * _Q302_K).cast("long").alias("recall_den"),
            "mrr_num",
            (F.col("n_queries") * 2520).cast("long").alias("mrr_den"),
            "concordant",
            "discordant",
        )
        frames.append(agg)
    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionByName(fdf)
    return (
        out.withColumn(
            "recall",
            F.col("recall_num").cast("double") / F.col("recall_den").cast("double"),
        )
        .withColumn(
            "mrr", F.col("mrr_num").cast("double") / F.col("mrr_den").cast("double")
        )
        .withColumn(
            "recall_pass",
            (F.col("recall_num") * 100 >= F.col("recall_den") * _Q302_RECALL_PCT)
            .cast("long"),
        )
        .withColumn(
            "mrr_pass",
            (F.col("mrr_num") * 100 >= F.col("mrr_den") * _Q302_MRR_PCT)
            .cast("long"),
        )
        .withColumn(
            "kendall_pass",
            (F.col("concordant") >= F.col("discordant")).cast("long"),
        )
        .withColumn(
            "release_pass",
            (
                (F.col("recall_pass") == 1)
                & (F.col("mrr_pass") == 1)
                & (F.col("kendall_pass") == 1)
            ).cast("long"),
        )
        .select(
            "nprobe", "n_queries",
            "recall_num", "recall_den", "recall", "recall_pass",
            "mrr_num", "mrr_den", "mrr", "mrr_pass",
            "concordant", "discordant", "kendall_pass", "release_pass",
        )
        .orderBy("nprobe")
    )


QUERIES["q302_retrieval_release_gate"] = q302_retrieval_release_gate


# Oracle: q285's CTE chain per operating point (probed cells
# precomputed per nprobe — ivf_search_cosine_np's lexsort policy),
# aggregated to the same integer gate row; the reciprocal-rank CASE
# ladder uses the identical hardcoded 2520/r constants.
def _q302_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import (
        sql_dot,
        sql_lit_list,
        sql_norm,
        sql_squared_l2,
    )
    from ai_data_pipeline_spark.plans.constants import (
        EMBED_DIM,
        Q27_QUERY_VECS,
        Q28_CENTROIDS,
    )
    from ai_data_pipeline_spark.plans.pipeline_queries import _sqdist_py

    cells = ", ".join(
        f"struct_pack(d := {sql_squared_l2('embedding', sql_lit_list(c), EMBED_DIM)}, c := {ci})"
        for ci, c in enumerate(Q28_CENTROIDS)
    )
    cos = (
        f"({sql_dot('a.embedding', 'q.qvec', EMBED_DIM)}) / "
        f"(({sql_norm('a.embedding', EMBED_DIM)}) * ({sql_norm('q.qvec', EMBED_DIM)}))"
    )
    rr_case = " ".join(
        f"WHEN truth_rank = {r} THEN {c}"
        for r, c in sorted(_Q302_RR_SCALED.items())
    )
    blocks = []
    for nprobe in _Q302_NPROBES:
        probes = {}
        for qi, qv in enumerate(Q27_QUERY_VECS):
            cdist = [_sqdist_py(c, qv) for c in Q28_CENTROIDS]
            probes[qi] = sorted(
                range(len(Q28_CENTROIDS)), key=lambda c: (cdist[c], c)
            )[:nprobe]
        qrows = ", ".join(
            f"({qi}, {sql_lit_list(v)}, {list(probes[qi])})"
            for qi, v in enumerate(Q27_QUERY_VECS)
        )
        blocks.append(f"""
        SELECT CAST({nprobe} AS BIGINT) AS nprobe, *
        FROM (
            WITH qs AS (
                SELECT * FROM (VALUES {qrows}) AS t(qid, qvec, cells)
            ), bf AS MATERIALIZED (
                SELECT qid, vec_id, rk_bf FROM (
                    SELECT q.qid, a.vec_id,
                           ROW_NUMBER() OVER (
                               PARTITION BY q.qid
                               ORDER BY {cos} DESC, a.vec_id) AS rk_bf
                    FROM embeddings a CROSS JOIN qs q)
                WHERE rk_bf <= {_Q302_K}
            ), assigned AS (
                SELECT vec_id, embedding,
                       struct_extract((list_sort([{cells}]))[1], 'c') AS cell
                FROM embeddings
            ), ann AS MATERIALIZED (
                SELECT qid, vec_id, rk_ann FROM (
                    SELECT q.qid, a.vec_id,
                           ROW_NUMBER() OVER (
                               PARTITION BY q.qid
                               ORDER BY {cos} DESC, a.vec_id) AS rk_ann
                    FROM assigned a JOIN qs q ON list_contains(q.cells, a.cell))
                WHERE rk_ann <= {_Q302_K}
            ), truth AS (
                SELECT bf.qid, COALESCE(ann.rk_ann, 0) AS truth_rank
                FROM bf LEFT JOIN ann
                  ON ann.qid = bf.qid AND ann.vec_id = bf.vec_id
                WHERE bf.rk_bf = 1
            ), common AS MATERIALIZED (
                SELECT bf.qid, bf.vec_id, bf.rk_bf, ann.rk_ann
                FROM bf JOIN ann ON ann.qid = bf.qid AND ann.vec_id = bf.vec_id
            ), percq AS (
                SELECT q.qid,
                       COALESCE((SELECT COUNT(*) FROM common c
                                 WHERE c.qid = q.qid), 0) AS n_common,
                       COALESCE((SELECT truth_rank FROM truth t
                                 WHERE t.qid = q.qid), 0) AS truth_rank,
                       COALESCE((SELECT SUM(CASE WHEN (a.rk_bf - b.rk_bf)
                                     * (a.rk_ann - b.rk_ann) > 0
                                     THEN 1 ELSE 0 END)
                                 FROM common a JOIN common b
                                   ON a.qid = b.qid AND a.vec_id < b.vec_id
                                 WHERE a.qid = q.qid), 0) AS concordant,
                       COALESCE((SELECT SUM(CASE WHEN (a.rk_bf - b.rk_bf)
                                     * (a.rk_ann - b.rk_ann) > 0
                                     THEN 0 ELSE 1 END)
                                 FROM common a JOIN common b
                                   ON a.qid = b.qid AND a.vec_id < b.vec_id
                                 WHERE a.qid = q.qid), 0) AS discordant
                FROM (SELECT DISTINCT qid FROM qs) q
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
                   CAST(SUM(n_common) AS BIGINT) AS recall_num,
                   CAST(COUNT(*) * {_Q302_K} AS BIGINT) AS recall_den,
                   CAST(SUM(CASE {rr_case} ELSE 0 END) AS BIGINT) AS mrr_num,
                   CAST(COUNT(*) * 2520 AS BIGINT) AS mrr_den,
                   CAST(SUM(concordant) AS BIGINT) AS concordant,
                   CAST(SUM(discordant) AS BIGINT) AS discordant
            FROM percq)
        """)
    body = " UNION ALL ".join(blocks)
    return f"""
    SELECT nprobe, n_queries,
           recall_num, recall_den,
           CAST(recall_num AS DOUBLE) / CAST(recall_den AS DOUBLE) AS recall,
           CAST(CASE WHEN recall_num * 100 >= recall_den * {_Q302_RECALL_PCT}
                THEN 1 ELSE 0 END AS BIGINT) AS recall_pass,
           mrr_num, mrr_den,
           CAST(mrr_num AS DOUBLE) / CAST(mrr_den AS DOUBLE) AS mrr,
           CAST(CASE WHEN mrr_num * 100 >= mrr_den * {_Q302_MRR_PCT}
                THEN 1 ELSE 0 END AS BIGINT) AS mrr_pass,
           concordant, discordant,
           CAST(CASE WHEN concordant >= discordant
                THEN 1 ELSE 0 END AS BIGINT) AS kendall_pass,
           CAST(CASE WHEN recall_num * 100 >= recall_den * {_Q302_RECALL_PCT}
                      AND mrr_num * 100 >= mrr_den * {_Q302_MRR_PCT}
                      AND concordant >= discordant
                THEN 1 ELSE 0 END AS BIGINT) AS release_pass
    FROM ({body})
    ORDER BY nprobe
    """


ORACLE["q302_retrieval_release_gate"] = _q302_oracle()


# ---------------------------------------------------------------------------
# Q303 — per-mechanism dedup PRECISION audit (r11 verdict queue #5
# — the missing half of the cross-modality story: q219 grades the
# MinHash mechanism's RECALL against exact truth, q295 shows WHERE
# the three mechanisms disagree; this row says WHO is right when
# they do). Truth = the feasible exact baseline (capped word-3-gram
# Jaccard ≥ 0.6 pairs — q219's definition, same hot-shingle cap
# mirrored in the oracle). Each production mechanism's pair set is
# FULL-OUTER-joined against truth and reported as one row:
#   * minhash   — q24/q204's MinHash+LSH policy (32 hashes, 8
#                 bands, exact-verify at 0.6);
#   * image_dhash — q284's perceptual dHash at Hamming ≤ 3;
#   * video_frames — q291's shot-overlap (≥ 4 of 8 frame hashes).
# found/common/extra/missed counts are exact BIGINTs; precision =
# common/found and recall = common/truth are each ONE IEEE division
# of two exact ints (NULL when the denominator is 0). The dHash and
# frame mechanisms measure DIFFERENT similarity notions than text
# Jaccard — their "extra" pairs are exactly the cross-modality
# disagreement surface, which is the point of auditing them against
# a single truth. Scale: truth and each mechanism are the already-
# audited capped/banded pair operators (pair mass bounded); the
# audit joins are linear in pairs. Truth is localCheckpointed — it
# is referenced by all three mechanism joins (the multi-consumer
# re-execution rule).
# ---------------------------------------------------------------------------

_Q303_TAU = 0.6


def q303_dedup_precision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators import dedup
    from ai_data_pipeline_spark.plans.frontier3_queries import (
        _q284_pairs,
        _q291_pairs,
    )
    from ai_data_pipeline_spark.plans.pipeline_queries import Q23_MAX_SHINGLE_FREQ

    docs = spread(_t(spark, sf_dir, "documents"))
    # truth and the three mechanism frames are INDEPENDENT pipelines
    # whose construction runs eager localCheckpoint jobs (truth here;
    # the dHash fingerprint / frame-hash frames inside
    # _q284_pairs/_q291_pairs) — build them from a small thread pool
    # so the checkpoint jobs overlap instead of serializing (guide
    # §2.6; the q314 r13 idiom).
    from concurrent.futures import ThreadPoolExecutor

    def build_truth():
        return (
            dedup.ngram_jaccard_pairs(
                docs, "doc_id", "text", n=3,
                min_jaccard=_Q303_TAU, max_shingle_freq=Q23_MAX_SHINGLE_FREQ,
            )
            .select("id_a", "id_b")
            .withColumn("t", F.lit(1))
            .localCheckpoint()  # three mechanism joins consume it
        )

    def build_minhash():
        return dedup.minhash_neardup_pairs(
            docs, "doc_id", "text", n=3, num_hashes=32, bands=8,
            min_jaccard=_Q303_TAU,
        ).select("id_a", "id_b")

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_truth = pool.submit(build_truth)
        f_mh = pool.submit(build_minhash)
        f_img = pool.submit(_q284_pairs, docs)
        f_vid = pool.submit(_q291_pairs, docs)
        truth = f_truth.result()
        mechanisms = [
            ("minhash", f_mh.result()),
            ("image_dhash", f_img.result()),
            ("video_frames", f_vid.result()),
        ]
    frames = []
    for name, pairs in mechanisms:
        j = truth.join(pairs.withColumn("f", F.lit(1)), ["id_a", "id_b"], "full_outer")
        frames.append(
            j.agg(
                F.sum(F.coalesce("t", F.lit(0))).cast("long").alias("n_truth"),
                F.sum(F.coalesce("f", F.lit(0))).cast("long").alias("n_found"),
                F.sum((F.col("t").isNotNull() & F.col("f").isNotNull()).cast("int"))
                .cast("long").alias("n_common"),
                F.sum((F.col("t").isNotNull() & F.col("f").isNull()).cast("int"))
                .cast("long").alias("n_missed"),
                F.sum((F.col("t").isNull() & F.col("f").isNotNull()).cast("int"))
                .cast("long").alias("n_extra"),
            ).select(F.lit(name).alias("mechanism"), "*")
        )
    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionByName(fdf)
    return (
        out.withColumn(
            "precision",
            F.when(
                F.col("n_found") > 0,
                F.col("n_common").cast("double") / F.col("n_found").cast("double"),
            ),
        )
        .withColumn(
            "recall",
            F.when(
                F.col("n_truth") > 0,
                F.col("n_common").cast("double") / F.col("n_truth").cast("double"),
            ),
        )
        .orderBy("mechanism")
    )


QUERIES["q303_dedup_precision_audit"] = q303_dedup_precision_audit


# Oracle: truth + minhash CTEs are q219's (verbatim policy — capped
# exact Jaccard truth, banded md5-15 signatures verified uncapped);
# the dHash and frame-hash pair CTEs are q284/q291's as already
# mirrored in q295's oracle; each mechanism full-outer-joins the
# shared truth.
def _q303_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams
    from ai_data_pipeline_spark.plans.frontier3_queries import (
        _Q284_COLS,
        _Q284_MAX_HAMMING,
        _Q284_ROWS,
        _Q291_FRAMES,
        _Q291_MAXF,
        _Q291_MIN_SHARED,
        _Q291_STRIDE,
        _Q291_WIN,
    )
    from ai_data_pipeline_spark.plans.pipeline_queries import Q23_MAX_SHINGLE_FREQ

    grams3 = sql_word_ngrams("text", 3)
    toks = sql_word_ngrams("text", 1)
    cells = _Q284_ROWS * _Q284_COLS
    lum = (
        "('0x' || substr(md5((CASE WHEN len(ws) = 0 THEN '' "
        "ELSE ws[(k % len(ws)) + 1] END) || ':' || k), 1, 2))::BIGINT"
    )
    bits = " + ".join(
        f"(CASE WHEN lums[{(i // 10) * _Q284_COLS + (i % 10) + 2}] > "
        f"lums[{(i // 10) * _Q284_COLS + (i % 10) + 1}] "
        f"THEN {1 << i}::BIGINT ELSE 0::BIGINT END)"
        for i in range(60)
    )
    frames = ", ".join(
        f"array_to_string(({toks})[{f * _Q291_STRIDE + 1}:{f * _Q291_STRIDE + _Q291_WIN}], ' ')"
        for f in range(_Q291_FRAMES)
    )
    audit = """
        SELECT '{name}' AS mechanism,
               CAST(SUM(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
               CAST(SUM(CASE WHEN in_f THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
               CAST(SUM(CASE WHEN in_t AND in_f THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_common,
               CAST(SUM(CASE WHEN in_t AND NOT in_f THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_missed,
               CAST(SUM(CASE WHEN NOT in_t AND in_f THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_extra,
               CASE WHEN SUM(CASE WHEN in_f THEN 1 ELSE 0 END) > 0
                    THEN CAST(SUM(CASE WHEN in_t AND in_f THEN 1 ELSE 0 END)
                              AS DOUBLE)
                         / CAST(SUM(CASE WHEN in_f THEN 1 ELSE 0 END) AS DOUBLE)
                    END AS precision,
               CASE WHEN SUM(CASE WHEN in_t THEN 1 ELSE 0 END) > 0
                    THEN CAST(SUM(CASE WHEN in_t AND in_f THEN 1 ELSE 0 END)
                              AS DOUBLE)
                         / CAST(SUM(CASE WHEN in_t THEN 1 ELSE 0 END) AS DOUBLE)
                    END AS recall
        FROM (
            SELECT (t.id_a IS NOT NULL) AS in_t, (f.id_a IS NOT NULL) AS in_f
            FROM truth t FULL OUTER JOIN {found} f
              ON t.id_a = f.id_a AND t.id_b = f.id_b)
    """
    return f"""
    WITH sh0 AS MATERIALIZED (
        SELECT DISTINCT doc_id AS id, unnest({grams3}) AS shingle
        FROM documents
    ), freq AS (
        SELECT shingle, COUNT(*) AS fq FROM sh0 GROUP BY shingle
    ), shc AS MATERIALIZED (
        SELECT id, sh0.shingle
        FROM sh0 JOIN freq ON sh0.shingle = freq.shingle
        WHERE fq <= {Q23_MAX_SHINGLE_FREQ}
    ), sizes_c AS (
        SELECT id, COUNT(*) AS n_sh FROM shc GROUP BY id
    ), inter_c AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ), truth AS MATERIALIZED (
        SELECT id_a, id_b
        FROM inter_c
        JOIN sizes_c sa ON sa.id = id_a
        JOIN sizes_c sb ON sb.id = id_b
        WHERE inter / (sa.n_sh + sb.n_sh - inter) >= '{_Q303_TAU}'::DOUBLE
    ), sig AS (
        SELECT id, j, MIN((('0x' || substr(md5(shingle || ':' || j), 1, 15))::BIGINT)) AS mh
        FROM sh0 CROSS JOIN range(32) AS t(j)
        GROUP BY id, j
    ), bandkey AS (
        SELECT id, j // 4 AS band, string_agg(mh::VARCHAR, ',' ORDER BY j) AS bk
        FROM sig GROUP BY id, j // 4
    ), cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bandkey a
        JOIN bandkey b ON a.band = b.band AND a.bk = b.bk AND a.id < b.id
    ), sizes_u AS (
        SELECT id, COUNT(*) AS n_sh FROM sh0 GROUP BY id
    ), inter_u AS (
        SELECT cand.id_a, cand.id_b, COUNT(*) AS inter
        FROM cand
        JOIN sh0 sa ON sa.id = cand.id_a
        JOIN sh0 sb ON sb.id = cand.id_b AND sb.shingle = sa.shingle
        GROUP BY 1, 2
    ), found_mh AS MATERIALIZED (
        SELECT id_a, id_b
        FROM inter_u
        JOIN sizes_u sa ON sa.id = id_a
        JOIN sizes_u sb ON sb.id = id_b
        WHERE inter / (sa.n_sh + sb.n_sh - inter) >= '{_Q303_TAU}'::DOUBLE
    ), grids AS (
        SELECT doc_id AS id,
               list_transform(range(0, {cells}), k -> {lum}) AS lums
        FROM (SELECT doc_id, {toks} AS ws FROM documents)
    ), fp AS MATERIALIZED (
        SELECT id, ({bits}) AS simhash FROM grids
    ), found_img AS MATERIALIZED (
        SELECT a.id AS id_a, b.id AS id_b
        FROM fp a JOIN fp b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {_Q284_MAX_HAMMING}
    ), framed AS MATERIALIZED (
        SELECT DISTINCT doc_id, (('0x' || substr(md5(fs), 1, 15))::BIGINT) AS fh
        FROM (
            SELECT doc_id, unnest(list_filter([{frames}], s -> s != '')) AS fs
            FROM documents)
    ), ffreq AS (
        SELECT fh, COUNT(*) AS df FROM framed GROUP BY fh
    ), fcapped AS MATERIALIZED (
        SELECT doc_id, framed.fh FROM framed
        JOIN ffreq ON ffreq.fh = framed.fh
        WHERE df <= {_Q291_MAXF}
    ), found_vid AS MATERIALIZED (
        SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
            FROM fcapped a JOIN fcapped b
              ON a.fh = b.fh AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        WHERE n_shared >= {_Q291_MIN_SHARED}
    )
    SELECT * FROM (
        {audit.format(name="minhash", found="found_mh")}
        UNION ALL
        {audit.format(name="image_dhash", found="found_img")}
        UNION ALL
        {audit.format(name="video_frames", found="found_vid")}
    )
    ORDER BY mechanism
    """


ORACLE["q303_dedup_precision_audit"] = _q303_oracle()


# ---------------------------------------------------------------------------
# Q304 — FILTERED vector search (metadata predicate + ANN — the
# production retrieval shape every vector store ships: "top-k among
# vectors WHERE label = L"; the reference's FAISS flat index,
# rag_chatbot/main.py:26-28, cannot express it — filtering is a
# first-class reason to keep vectors in an analytical store): for
# each q27 query × filter label ∈ {3, 7} (~10% selectivity each),
# the PRE-FILTER strategy — push the label predicate to the scan,
# THEN intersect with the nprobe=2 probed cells (q28's geometry),
# rank survivors by (cosine DESC, vec_id), top-3. Pre-filter is the
# right strategy at ~10% selectivity (post-filtering a top-k list
# under-fills it when the filter is selective — the classic filtered
# -ANN failure); probe cells are plan-time constants (centroids and
# query vectors are both literals — q285's oracle already exploits
# this), so the probe is a broadcast of a 10-row (qid, cell) frame,
# never a crossJoin. Graded columns include the per-(query, label)
# RECALL audit vs the exact filtered brute-force top-3 (n_hits3 ∈
# 0..3 — exact int): filtering shrinks each probed cell's candidate
# pool, so per-cell recall degrades faster than unfiltered ANN — the
# measured number a deployment needs before trusting filtered
# queries at low nprobe. Scale: the served path reads only probed
# cells' filtered rows; the exact side is the eval harness (q209/
# q219's audit posture), not the serving path.
# ---------------------------------------------------------------------------

_Q304_LABELS = [3, 7]
_Q304_NPROBE = 2
_Q304_K = 3


def q304_filtered_vector_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.vector import cosine
    from ai_data_pipeline_spark.operators.vectorized import ivf_assign_np
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS, Q28_CENTROIDS
    from ai_data_pipeline_spark.plans.pipeline_queries import _sqdist_py

    emb = _t(spark, sf_dir, "embeddings")
    corpus = ivf_assign_np(emb, Q28_CENTROIDS).select(
        "vec_id", "embedding", "label", F.col("cell").cast("int").alias("cell")
    )
    # probed cells per query — plan-time constants (both the
    # centroids and the query vectors are literals; ties → lowest
    # centroid index, ivf_search_cosine_np's policy).
    probe_rows = []
    for qi, qv in enumerate(Q27_QUERY_VECS):
        cdist = [_sqdist_py(c, qv) for c in Q28_CENTROIDS]
        for c in sorted(range(len(Q28_CENTROIDS)), key=lambda k: (cdist[k], k))[
            :_Q304_NPROBE
        ]:
            probe_rows.append((qi, [float(x) for x in Q27_QUERY_VECS[qi]], c))
    qcells = spark.createDataFrame(
        probe_rows, "qid long, qvec array<double>, cell int"
    )

    filtered = corpus.filter(F.col("label").isin([int(x) for x in _Q304_LABELS]))
    # pre-filter ∩ probed cells: broadcast the 10-row probe frame.
    cand = filtered.join(F.broadcast(qcells), "cell").select(
        "qid",
        F.col("label").cast("long").alias("flt_label"),
        "vec_id",
        cosine(F.col("embedding"), F.col("qvec")).alias("sim"),
    )
    ann = (
        cand.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("qid", "flt_label").orderBy(
                    F.desc("sim"), F.asc("vec_id")
                )
            ),
        )
        .filter(F.col("rk") <= _Q304_K)
        .select("qid", "flt_label", F.col("rk").cast("long").alias("rk"), "vec_id", "sim")
    )
    # exact filtered truth (the recall audit side): brute force over
    # the FILTERED corpus only.
    queries = spark.createDataFrame(
        [(qi, [float(x) for x in v]) for qi, v in enumerate(Q27_QUERY_VECS)],
        "qid long, qvec array<double>",
    )
    exact = (
        filtered.crossJoin(F.broadcast(queries))
        .select(
            "qid",
            F.col("label").cast("long").alias("flt_label"),
            "vec_id",
            cosine(F.col("embedding"), F.col("qvec")).alias("sim"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("qid", "flt_label").orderBy(
                    F.desc("sim"), F.asc("vec_id")
                )
            ),
        )
        .filter(F.col("rk") <= _Q304_K)
        .select("qid", "flt_label", "vec_id")
    )
    hits = (
        ann.join(exact, ["qid", "flt_label", "vec_id"], "left_semi")
        .groupBy("qid", "flt_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits3"))
    )
    return (
        ann.join(hits, ["qid", "flt_label"], "left")
        .select(
            "qid",
            "flt_label",
            "rk",
            "vec_id",
            "sim",
            F.coalesce(F.col("n_hits3"), F.lit(0)).cast("long").alias("n_hits3"),
        )
        .orderBy("qid", "flt_label", "rk")
    )


QUERIES["q304_filtered_vector_search"] = q304_filtered_vector_search


def _q304_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import (
        sql_dot,
        sql_lit_list,
        sql_norm,
        sql_squared_l2,
    )
    from ai_data_pipeline_spark.plans.constants import (
        EMBED_DIM,
        Q27_QUERY_VECS,
        Q28_CENTROIDS,
    )
    from ai_data_pipeline_spark.plans.pipeline_queries import _sqdist_py

    probes = {}
    for qi, qv in enumerate(Q27_QUERY_VECS):
        cdist = [_sqdist_py(c, qv) for c in Q28_CENTROIDS]
        probes[qi] = sorted(
            range(len(Q28_CENTROIDS)), key=lambda c: (cdist[c], c)
        )[:_Q304_NPROBE]
    qrows = ", ".join(
        f"({qi}, {sql_lit_list(v)}, {list(probes[qi])})"
        for qi, v in enumerate(Q27_QUERY_VECS)
    )
    cells = ", ".join(
        f"struct_pack(d := {sql_squared_l2('embedding', sql_lit_list(c), EMBED_DIM)}, c := {ci})"
        for ci, c in enumerate(Q28_CENTROIDS)
    )
    cos = (
        f"({sql_dot('a.embedding', 'q.qvec', EMBED_DIM)}) / "
        f"(({sql_norm('a.embedding', EMBED_DIM)}) * ({sql_norm('q.qvec', EMBED_DIM)}))"
    )
    labels = ", ".join(str(x) for x in _Q304_LABELS)
    return f"""
    WITH qs AS (
        SELECT * FROM (VALUES {qrows}) AS t(qid, qvec, cells)
    ), filt AS MATERIALIZED (
        SELECT vec_id, embedding, label,
               struct_extract((list_sort([{cells}]))[1], 'c') AS cell
        FROM embeddings
        WHERE label IN ({labels})
    ), ann AS MATERIALIZED (
        SELECT qid, flt_label, vec_id, sim, rk FROM (
            SELECT q.qid, CAST(a.label AS BIGINT) AS flt_label, a.vec_id,
                   {cos} AS sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.qid, a.label
                       ORDER BY {cos} DESC, a.vec_id) AS rk
            FROM filt a JOIN qs q ON list_contains(q.cells, a.cell))
        WHERE rk <= {_Q304_K}
    ), exact AS MATERIALIZED (
        SELECT qid, flt_label, vec_id FROM (
            SELECT q.qid, CAST(a.label AS BIGINT) AS flt_label, a.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.qid, a.label
                       ORDER BY {cos} DESC, a.vec_id) AS rk
            FROM filt a CROSS JOIN qs q)
        WHERE rk <= {_Q304_K}
    ), hits AS (
        SELECT a.qid, a.flt_label, CAST(COUNT(*) AS BIGINT) AS n_hits3
        FROM ann a JOIN exact e
          ON e.qid = a.qid AND e.flt_label = a.flt_label
         AND e.vec_id = a.vec_id
        GROUP BY 1, 2
    )
    SELECT CAST(a.qid AS BIGINT) AS qid, a.flt_label AS flt_label,
           CAST(a.rk AS BIGINT) AS rk, a.vec_id, a.sim,
           COALESCE(h.n_hits3, 0) AS n_hits3
    FROM ann a
    LEFT JOIN hits h ON h.qid = a.qid AND h.flt_label = a.flt_label
    ORDER BY a.qid, a.flt_label, rk
    """


ORACLE["q304_filtered_vector_search"] = _q304_oracle()


# ---------------------------------------------------------------------------
# Q305 — hybrid retrieval with Reciprocal-Rank Fusion (the standard
# fusion of the two retrieval stacks this repo grades separately:
# q296's keyword TF·IDF ranks and q27's vector cosine ranks;
# RRF(d) = Σ_lists 1/(k + rank_d), Cormack et al. 2009, k = 60 —
# what production search ships because it needs no score
# calibration between BM25-scale and cosine-scale numbers, only
# RANKS): per query, keyword top-10 (q296's exact-integer scoring
# over the documents corpus) and vector top-10 (cosine of the doc's
# embedding — vec_id ≡ doc_id in the testdata catalog — against a
# per-query det_vector literal) fuse by SCALED-INTEGER RRF:
# contributions are hardcoded L/(60+r) with L = lcm(61..70) =
# 142_813_628_717_760, so the fused score is an exact BIGINT (≤ 20
# terms × 2.35e12 < 2^63 — no float enters the ranking; the repo's
# float policy applied to rank fusion). Missing-from-a-list docs
# contribute 0 from that list (emitted kw_rank/vec_rank = 0). Final
# top-5 by (rrf_scaled DESC, doc_id). Scale: each list is a top-k
# per query (rank windows over candidate docs only); the fusion
# joins two ≤ k-row frames per query — corpus-size-independent past
# the two retrieval operators themselves.
# ---------------------------------------------------------------------------

_Q305_K_LISTS = 10
_Q305_TOPK = 5
# L = lcm(61..70); entry r holds exactly L/(60+r) — precomputed so
# no division (of any kind) appears in the scoring path.
_Q305_RRF_L = 142_813_628_717_760
_Q305_RRF_SCALED = {
    1: 2_341_207_028_160, 2: 2_303_445_624_480, 3: 2_266_882_995_520,
    4: 2_231_462_948_715, 5: 2_197_132_749_504, 6: 2_163_842_859_360,
    7: 2_131_546_697_280, 8: 2_100_200_422_320, 9: 2_069_762_735_040,
    10: 2_040_194_695_968,
}
_Q305_VEC_SEED = 3050  # det_vector(3050 + query index)


def q305_rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.buckets import log2_bucket_case as lb
    from ai_data_pipeline_spark.functions.text import ws_tokens
    from ai_data_pipeline_spark.functions.vector import cosine
    from ai_data_pipeline_spark.plans.constants import det_vector

    docs = spread(_t(spark, sf_dir, "documents"))
    emb = _t(spark, sf_dir, "embeddings")

    # ---- keyword side: q296's exact-integer TF·IDF, top-10.
    needed = sorted({w for _, ts in _Q296_QUERIES for w in ts})
    postings = (
        docs.select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("token"))
        .filter(F.col("token").isin(needed))
        .localCheckpoint()  # df agg + scoring join
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n")).withColumn("j", F.lit(1))
    df_t = (
        postings.groupBy("token")
        .agg(F.count_distinct("doc_id").alias("df"))
        .withColumn("j", F.lit(1))
        .join(F.broadcast(n_docs), "j")
        .select("token", (lb(F.col("n") + 1) - lb(F.col("df") + 1)).alias("idf"))
    )
    qterms = spark.createDataFrame(
        [(qid, t) for qid, ts in _Q296_QUERIES for t in ts],
        "qid string, token string",
    )
    kw = (
        postings.join(F.broadcast(qterms), "token")
        .groupBy("qid", "doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(F.broadcast(df_t), "token")
        .groupBy("qid", "doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("idf")).cast("long").alias("score"),
            F.sum("tf").cast("long").alias("tf_total"),
        )
        .withColumn(
            "kw_rank",
            F.row_number()
            .over(
                Window.partitionBy("qid").orderBy(
                    F.desc("score"), F.desc("tf_total"), F.asc("doc_id")
                )
            )
            .cast("long"),
        )
        .filter(F.col("kw_rank") <= _Q305_K_LISTS)
        .select("qid", "doc_id", "kw_rank")
    )

    # ---- vector side: per-query literal det_vector, cosine top-10
    # over the doc embeddings (vec_id ≡ doc_id).
    qvecs = spark.createDataFrame(
        [
            (qid, det_vector(_Q305_VEC_SEED + i))
            for i, (qid, _) in enumerate(_Q296_QUERIES)
        ],
        "qid string, qvec array<double>",
    )
    vec = (
        emb.crossJoin(F.broadcast(qvecs))
        .select(
            "qid",
            F.col("vec_id").alias("doc_id"),
            cosine(F.col("embedding"), F.col("qvec")).alias("sim"),
        )
        .withColumn(
            "vec_rank",
            F.row_number()
            .over(Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("doc_id")))
            .cast("long"),
        )
        .filter(F.col("vec_rank") <= _Q305_K_LISTS)
        .select("qid", "doc_id", "vec_rank")
    )

    # ---- scaled-integer RRF fusion.
    def contrib(rank_col):
        e = F.lit(0).cast("long")
        for r, c in sorted(_Q305_RRF_SCALED.items()):
            e = F.when(rank_col == r, F.lit(c).cast("long")).otherwise(e)
        return e

    fused = (
        kw.join(vec, ["qid", "doc_id"], "full_outer")
        .select(
            "qid",
            "doc_id",
            F.coalesce(F.col("kw_rank"), F.lit(0)).cast("long").alias("kw_rank"),
            F.coalesce(F.col("vec_rank"), F.lit(0)).cast("long").alias("vec_rank"),
        )
        .withColumn(
            "rrf_scaled",
            contrib(F.col("kw_rank")) + contrib(F.col("vec_rank")),
        )
        .withColumn(
            "rank",
            F.row_number()
            .over(
                Window.partitionBy("qid").orderBy(
                    F.desc("rrf_scaled"), F.asc("doc_id")
                )
            )
            .cast("long"),
        )
        .filter(F.col("rank") <= _Q305_TOPK)
        .select("qid", "rank", "doc_id", "rrf_scaled", "kw_rank", "vec_rank")
    )
    return fused.orderBy("qid", "rank")


QUERIES["q305_rrf_hybrid_retrieval"] = q305_rrf_hybrid_retrieval


def _q305_oracle() -> str:
    from ai_data_pipeline_spark.functions.buckets import sql_log2_bucket_case
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams
    from ai_data_pipeline_spark.functions.vector import (
        sql_dot,
        sql_lit_list,
        sql_norm,
    )
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM, det_vector

    toks = sql_word_ngrams("text", 1)
    needed = sorted({w for _, ts in _Q296_QUERIES for w in ts})
    lits = ", ".join(f"'{w}'" for w in needed)
    qvals = ", ".join(
        f"('{qid}', '{t}')" for qid, ts in _Q296_QUERIES for t in ts
    )
    qvrows = ", ".join(
        f"('{qid}', {sql_lit_list(det_vector(_Q305_VEC_SEED + i))})"
        for i, (qid, _) in enumerate(_Q296_QUERIES)
    )
    cos = (
        f"({sql_dot('e.embedding', 'q.qvec', EMBED_DIM)}) / "
        f"(({sql_norm('e.embedding', EMBED_DIM)}) * ({sql_norm('q.qvec', EMBED_DIM)}))"
    )
    case_kw = " ".join(
        f"WHEN kw_rank = {r} THEN {c}" for r, c in sorted(_Q305_RRF_SCALED.items())
    )
    case_vec = " ".join(
        f"WHEN vec_rank = {r} THEN {c}" for r, c in sorted(_Q305_RRF_SCALED.items())
    )
    return f"""
    WITH post AS MATERIALIZED (
        SELECT doc_id, u.token
        FROM documents, LATERAL (SELECT unnest({toks}) AS token) u
        WHERE u.token IN ({lits})
    ), dfs AS (
        SELECT token,
               {sql_log2_bucket_case("((SELECT COUNT(*) FROM documents) + 1)")}
                 - {sql_log2_bucket_case("(COUNT(DISTINCT doc_id) + 1)")} AS idf
        FROM post GROUP BY token
    ), kw AS MATERIALIZED (
        SELECT qid, doc_id, kw_rank FROM (
            SELECT qid, doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY qid
                       ORDER BY score DESC, tf_total DESC, doc_id) AS kw_rank
            FROM (
                SELECT qid, doc_id, CAST(SUM(tf * idf) AS BIGINT) AS score,
                       CAST(SUM(tf) AS BIGINT) AS tf_total
                FROM (
                    SELECT q.qid, p.doc_id, p.token, COUNT(*) AS tf
                    FROM post p JOIN (VALUES {qvals}) AS q(qid, token)
                      ON q.token = p.token
                    GROUP BY 1, 2, 3
                ) tfs JOIN dfs ON dfs.token = tfs.token
                GROUP BY qid, doc_id))
        WHERE kw_rank <= {_Q305_K_LISTS}
    ), vec AS MATERIALIZED (
        SELECT qid, doc_id, vec_rank FROM (
            SELECT q.qid, e.vec_id AS doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.qid
                       ORDER BY {cos} DESC, e.vec_id) AS vec_rank
            FROM embeddings e CROSS JOIN (VALUES {qvrows}) AS q(qid, qvec))
        WHERE vec_rank <= {_Q305_K_LISTS}
    ), fused AS (
        SELECT COALESCE(kw.qid, vec.qid) AS qid,
               COALESCE(kw.doc_id, vec.doc_id) AS doc_id,
               CAST(COALESCE(kw.kw_rank, 0) AS BIGINT) AS kw_rank,
               CAST(COALESCE(vec.vec_rank, 0) AS BIGINT) AS vec_rank
        FROM kw FULL OUTER JOIN vec
          ON kw.qid = vec.qid AND kw.doc_id = vec.doc_id
    ), scored AS (
        SELECT qid, doc_id, kw_rank, vec_rank,
               CAST((CASE {case_kw} ELSE 0 END)
                    + (CASE {case_vec} ELSE 0 END) AS BIGINT) AS rrf_scaled
        FROM fused
    )
    SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id, rrf_scaled,
           kw_rank, vec_rank
    FROM (
        SELECT qid, doc_id, rrf_scaled, kw_rank, vec_rank,
               ROW_NUMBER() OVER (
                   PARTITION BY qid
                   ORDER BY rrf_scaled DESC, doc_id) AS rank
        FROM scored)
    WHERE rank <= {_Q305_TOPK}
    ORDER BY qid, rank
    """


ORACLE["q305_rrf_hybrid_retrieval"] = _q305_oracle()


# ---------------------------------------------------------------------------
# Q306 — postings-store COMPACTION (q300's OPTIMIZE applied to the
# SECOND store family — the r11 verdict's #2 names both: "q299/q294
# admit by appending small files per cell/token partition"): three
# md5-split ingest generations append FULL (unpruned) postings into
# the q301 token-bucketed layout — each generation adds one file
# per bucket it touches (the q250 invariant via
# repartition-on-the-partition-column), so every bucket carries ~3
# small files whose parquet stats all span the same token ranges
# (pushdown skips nothing — the tiny-file cliff). Compaction
# rewrites ONE file per bucket, sorted by (token, doc_id, pos), into
# a NEW snapshot directory (write-then-swap, q300's pattern), so
# within a bucket the token column is clustered and row-group
# pruning works for single-token reads. Graded invariance: the
# per-token digest (distinct docs, posting rows, bit_xor of
# md5-60(doc:pos) — q294's order-independent digest) computed from a
# BUCKET-PRUNED read of the COMPACTED store over the probe tokens
# must equal the oracle's recompute straight off `documents`; plus
# the file-count audit (before = Σ per-gen buckets touched, after =
# occupied buckets) via input_file_name(). Scale: compaction
# shuffles the store once keyed by the partition column; the digest
# read prunes to |probe-token buckets| directories.
# ---------------------------------------------------------------------------

_Q306_GENS = 3


def q306_postings_store_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ai_data_pipeline_spark.functions.text import ws_tokens

    docs = spread(_t(spark, sf_dir, "documents"))
    u40 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    postings = docs.select(
        "doc_id",
        F.posexplode(ws_tokens(F.col("text"))).alias("pos", "token"),
    ).select(
        "doc_id",
        "pos",
        "token",
        F.pmod(
            F.conv(F.substring(F.md5(F.col("token")), 1, 10), 16, 10).cast("long"),
            F.lit(_Q301_BUCKETS),
        ).alias("tb"),
        F.pmod(u40, F.lit(_Q306_GENS)).alias("gen"),
    )

    tmp = tempfile.mkdtemp(prefix="q306_")
    raw_path = tmp + "/postings_appended"
    compact_path = tmp + "/postings_compacted"
    try:
        for g in range(_Q306_GENS):
            mode = "overwrite" if g == 0 else "append"
            (
                postings.filter(F.col("gen") == g)
                .select("doc_id", "pos", "token", "tb")
                .repartition("tb")
                .write.mode(mode)
                .partitionBy("tb")
                .parquet(raw_path)
            )
        store = spark.read.parquet(raw_path)
        files_before = (
            store.select(F.input_file_name().alias("f"))
            .agg(F.count_distinct("f").cast("long").alias("n"))
        )
        (
            store.repartition("tb")
            .sortWithinPartitions("tb", "token", "doc_id", "pos")
            .write.mode("overwrite")
            .partitionBy("tb")
            .parquet(compact_path)
        )
        store2 = spark.read.parquet(compact_path)
        files_after = (
            store2.select(F.input_file_name().alias("f"))
            .agg(F.count_distinct("f").cast("long").alias("n"))
        )
        # bucket-pruned digest read over the probe tokens.
        ph = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("pos").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        digests = (
            store2.filter(
                F.col("tb").isin([int(b) for b in _Q301_SCAN_BUCKETS])
                & F.col("token").isin(list(_Q301_TOKENS))
            )
            .select("token", "doc_id", ph.alias("ph"))
            .groupBy("token")
            .agg(
                F.count_distinct("doc_id").cast("long").alias("n_docs"),
                F.count(F.lit(1)).cast("long").alias("n_postings"),
                F.bit_xor("ph").cast("long").alias("postings_xor"),
            )
            .orderBy("token")
            .collect()  # ≤ |probe tokens| rows, before temp-dir cleanup
        )
        nfb = int(files_before.collect()[0]["n"])  # 1 row
        nfa = int(files_after.collect()[0]["n"])  # 1 row
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    out = spark.createDataFrame(
        digests, "token string, n_docs long, n_postings long, postings_xor long"
    )
    return (
        out.withColumn("n_files_before", F.lit(nfb).cast("long"))
        .withColumn("n_files_after", F.lit(nfa).cast("long"))
        .orderBy("token")
    )


QUERIES["q306_postings_store_compaction"] = q306_postings_store_compaction


# Oracle: per-token digests straight off `documents` (q294's shape —
# the generations, both writes, and the compaction must be
# value-invisible); file audit = distinct (gen, bucket) occupancy
# before vs distinct occupied buckets after, from the same md5
# splits.
def _q306_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    lits = ", ".join(f"'{w}'" for w in _Q301_TOKENS)
    toks = sql_word_ngrams("text", 1)
    return f"""
    WITH post AS MATERIALIZED (
        SELECT doc_id, u.pos - 1 AS pos, u.token,
               (('0x' || substr(md5(u.token), 1, 10))::BIGINT)
                   % {_Q301_BUCKETS} AS tb,
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT)
                   % {_Q306_GENS} AS gen
        FROM documents,
             LATERAL (SELECT unnest({toks}) AS token,
                             generate_subscripts({toks}, 1) AS pos) u
    ), audit AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT)
                FROM (SELECT DISTINCT gen, tb FROM post)) AS n_files_before,
               (SELECT CAST(COUNT(DISTINCT tb) AS BIGINT) FROM post)
                   AS n_files_after
    )
    SELECT token,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_postings,
           CAST(bit_xor((('0x' || substr(md5(doc_id || ':' || pos), 1, 15))::BIGINT))
                AS BIGINT) AS postings_xor,
           a.n_files_before, a.n_files_after
    FROM post CROSS JOIN audit a
    WHERE token IN ({lits})
    GROUP BY token, a.n_files_before, a.n_files_after
    ORDER BY token
    """


ORACLE["q306_postings_store_compaction"] = _q306_oracle()


# ---------------------------------------------------------------------------
# Q307 — curated-release EXPORT with a verifiable manifest (the
# last mile of the training-data pipeline: after curation the
# release must ship as evenly-sharded, range-clustered files PLUS a
# manifest the consumer can verify without trusting the producer —
# q212 writes the dataset card, this writes the dataset): the 'en'
# subset (the release) is sharded by NTILE(8) OVER (ORDER BY
# doc_id) — deterministic, near-equal, RANGE-contiguous shards (the
# ANSI NTILE split both engines implement identically; never
# repartitionByRange, whose sampled boundaries are
# run-dependent) — written one file per shard (repartition on the
# partition column), sorted by doc_id within each so footer stats
# are tight and any doc_id point-read touches one file. The graded
# manifest is computed from the READ-BACK (never from the frame
# that was written — the manifest must attest what's on disk):
# per shard n_rows / min/max doc_id / bit_xor of md5-60(doc_id)
# (order-independent content digest, q294's family) / n_files
# (= 1, the export contract). Scale: one rank window over the
# release (q205's prefix-sum law) + one shard-keyed shuffle;
# manifest is a per-shard agg.
# ---------------------------------------------------------------------------

_Q307_SHARDS = 8
_Q307_LANG = "en"


def q307_release_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ai_data_pipeline_spark.operators.curation import distributed_prefix_sum

    docs = _t(spark, sf_dir, "documents")
    release = docs.filter(F.col("lang") == _Q307_LANG).select(
        "doc_id", "text", "source"
    )
    # Global rank WITHOUT a global single-task window: two-pass
    # distributed prefix sum over a doc_id-monotone range bucket
    # (doc_id/512 — power-of-two divisor, floor exact), then the
    # NTILE split derived in PURE INTEGER comparisons: with n rows
    # and K tiles, q = n >> 3, r = n % 8, tile s ends at
    # cum(s) = s·q + min(s, r); shard = 1 + Σ_{s<K} [rank > cum(s)]
    # — bit-identical to ANSI NTILE(8) ORDER BY doc_id (first r
    # tiles carry q+1 rows), no division anywhere.
    bucketed = release.withColumn(
        "_rb", F.floor(F.col("doc_id") / F.lit(512.0)).cast("long")
    ).withColumn("_one", F.lit(1).cast("long"))
    ranked = distributed_prefix_sum(
        bucketed, "_rb", ["doc_id"], "_one", out_col="rank"
    )
    n1 = release.agg(F.count(F.lit(1)).cast("long").alias("n")).withColumn(
        "_j", F.lit(1)
    )
    qn = F.shiftright(F.col("n"), 3)
    rn = F.pmod(F.col("n"), F.lit(8))
    shard_expr = F.lit(1).cast("int")
    for s in range(1, _Q307_SHARDS):
        cum_s = F.lit(s) * qn + F.least(F.lit(s).cast("long"), rn)
        shard_expr = shard_expr + (F.col("rank") > cum_s).cast("int")
    sharded = (
        ranked.withColumn("_j", F.lit(1))
        .join(F.broadcast(n1), "_j")
        .withColumn("shard", shard_expr)
        .select("doc_id", "text", "source", "shard")
    )
    tmp = tempfile.mkdtemp(prefix="q307_")
    path = tmp + "/release_sharded"
    try:
        (
            sharded.repartition("shard")
            .sortWithinPartitions("shard", "doc_id")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(path)
        )
        back = spark.read.parquet(path)
        dg = F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
        manifest = (
            back.select(
                F.col("shard").cast("long").alias("shard"),
                "doc_id",
                dg.alias("dg"),
                F.input_file_name().alias("f"),
            )
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.min("doc_id").cast("long").alias("min_doc_id"),
                F.max("doc_id").cast("long").alias("max_doc_id"),
                F.bit_xor("dg").cast("long").alias("content_xor"),
                F.count_distinct("f").cast("long").alias("n_files"),
            )
            .orderBy("shard")
            .collect()  # |shards| rows, before temp-dir cleanup
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        manifest,
        "shard long, n_rows long, min_doc_id long, max_doc_id long, "
        "content_xor long, n_files long",
    ).orderBy("shard")


QUERIES["q307_release_export_manifest"] = q307_release_export_manifest


# Oracle: the identical NTILE split + digests straight off
# `documents`; n_files = 1 is the export contract the Spark side
# must have enforced on disk (the q250 one-file-per-partition
# invariant under repartition-on-the-partition-column).
ORACLE["q307_release_export_manifest"] = f"""
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
           CAST(bit_xor((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT))
                AS BIGINT) AS content_xor,
           CAST(1 AS BIGINT) AS n_files
    FROM (
        SELECT doc_id, NTILE({_Q307_SHARDS}) OVER (ORDER BY doc_id) AS shard
        FROM documents
        WHERE lang = '{_Q307_LANG}')
    GROUP BY shard
    ORDER BY shard
"""


# ---------------------------------------------------------------------------
# Q308 — SELECTIVE compaction (the OPTIMIZE planner q300/q306 stop
# short of: a production OPTIMIZE never rewrites the whole store —
# it lists partitions whose file count crosses a threshold and
# rewrites ONLY those, leaving cold partitions' files physically
# untouched): ingest skew is modeled deterministically — the base
# generation covers every cell, delta-1 (md5-gen 1) lands only in
# cells ≤ 3, delta-2 (md5-gen 2) only in cells ≤ 1 (hot partitions
# accumulate more appends, exactly the production fragmentation
# pattern), so cells 0-1 carry 3 files, 2-3 carry 2, 4-7 carry 1.
# The planner reads files-per-cell from the store itself
# (input_file_name — never a driver directory listing), flags cells
# with ≥ 2 files, and rewrites ONLY flagged cells via dynamic
# partition overwrite (the frame localCheckpointed first — the
# overwrite-lineage rule; the ≤ |cells| flagged list is a
# count-gated collect). Graded per cell: rows, files before/after,
# the compacted flag, and the bit_xor content digest (invariance —
# compaction must not change a byte of content, and untouched cells
# must keep their file count). Scale: the rewrite shuffles only the
# flagged cells' rows; the planner is a metadata-cardinality agg.
# ---------------------------------------------------------------------------

_Q308_GENS = 3
_Q308_MINFILES = 2
_Q308_D1_MAXCELL = 3
_Q308_D2_MAXCELL = 1


def q308_selective_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ai_data_pipeline_spark.operators.vectorized import ivf_assign_np
    from ai_data_pipeline_spark.plans.constants import Q28_CENTROIDS

    emb = _t(spark, sf_dir, "embeddings")
    u40 = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    corpus = ivf_assign_np(emb, Q28_CENTROIDS).select(
        "vec_id", "embedding", F.col("cell").cast("int").alias("cell"),
        F.pmod(u40, F.lit(_Q308_GENS)).alias("gen"),
    )
    d1 = (F.col("gen") == 1) & (F.col("cell") <= _Q308_D1_MAXCELL)
    d2 = (F.col("gen") == 2) & (F.col("cell") <= _Q308_D2_MAXCELL)

    tmp = tempfile.mkdtemp(prefix="q308_")
    path = tmp + "/store"
    try:
        for mode, cond in (
            ("overwrite", ~d1 & ~d2),
            ("append", d1),
            ("append", d2),
        ):
            (
                corpus.filter(cond)
                .select("vec_id", "embedding", "cell")
                .repartition("cell")
                .write.mode(mode)
                .partitionBy("cell")
                .parquet(path)
            )
        store = spark.read.parquet(path)
        # localCheckpoint: the planner frame is re-read AFTER the
        # selective overwrite deletes the very files it counted —
        # pin the ≤ |cells| rows now (same lineage-over-overwritten-
        # path rule as the rewrite frame below).
        before = (
            store.select("cell", F.input_file_name().alias("f"))
            .groupBy("cell")
            .agg(F.count_distinct("f").cast("long").alias("files_before"))
            .localCheckpoint()
        )
        flagged = sorted(
            int(r["cell"])
            for r in before.filter(
                F.col("files_before") >= _Q308_MINFILES
            ).collect()  # ≤ |cells| rows — count-gated by construction
        )
        # selective OPTIMIZE: rewrite ONLY the flagged cells (frame
        # pinned before overwriting the path its lineage reads).
        # Per-write dynamic-overwrite option (vanilla-session parity).
        hot = (
            store.filter(F.col("cell").cast("int").isin(flagged))
            .select("vec_id", "embedding", "cell")
            .localCheckpoint()
        )
        hot.repartition("cell").write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("cell").parquet(path)

        store2 = spark.read.parquet(path)
        dg = F.conv(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
        audit = (
            store2.select(
                F.col("cell").cast("long").alias("cell"),
                "vec_id",
                dg.alias("dg"),
                F.input_file_name().alias("f"),
            )
            .groupBy("cell")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.count_distinct("f").cast("long").alias("files_after"),
                F.bit_xor("dg").cast("long").alias("content_xor"),
            )
            .join(
                before.select(F.col("cell").cast("long").alias("cell"), "files_before"),
                "cell",
            )
            .select(
                "cell",
                "n_rows",
                "files_before",
                "files_after",
                F.col("cell")
                .isin([int(c) for c in flagged])
                .cast("long")
                .alias("compacted"),
                "content_xor",
            )
            .orderBy("cell")
            .collect()  # |cells| rows, before temp-dir cleanup
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        audit,
        "cell long, n_rows long, files_before long, files_after long, "
        "compacted long, content_xor long",
    ).orderBy("cell")


QUERIES["q308_selective_compaction"] = q308_selective_compaction


# Oracle: per-cell file arithmetic from the same md5 generation
# split + the skewed delta routing (base always present — every
# cell has ≥ 1 non-delta row at the graded SFs; deltas contribute a
# file iff their (gen, cell-range) slice is non-empty); flagged ⇔
# files_before ≥ 2 ⇒ files_after 1, else unchanged; digests off
# `embeddings`.
def _q308_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import (
        sql_lit_list,
        sql_squared_l2,
    )
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM, Q28_CENTROIDS

    cells = ", ".join(
        f"struct_pack(d := {sql_squared_l2('embedding', sql_lit_list(c), EMBED_DIM)}, c := {ci})"
        for ci, c in enumerate(Q28_CENTROIDS)
    )
    return f"""
    WITH flags AS MATERIALIZED (
        SELECT vec_id,
               (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 10))::BIGINT)
                   % {_Q308_GENS} AS gen,
               struct_extract((list_sort([{cells}]))[1], 'c') AS cell
        FROM embeddings
    ), routed AS (
        SELECT vec_id, cell,
               CASE WHEN gen = 1 AND cell <= {_Q308_D1_MAXCELL} THEN 1
                    WHEN gen = 2 AND cell <= {_Q308_D2_MAXCELL} THEN 2
                    ELSE 0 END AS file_slot
        FROM flags
    ), percell AS (
        SELECT CAST(cell AS BIGINT) AS cell,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT file_slot) AS BIGINT) AS files_before,
               CAST(bit_xor((('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT))
                    AS BIGINT) AS content_xor
        FROM routed
        GROUP BY cell
    )
    SELECT cell, n_rows, files_before,
           CAST(CASE WHEN files_before >= {_Q308_MINFILES}
                THEN 1 ELSE files_before END AS BIGINT) AS files_after,
           CAST(CASE WHEN files_before >= {_Q308_MINFILES}
                THEN 1 ELSE 0 END AS BIGINT) AS compacted,
           content_xor
    FROM percell
    ORDER BY cell
    """


ORACLE["q308_selective_compaction"] = _q308_oracle()


# ---------------------------------------------------------------------------
# Q309 — boolean OR / AND-NOT retrieval (completing the
# inverted-index query algebra: q290 grades phrase + AND, q296/q301
# the ranked read; OR and exclusion are the two remaining
# production verbs): served from the postings shape with q290's
# pruning posture (postings restricted to the queried tokens —
# bucket pruning of the materialized store, whose full build cost
# q301 pays and grades separately). OR(t1..tk): a doc qualifies if
# it holds ANY term; n_occurrences = total occurrences of any term
# in qualifying docs. AND-NOT(a, b): docs holding a with ZERO
# occurrences of b — computed INDEX-ONLY as a's postings LEFT ANTI
# JOIN b's doc set (exclusion never needs a corpus scan, only b's
# postings list — the property that makes negation cheap on an
# inverted index while a scan-based engine pays a full pass).
# Output: q301's uniform shape (top_doc_id = MIN matching doc,
# top_score NULL — boolean semantics are scoreless). Scale: both
# verbs touch only the queried tokens' postings; the anti-join
# shuffles ≤ |a's postings| + |b's doc set| rows on doc_id.
# ---------------------------------------------------------------------------

_Q309_ORS = [("o1", ["dup", "merge"]), ("o2", ["spark", "window", "key"])]
_Q309_ANDNOTS = [("n1", "batch", "dup"), ("n2", "the", "stream")]


def q309_boolean_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import ws_tokens

    docs = spread(_t(spark, sf_dir, "documents"))
    needed = sorted(
        {w for _, ts in _Q309_ORS for w in ts}
        | {a for _, a, _b in _Q309_ANDNOTS}
        | {b for _, _a, b in _Q309_ANDNOTS}
    )
    postings = (
        docs.select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("token"))
        .filter(F.col("token").isin(needed))
        .localCheckpoint()  # one consumer per query block below
    )

    frames = []
    for qid, terms in _Q309_ORS:
        hits = postings.filter(F.col("token").isin(terms))
        frames.append(
            hits.agg(
                F.count(F.lit(1)).cast("long").alias("n_occurrences"),
                F.count_distinct("doc_id").cast("long").alias("n_docs"),
                F.min("doc_id").cast("long").alias("top_doc_id"),
            ).select(
                F.lit(qid).alias("query_id"),
                F.lit("or").alias("kind"),
                F.lit(" ".join(terms)).alias("query"),
                "n_docs",
                "n_occurrences",
                "top_doc_id",
                F.lit(None).cast("long").alias("top_score"),
            )
        )
    for qid, a, b in _Q309_ANDNOTS:
        a_post = postings.filter(F.col("token") == a)
        b_docs = postings.filter(F.col("token") == b).select("doc_id").distinct()
        kept = a_post.join(b_docs, "doc_id", "left_anti")
        frames.append(
            kept.agg(
                F.count(F.lit(1)).cast("long").alias("n_occurrences"),
                F.count_distinct("doc_id").cast("long").alias("n_docs"),
                F.min("doc_id").cast("long").alias("top_doc_id"),
            ).select(
                F.lit(qid).alias("query_id"),
                F.lit("andnot").alias("kind"),
                F.lit(f"{a} -{b}").alias("query"),
                "n_docs",
                "n_occurrences",
                "top_doc_id",
                F.lit(None).cast("long").alias("top_score"),
            )
        )
    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionByName(fdf)
    return out.orderBy("query_id")


QUERIES["q309_boolean_retrieval"] = q309_boolean_retrieval


def _q309_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    toks = sql_word_ngrams("text", 1)
    parts = []
    for qid, terms in _Q309_ORS:
        occ = " + ".join(
            f"len(list_filter({toks}, t -> t = '{w}'))" for w in terms
        )
        q = " ".join(terms)
        parts.append(f"""
        SELECT '{qid}' AS query_id, 'or' AS kind, '{q}' AS query,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COALESCE(SUM(occ), 0) AS BIGINT) AS n_occurrences,
               CAST(MIN(doc_id) AS BIGINT) AS top_doc_id,
               CAST(NULL AS BIGINT) AS top_score
        FROM (
            SELECT doc_id, {occ} AS occ FROM documents)
        WHERE occ > 0
        """)
    for qid, a, b in _Q309_ANDNOTS:
        na = f"len(list_filter({toks}, t -> t = '{a}'))"
        nb = f"len(list_filter({toks}, t -> t = '{b}'))"
        parts.append(f"""
        SELECT '{qid}' AS query_id, 'andnot' AS kind, '{a} -{b}' AS query,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COALESCE(SUM(na), 0) AS BIGINT) AS n_occurrences,
               CAST(MIN(doc_id) AS BIGINT) AS top_doc_id,
               CAST(NULL AS BIGINT) AS top_score
        FROM (
            SELECT doc_id, {na} AS na, {nb} AS nb FROM documents)
        WHERE na > 0 AND nb = 0
        """)
    body = " UNION ALL ".join(parts)
    return f"SELECT * FROM ({body}) ORDER BY query_id"


ORACLE["q309_boolean_retrieval"] = _q309_oracle()


# ---------------------------------------------------------------------------
# Q310 — incremental MANIFEST maintenance (q307's export artifact
# gets the q289/q294 lifecycle treatment: a daily append must
# update the release manifest WITHOUT re-digesting the whole store
# — at 100 TB the manifest refresh reads only the shards the delta
# touched): shards here are FIXED doc_id ranges (width 64 — range
# sharding is what makes appends LOCAL: new arrivals carry high ids
# and land in the tail shard(s); q307's NTILE resharding would
# move every row on every append, which is exactly why production
# manifests shard by fixed ranges or hash, never by global rank).
# The base store (doc_id ≤ max−64) is written and its manifest
# digested; the delta (the last range width of ids) APPENDS —
# existing shard files untouched; the manifest UPDATE re-digests
# ONLY shards present in the delta, read back BUCKET-PRUNED from
# the store (PartitionFilters on shard), and merges with the
# untouched base manifest rows. Graded: the merged manifest ≡ the
# oracle's full recompute (update-vs-rebuild equivalence — the
# invariant that keeps an incrementally-maintained manifest
# trustworthy), with per-shard n_files (1 for untouched, 2 for
# appended — append adds a file; compaction is q300/q306/q308's
# job) and the updated flag. Scale: the delta write shuffles
# |delta| rows; the refresh reads |touched shards| directories.
# ---------------------------------------------------------------------------

_Q310_WIDTH = 64
_Q310_LANG = "en"


def q310_incremental_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    release = docs.filter(F.col("lang") == _Q310_LANG).select("doc_id", "text")
    # fixed-width range shard: power-of-two divisor → floor exact.
    shard_of = F.floor(F.col("doc_id") / F.lit(float(_Q310_WIDTH))).cast("int")
    maxid = release.agg(F.max("doc_id").alias("m")).withColumn("_j", F.lit(1))
    flagged = (
        release.withColumn("_j", F.lit(1))
        .join(F.broadcast(maxid), "_j")
        .withColumn("is_delta", (F.col("doc_id") > F.col("m") - _Q310_WIDTH))
        .select("doc_id", "text", shard_of.alias("shard"), "is_delta")
    )

    dg = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")

    def manifest_of(frame):
        return (
            frame.select(
                F.col("shard").cast("long").alias("shard"),
                "doc_id",
                dg.alias("dg"),
                F.input_file_name().alias("f"),
            )
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.min("doc_id").cast("long").alias("min_doc_id"),
                F.max("doc_id").cast("long").alias("max_doc_id"),
                F.bit_xor("dg").cast("long").alias("content_xor"),
                F.count_distinct("f").cast("long").alias("n_files"),
            )
        )

    tmp = tempfile.mkdtemp(prefix="q310_")
    path = tmp + "/release_by_shard"
    try:
        base = flagged.filter(~F.col("is_delta")).select("doc_id", "text", "shard")

        # r14 opt (guide §2.4/§2.6, the q315 pattern): the delta is
        # ONE range width (≤ _Q310_WIDTH docs) — pin it once instead
        # of re-scanning the corpus for the append AND the touched
        # collect; overlap that narrow checkpoint with the (base
        # write → manifest v1) chain, which must stay sequential
        # (v1 must not see delta rows). The base write pins its
        # partition count (REPARTITION_BY_NUM is not AQE-coalesced →
        # parallel write; still one file per shard).
        def build_base():
            base.repartition(
                spark.sparkContext.defaultParallelism, "shard"
            ).write.mode("overwrite").partitionBy("shard").parquet(path)
            # manifest v1 — pinned: its rows must survive the append
            # untouched (and its lineage must not re-read the store).
            return manifest_of(spark.read.parquet(path)).localCheckpoint()

        def build_delta():
            return (
                flagged.filter(F.col("is_delta"))
                .select("doc_id", "text", "shard")
                .localCheckpoint()  # ≤ one range width of rows
            )

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fm, fd = pool.submit(build_base), pool.submit(build_delta)
            m1, delta = fm.result(), fd.result()
        # the daily append: existing shard files untouched.
        delta.repartition("shard").write.mode("append").partitionBy(
            "shard"
        ).parquet(path)
        # the incremental refresh: ONLY shards the delta touched,
        # read PARTITION-PRUNED from the store (the delta spans one
        # range width → ≤ 2 consecutive shards; the collect is
        # count-gated by construction). Listing only the touched
        # shard directories (basePath keeps the partition column)
        # skips the full |shards|-directory store listing; literal
        # dirs also keep input_file_name single-source.
        touched = sorted(
            int(r["shard"]) for r in delta.select("shard").distinct().collect()
        )
        merged = m1.filter(
            ~F.col("shard").isin([int(t) for t in touched])
        ).withColumn("updated", F.lit(0).cast("long"))
        if touched:  # an empty delta touches no shard: nothing to re-read
            refreshed = manifest_of(
                spark.read.option("basePath", path).parquet(
                    *[f"{path}/shard={s}" for s in touched]
                )
            ).withColumn("updated", F.lit(1).cast("long"))
            merged = merged.unionByName(refreshed)
        out = merged.orderBy("shard").collect()  # |shards| rows
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        out,
        "shard long, n_rows long, min_doc_id long, max_doc_id long, "
        "content_xor long, n_files long, updated long",
    ).orderBy("shard")


QUERIES["q310_incremental_manifest"] = q310_incremental_manifest


# Oracle: the FULL manifest recompute straight off `documents` —
# update-vs-rebuild equivalence is the graded claim; n_files and
# updated derived from the same range split (a shard is touched iff
# it holds a delta id; touched shards carry 2 files — base + the
# appended delta file — unless the shard is delta-only, created by
# the append with 1 file).
ORACLE["q310_incremental_manifest"] = f"""
    WITH rel AS MATERIALIZED (
        SELECT doc_id,
               CAST(floor(doc_id / {_Q310_WIDTH}.0) AS BIGINT) AS shard,
               (doc_id > (SELECT MAX(doc_id) FROM documents
                          WHERE lang = '{_Q310_LANG}') - {_Q310_WIDTH})
                   AS is_delta
        FROM documents
        WHERE lang = '{_Q310_LANG}'
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
           CAST(bit_xor((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT))
                AS BIGINT) AS content_xor,
           CAST(CASE WHEN BOOL_OR(is_delta) AND BOOL_OR(NOT is_delta) THEN 2
                     ELSE 1 END AS BIGINT) AS n_files,
           CAST(CASE WHEN BOOL_OR(is_delta) THEN 1 ELSE 0 END AS BIGINT) AS updated
    FROM rel
    GROUP BY shard
    ORDER BY shard
"""


# ---------------------------------------------------------------------------
# Q311 — filtered-ANN nprobe ESCALATION (the production fallback
# q304's docstring names: a selective filter can leave the probed
# cells with FEWER than k candidates — post-hoc under-filled top-k
# is the classic filtered-ANN failure; the deployed behavior is to
# escalate nprobe until the pool fills, terminally falling back to
# a full filtered scan): per (q27 query × label ∈ {3, 7}), the
# candidate pool is counted at the probe ladder nprobe ∈ {1, 2, 4}
# (cell ranks per query are plan-time constants — one broadcast of
# an 8-row (qid, cell, rk) frame; each vector lives in exactly one
# cell, so its ladder tier is its cell's rank); chosen_nprobe =
# the first rung with ≥ K candidates, else 8 (= all cells: the
# full-filtered-scan terminal fallback). The served answer is the
# top-1 by (cosine DESC, vec_id) within the CHOSEN pool. Graded:
# the pool counts at every rung, the chosen rung, and the served
# top-1 — the decision procedure itself is the operator. Scale:
# ONE join of the filtered corpus against the 8-row rank frame
# computes every rung's count simultaneously (conditional aggs on
# the cell rank — never one pass per rung).
# ---------------------------------------------------------------------------

_Q311_LABELS = [3, 7]
_Q311_K = 5
_Q311_LADDER = [1, 2, 4]


def q311_nprobe_escalation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.vector import cosine
    from ai_data_pipeline_spark.operators.vectorized import ivf_assign_np
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS, Q28_CENTROIDS
    from ai_data_pipeline_spark.plans.pipeline_queries import _sqdist_py

    emb = _t(spark, sf_dir, "embeddings")
    corpus = ivf_assign_np(emb, Q28_CENTROIDS).select(
        "vec_id", "embedding", "label", F.col("cell").cast("int").alias("cell")
    )
    rows = []
    for qi, qv in enumerate(Q27_QUERY_VECS):
        cdist = [_sqdist_py(c, qv) for c in Q28_CENTROIDS]
        order = sorted(range(len(Q28_CENTROIDS)), key=lambda k: (cdist[k], k))
        for rk, c in enumerate(order, start=1):
            rows.append((qi, [float(x) for x in qv], c, rk))
    qcells = spark.createDataFrame(
        rows, "qid long, qvec array<double>, cell int, rk int"
    )
    cand = (
        corpus.filter(F.col("label").isin([int(x) for x in _Q311_LABELS]))
        .join(F.broadcast(qcells), "cell")
        .select(
            "qid",
            F.col("label").cast("long").alias("flt_label"),
            "vec_id",
            "rk",
            cosine(F.col("embedding"), F.col("qvec")).alias("sim"),
        )
    )
    counts = cand.groupBy("qid", "flt_label").agg(
        *[
            F.sum((F.col("rk") <= np).cast("int"))
            .cast("long")
            .alias(f"n_cand_np{np}")
            for np in _Q311_LADDER
        ]
    )
    chosen = F.when(F.col(f"n_cand_np{_Q311_LADDER[0]}") >= _Q311_K, _Q311_LADDER[0])
    for np in _Q311_LADDER[1:]:
        chosen = chosen.when(F.col(f"n_cand_np{np}") >= _Q311_K, np)
    counts = counts.withColumn(
        "chosen_nprobe", chosen.otherwise(8).cast("long")
    )
    pool = cand.join(F.broadcast(counts), ["qid", "flt_label"]).filter(
        F.col("rk") <= F.col("chosen_nprobe")
    )
    top1 = (
        pool.withColumn(
            "r1",
            F.row_number().over(
                Window.partitionBy("qid", "flt_label").orderBy(
                    F.desc("sim"), F.asc("vec_id")
                )
            ),
        )
        .filter(F.col("r1") == 1)
        .select("qid", "flt_label", F.col("vec_id").alias("top1_vec_id"),
                F.col("sim").alias("top1_sim"))
    )
    return (
        counts.join(top1, ["qid", "flt_label"])
        .select(
            "qid", "flt_label",
            *[f"n_cand_np{np}" for np in _Q311_LADDER],
            "chosen_nprobe", "top1_vec_id", "top1_sim",
        )
        .orderBy("qid", "flt_label")
    )


QUERIES["q311_nprobe_escalation"] = q311_nprobe_escalation


def _q311_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import (
        sql_dot,
        sql_lit_list,
        sql_norm,
        sql_squared_l2,
    )
    from ai_data_pipeline_spark.plans.constants import (
        EMBED_DIM,
        Q27_QUERY_VECS,
        Q28_CENTROIDS,
    )
    from ai_data_pipeline_spark.plans.pipeline_queries import _sqdist_py

    qc = []
    for qi, qv in enumerate(Q27_QUERY_VECS):
        cdist = [_sqdist_py(c, qv) for c in Q28_CENTROIDS]
        order = sorted(range(len(Q28_CENTROIDS)), key=lambda k: (cdist[k], k))
        for rk, c in enumerate(order, start=1):
            qc.append(f"({qi}, {sql_lit_list(qv)}, {c}, {rk})")
    qcells = ", ".join(qc)
    cells = ", ".join(
        f"struct_pack(d := {sql_squared_l2('embedding', sql_lit_list(c), EMBED_DIM)}, c := {ci})"
        for ci, c in enumerate(Q28_CENTROIDS)
    )
    cos = (
        f"({sql_dot('a.embedding', 'q.qvec', EMBED_DIM)}) / "
        f"(({sql_norm('a.embedding', EMBED_DIM)}) * ({sql_norm('q.qvec', EMBED_DIM)}))"
    )
    labels = ", ".join(str(x) for x in _Q311_LABELS)
    n_aggs = ", ".join(
        f"CAST(SUM(CASE WHEN rk <= {np} THEN 1 ELSE 0 END) AS BIGINT) AS n_cand_np{np}"
        for np in _Q311_LADDER
    )
    chosen = "CASE " + " ".join(
        f"WHEN n_cand_np{np} >= {_Q311_K} THEN {np}" for np in _Q311_LADDER
    ) + " ELSE 8 END"
    return f"""
    WITH filt AS MATERIALIZED (
        SELECT vec_id, embedding, label,
               struct_extract((list_sort([{cells}]))[1], 'c') AS cell
        FROM embeddings
        WHERE label IN ({labels})
    ), cand AS MATERIALIZED (
        SELECT q.qid, CAST(a.label AS BIGINT) AS flt_label, a.vec_id,
               q.rk, {cos} AS sim
        FROM filt a JOIN (VALUES {qcells}) AS q(qid, qvec, cell, rk)
          ON q.cell = a.cell
    ), counts AS (
        SELECT qid, flt_label, {n_aggs}
        FROM cand GROUP BY qid, flt_label
    ), chosen AS (
        SELECT *, CAST({chosen} AS BIGINT) AS chosen_nprobe FROM counts
    ), top1 AS (
        SELECT qid, flt_label, vec_id AS top1_vec_id, sim AS top1_sim
        FROM (
            SELECT c.qid, c.flt_label, c.vec_id, c.sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.qid, c.flt_label
                       ORDER BY c.sim DESC, c.vec_id) AS r1
            FROM cand c JOIN chosen h
              ON h.qid = c.qid AND h.flt_label = c.flt_label
            WHERE c.rk <= h.chosen_nprobe)
        WHERE r1 = 1
    )
    SELECT CAST(h.qid AS BIGINT) AS qid, h.flt_label,
           {", ".join(f"h.n_cand_np{np}" for np in _Q311_LADDER)},
           h.chosen_nprobe, t.top1_vec_id, t.top1_sim
    FROM chosen h JOIN top1 t
      ON t.qid = h.qid AND t.flt_label = h.flt_label
    ORDER BY h.qid, h.flt_label
    """


ORACLE["q311_nprobe_escalation"] = _q311_oracle()


# ---------------------------------------------------------------------------
# Q312 — copy-on-write SNAPSHOT isolation / time-travel reads (the
# table-format guarantee — Iceberg/Delta's essence — expressed with
# nothing but parquet files and a file-list manifest, so the
# engine's store lifecycle is complete: build q250, append q299,
# merge q289, delete q293/q297, compact q300/q306/q308, export
# manifest q307/q310, and now VERSIONED READS): snapshot v1 = the
# base corpus written one file per cell; the delta batch APPENDS
# new files to the same directory — v1's files are never touched,
# so snapshot v2's manifest = v1's file list + the delta's files
# (copy-on-write: the two snapshots SHARE v1's files; nothing is
# rewritten). A reader pinned to either manifest sees exactly that
# state: the graded claim is that the top-3 search over the
# v1-manifest read equals the oracle's BASE-state recompute while
# the v2-manifest read equals the FULL-state recompute — i.e. the
# append is invisible to v1 readers (snapshot isolation) and fully
# visible to v2 readers — plus the file-accounting audit
# (n_files_v1 / n_files_v2 / n_shared = n_files_v1, the COW
# sharing property). File lists come from the store's own
# input_file_name read-back (≤ |cells| files per snapshot — the
# collect is count-gated by construction; at 100 TB the manifest
# lives in the catalog, exactly as here). Scale: the append
# shuffles |batch| rows; neither snapshot read lists the other's
# files.
# ---------------------------------------------------------------------------

_Q312_MOD = 5
_Q312_PICK = 0


def q312_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ai_data_pipeline_spark.functions.vector import cosine
    from ai_data_pipeline_spark.operators import similarity
    from ai_data_pipeline_spark.operators.vectorized import ivf_assign_np
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS, Q28_CENTROIDS

    emb = _t(spark, sf_dir, "embeddings")
    u40 = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    corpus = ivf_assign_np(emb, Q28_CENTROIDS).select(
        "vec_id", "embedding", "cell",
        (F.pmod(u40, F.lit(_Q312_MOD)) == _Q312_PICK).alias("is_new"),
    )

    tmp = tempfile.mkdtemp(prefix="q312_")
    path = tmp + "/store"
    try:
        base = corpus.filter(~F.col("is_new")).select("vec_id", "embedding", "cell")
        batch = corpus.filter(F.col("is_new")).select("vec_id", "embedding", "cell")
        # pinned partition count (r14, q315 write finding): parallel
        # write tasks, still one file per cell per write job.
        base.repartition(
            spark.sparkContext.defaultParallelism, "cell"
        ).write.mode("overwrite").partitionBy("cell").parquet(path)
        # manifest v1: the snapshot's file list, read back from the
        # store itself (≤ |cells| files — count-gated collect).
        v1_files = sorted(
            r["f"]
            for r in spark.read.parquet(path)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        )
        # the append: COW — v1 files untouched, new files added.
        batch.repartition("cell").write.mode("append").partitionBy(
            "cell"
        ).parquet(path)
        all_files = sorted(
            r["f"]
            for r in spark.read.parquet(path)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        )
        v2_files = all_files  # v1's list + the delta's files
        # COW verification (a real check, not an assert — survives
        # python -O and fails loudly): every v1 file must still be
        # on disk untouched after the append, and the delta must be
        # exactly one new file per cell the batch touched (the
        # append repartitions on "cell" before the partitioned
        # write, so each touched cell gains ONE file — the q250
        # rule). A rewrite-in-place or a tiny-file spray would both
        # break this.
        missing = set(v1_files) - set(all_files)
        delta = set(all_files) - set(v1_files)
        n_batch_cells = batch.select("cell").distinct().count()  # ≤ |centroids|
        if missing or len(delta) != n_batch_cells:
            raise RuntimeError(
                f"q312: append was not copy-on-write: {len(missing)} v1 "
                f"files vanished, {len(delta)} new files for "
                f"{n_batch_cells} touched cells"
            )

        queries = similarity.queries_df(spark, Q27_QUERY_VECS)

        def search(files, state):
            # a reader pinned to a manifest: reads exactly those
            # files (basePath keeps the cell partition column).
            snap = spark.read.option("basePath", path).parquet(*files)
            cand = snap.crossJoin(F.broadcast(queries)).select(
                "qid",
                "vec_id",
                cosine(F.col("embedding"), F.col("qvec")).alias("sim"),
            )
            return (
                cand.withColumn(
                    "rk",
                    F.row_number().over(
                        Window.partitionBy("qid").orderBy(
                            F.desc("sim"), F.asc("vec_id")
                        )
                    ),
                )
                .filter(F.col("rk") <= 3)
                .select(
                    F.lit(state).cast("long").alias("snapshot"),
                    "qid",
                    F.col("rk").cast("long").alias("rk"),
                    "vec_id",
                    "sim",
                )
            )

        out = (
            search(v1_files, 1)
            .unionByName(search(v2_files, 2))
            .orderBy("snapshot", "qid", "rk")
            .collect()  # 30 rows, before temp-dir cleanup
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    res = spark.createDataFrame(
        out, "snapshot long, qid long, rk long, vec_id long, sim double"
    )
    return (
        res.withColumn("n_files_v1", F.lit(len(v1_files)).cast("long"))
        .withColumn("n_files_v2", F.lit(len(v2_files)).cast("long"))
        .withColumn(
            "n_shared_files",
            F.lit(len(set(v1_files) & set(v2_files))).cast("long"),
        )
        .orderBy("snapshot", "qid", "rk")
    )


QUERIES["q312_snapshot_time_travel"] = q312_snapshot_time_travel


# Oracle: the two states recomputed straight off `embeddings` (v1 =
# the md5 base split, v2 = everything); file audit from (split,
# cell) occupancy — v1 files = base cells, v2 = base cells + batch
# cells, shared = all of v1 (COW).
def _q312_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import (
        sql_dot,
        sql_lit_list,
        sql_norm,
        sql_squared_l2,
    )
    from ai_data_pipeline_spark.plans.constants import (
        EMBED_DIM,
        Q27_QUERY_VECS,
        Q28_CENTROIDS,
    )

    qrows = ", ".join(
        f"({qi}, {sql_lit_list(v)})" for qi, v in enumerate(Q27_QUERY_VECS)
    )
    cells = ", ".join(
        f"struct_pack(d := {sql_squared_l2('embedding', sql_lit_list(c), EMBED_DIM)}, c := {ci})"
        for ci, c in enumerate(Q28_CENTROIDS)
    )
    cos = (
        f"({sql_dot('a.embedding', 'q.qvec', EMBED_DIM)}) / "
        f"(({sql_norm('a.embedding', EMBED_DIM)}) * ({sql_norm('q.qvec', EMBED_DIM)}))"
    )
    return f"""
    WITH flags AS MATERIALIZED (
        SELECT vec_id, embedding,
               ((('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 10))::BIGINT)
                    % {_Q312_MOD} = {_Q312_PICK}) AS is_new,
               struct_extract((list_sort([{cells}]))[1], 'c') AS cell
        FROM embeddings
    ), audit AS (
        SELECT (SELECT CAST(COUNT(DISTINCT cell) AS BIGINT) FROM flags
                WHERE NOT is_new) AS n_files_v1,
               (SELECT CAST(COUNT(DISTINCT cell) AS BIGINT) FROM flags
                WHERE NOT is_new)
               + (SELECT CAST(COUNT(DISTINCT cell) AS BIGINT) FROM flags
                  WHERE is_new) AS n_files_v2,
               (SELECT CAST(COUNT(DISTINCT cell) AS BIGINT) FROM flags
                WHERE NOT is_new) AS n_shared_files
    ), ranked AS (
        SELECT s.snapshot, q.qid, a.vec_id, {cos} AS sim,
               ROW_NUMBER() OVER (
                   PARTITION BY s.snapshot, q.qid
                   ORDER BY {cos} DESC, a.vec_id) AS rk
        FROM flags a
        CROSS JOIN (VALUES {qrows}) AS q(qid, qvec)
        JOIN (VALUES (1), (2)) AS s(snapshot)
          ON s.snapshot = 2 OR NOT a.is_new
    )
    SELECT CAST(snapshot AS BIGINT) AS snapshot, CAST(qid AS BIGINT) AS qid,
           CAST(rk AS BIGINT) AS rk, vec_id, sim,
           d.n_files_v1, d.n_files_v2, d.n_shared_files
    FROM ranked CROSS JOIN audit d
    WHERE rk <= 3
    ORDER BY snapshot, qid, rk
    """


ORACLE["q312_snapshot_time_travel"] = _q312_oracle()


# ---------------------------------------------------------------------------
# Q313 — deterministic EPOCH SHUFFLE (the training-dataloader
# contract: every epoch must present the corpus in a different but
# REPRODUCIBLE pseudo-random order, sliced into fixed-size global
# batches — at 100 TB the shuffle must be a sort by a content-
# derived key, never an RNG whose state depends on partitioning):
# epoch e orders docs by the 40-bit md5 of "e:doc_id" (doc_id
# tiebreak — total order), the global batch index is
# floor((rank−1)/64) with the rank from the two-pass distributed
# prefix sum (bucket = hash >> 32 — monotone in the order key by
# construction; NO global single-task window), and each (epoch,
# batch) is graded by size, its FIRST document (min_by rank — the
# deterministic-replay anchor: a resumed job must re-materialize
# batch b identically), and the order-independent bit_xor content
# digest. Cross-epoch decorrelation is graded too: n_same_batch =
# docs landing in the SAME batch index in both epochs (≈ uniform
# collision mass — reshuffling actually reshuffles). Scale: one
# hash projection + prefix-sum rank per epoch; batch stats are a
# per-(epoch, batch) agg; nothing is ever collected.
# ---------------------------------------------------------------------------

_Q313_EPOCHS = [0, 1]
_Q313_BATCH = 64


def q313_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.curation import distributed_prefix_sum

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    frames = []
    for e in _Q313_EPOCHS:
        key = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{e}:"), F.col("doc_id").cast("string"))),
                1,
                10,
            ),
            16,
            10,
        ).cast("long")
        keyed = (
            docs.withColumn("k", key)
            .withColumn("_kb", F.shiftright(F.col("k"), 32))
            .withColumn("_one", F.lit(1).cast("long"))
        )
        ranked = distributed_prefix_sum(
            keyed, "_kb", ["k", "doc_id"], "_one", out_col="rank"
        )
        frames.append(
            ranked.select(
                F.lit(e).cast("long").alias("epoch"),
                "doc_id",
                F.floor((F.col("rank") - 1) / F.lit(float(_Q313_BATCH)))
                .cast("long")
                .alias("batch"),
                "rank",
            )
        )
    both = frames[0].unionByName(frames[1])
    dg = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    stats = (
        both.withColumn("dg", dg)
        .groupBy("epoch", "batch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min_by("doc_id", "rank").cast("long").alias("first_doc"),
            F.bit_xor("dg").cast("long").alias("content_xor"),
        )
    )
    e0 = frames[0].select("doc_id", F.col("batch").alias("b0"))
    e1 = frames[1].select("doc_id", F.col("batch").alias("b1"))
    same = (
        e0.join(e1, "doc_id")
        .agg(
            F.sum((F.col("b0") == F.col("b1")).cast("int"))
            .cast("long")
            .alias("n_same_batch")
        )
        .withColumn("_j", F.lit(1))
    )
    return (
        stats.withColumn("_j", F.lit(1))
        .join(F.broadcast(same), "_j")
        .select(
            "epoch", "batch", "n_docs", "first_doc", "content_xor", "n_same_batch"
        )
        .orderBy("epoch", "batch")
    )


QUERIES["q313_epoch_shuffle"] = q313_epoch_shuffle


def _q313_oracle() -> str:
    blocks = []
    for e in _Q313_EPOCHS:
        blocks.append(f"""
        SELECT {e} AS epoch, doc_id,
               CAST(floor((rn - 1) / {_Q313_BATCH}.0) AS BIGINT) AS batch, rn
        FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (
                       ORDER BY (('0x' || substr(md5('{e}:' || doc_id), 1, 10))::BIGINT),
                                doc_id) AS rn
            FROM documents)
        """)
    body = " UNION ALL ".join(blocks)
    return f"""
    WITH ep AS MATERIALIZED ({body}),
    same AS (
        SELECT CAST(SUM(CASE WHEN a.batch = b.batch THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_same_batch
        FROM ep a JOIN ep b
          ON a.doc_id = b.doc_id AND a.epoch = 0 AND b.epoch = 1
    )
    SELECT CAST(epoch AS BIGINT) AS epoch, batch,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(arg_min(doc_id, rn) AS BIGINT) AS first_doc,
           CAST(bit_xor((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT))
                AS BIGINT) AS content_xor,
           s.n_same_batch
    FROM ep CROSS JOIN same s
    GROUP BY epoch, batch, s.n_same_batch
    ORDER BY epoch, batch
    """


ORACLE["q313_epoch_shuffle"] = _q313_oracle()


# ---------------------------------------------------------------------------
# Q314 — cross-artifact ERASURE audit (GDPR right-to-be-forgotten
# at the SYSTEM level: a deletion request must land consistently in
# EVERY derived artifact — the vector store (q293's path), the
# inverted index (q294's), and the release export (q307/q310's) —
# and each artifact must prove it with a digest; auditing one store
# at a time is how production systems leak deleted data through a
# forgotten index): the delete set D = docs with md5-40(doc_id)
# mod 53 = 0 (~2%, the q228 uniform idiom). Each artifact is built
# partitioned (cell / token / doc_id-range shard), then D is erased
# via dynamic partition overwrite of ONLY the partitions holding D
# rows (each affected-partition list is a count-gated collect
# bounded by that store's partition geometry; every rewrite frame
# localCheckpointed — the overwrite-lineage rule). Graded one row
# per artifact from the READ-BACK: rows after, bit_xor content
# digest (vec ids / doc:pos postings / doc ids — each ≡ the
# oracle's recompute-without-D, so a single surviving deleted row
# flips the hash), partitions total vs rewritten. Scale: each
# rewrite shuffles only affected partitions' surviving rows; the
# three audits are partition-pruned digest reads.
# ---------------------------------------------------------------------------

_Q314_MOD = 53


def q314_cross_store_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ai_data_pipeline_spark.functions.text import ws_tokens
    from ai_data_pipeline_spark.operators.vectorized import ivf_assign_np
    from ai_data_pipeline_spark.plans.constants import Q28_CENTROIDS

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    u40 = lambda c: F.conv(  # noqa: E731
        F.substring(F.md5(c.cast("string")), 1, 10), 16, 10
    ).cast("long")
    is_del = lambda c: F.pmod(u40(c), F.lit(_Q314_MOD)) == 0  # noqa: E731

    tmp = tempfile.mkdtemp(prefix="q314_")
    results = []
    try:

        def erase(store_df, pcol):
            """Planner for one artifact: per-partition row/delete
            counts (pinned — the rewrite overwrites the counted
            files) + the affected-partition list, split into
            partitions with survivors (rewritten via dynamic
            overwrite) and FULLY-EMPTIED partitions (every row
            deleted — dynamic overwrite can't touch a partition
            absent from the written frame, so their directories are
            dropped explicitly, q293's documented drop-partition
            step; without it a low-df token whose only docs are
            deleted would survive erasure on disk)."""
            flagged = (
                store_df.groupBy(pcol)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("_del").cast("int")).alias("nd"),
                )
                .localCheckpoint()  # counted files get overwritten below
            )
            hit = flagged.filter(F.col("nd") > 0).collect()
            # bounded by the store's partition geometry
            affected = sorted(r[pcol] for r in hit)
            emptied = sorted(r[pcol] for r in hit if r["nd"] == r["n"])
            return flagged, affected, emptied

        def run_artifact(store_path, build_df, pcol, id_digest, keep_cols, name, aff_cast):
            """One artifact's full erase pipeline: build → plan →
            rewrite survivors (per-write dynamic overwrite, q215's
            idiom) → drop emptied partitions (q293's rule) → digest
            the read-back. Independent per artifact."""
            # pinned partition count: REPARTITION_BY_NUM is not AQE-
            # coalesced, so the build write runs parallel tasks (one
            # file per partition value still — each value lives in
            # exactly one task). r14; the q315 write finding.
            build_df.repartition(
                spark.sparkContext.defaultParallelism, pcol
            ).write.mode("overwrite").partitionBy(pcol).parquet(store_path)
            store = spark.read.parquet(store_path).withColumn(
                "_del", is_del(F.col(keep_cols[0]))
            )
            flag, aff, empty = erase(store, pcol)
            keep = (
                store.filter(F.col(pcol).cast(aff_cast).isin(
                    [a for a in aff]
                ))
                .filter(~F.col("_del"))
                .select(*keep_cols, pcol)
                .localCheckpoint()
            )
            keep.repartition(pcol).write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy(pcol).parquet(store_path)
            for v in empty:
                shutil.rmtree(f"{store_path}/{pcol}={v}", ignore_errors=True)
            back = spark.read.parquet(store_path)
            row = back.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.bit_xor(
                    F.conv(F.substring(F.md5(id_digest), 1, 15), 16, 10).cast("long")
                ).cast("long").alias("content_xor"),
            ).collect()[0]  # 1 row
            return (name, int(row["n_rows"]), int(row["content_xor"]),
                    flag.count(), len(aff))

        # the three artifacts are INDEPENDENT pipelines over different
        # paths — run them from a small thread pool so each one's
        # straggler/commit tail backfills the others (guide §2.6
        # "overlap independent jobs"; A/B-measured below). Results are
        # ordered by the final orderBy("artifact"), so completion
        # order is irrelevant.
        vec = ivf_assign_np(emb, Q28_CENTROIDS).select(
            "vec_id", "embedding", F.col("cell").cast("int").alias("cell")
        )
        needed = sorted(_Q301_TOKENS)
        postings = docs.select(
            "doc_id", F.posexplode(ws_tokens(F.col("text"))).alias("pos", "token")
        ).filter(F.col("token").isin(needed))
        rel = docs.select(
            "doc_id",
            "text",
            F.floor(F.col("doc_id") / F.lit(64.0)).cast("int").alias("shard"),
        )
        jobs = [
            lambda: run_artifact(
                tmp + "/vectors", vec, "cell",
                F.col("vec_id").cast("string"),
                ["vec_id", "embedding"], "vector_store", "int",
            ),
            lambda: run_artifact(
                tmp + "/postings", postings, "token",
                F.concat(
                    F.col("doc_id").cast("string"), F.lit(":"),
                    F.col("pos").cast("string"),
                ),
                ["doc_id", "pos"], "postings", "string",
            ),
            lambda: run_artifact(
                tmp + "/export", rel, "shard",
                F.col("doc_id").cast("string"),
                ["doc_id", "text"], "release_export", "int",
            ),
        ]
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            results = list(pool.map(lambda f: f(), jobs))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        results,
        "artifact string, n_rows long, content_xor long, "
        "n_partitions long, n_rewritten long",
    ).orderBy("artifact")


QUERIES["q314_cross_store_erasure"] = q314_cross_store_erasure


# Oracle: each artifact's post-erasure state recomputed WITHOUT the
# delete set straight off the base tables; partition counts from
# the same assignments.
def _q314_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams
    from ai_data_pipeline_spark.functions.vector import (
        sql_lit_list,
        sql_squared_l2,
    )
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM, Q28_CENTROIDS

    cells = ", ".join(
        f"struct_pack(d := {sql_squared_l2('embedding', sql_lit_list(c), EMBED_DIM)}, c := {ci})"
        for ci, c in enumerate(Q28_CENTROIDS)
    )
    toks = sql_word_ngrams("text", 1)
    lits = ", ".join(f"'{w}'" for w in sorted(_Q301_TOKENS))
    isdel = (
        "((('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 10))::BIGINT)"
        f" % {_Q314_MOD} = 0)"
    )
    return f"""
    WITH vec AS MATERIALIZED (
        SELECT vec_id,
               struct_extract((list_sort([{cells}]))[1], 'c') AS cell,
               {isdel.format(c='vec_id')} AS is_del
        FROM embeddings
    ), post AS MATERIALIZED (
        SELECT doc_id, u.pos - 1 AS pos, u.token,
               {isdel.format(c='doc_id')} AS is_del
        FROM documents,
             LATERAL (SELECT unnest({toks}) AS token,
                             generate_subscripts({toks}, 1) AS pos) u
        WHERE u.token IN ({lits})
    ), rel AS MATERIALIZED (
        SELECT doc_id, CAST(floor(doc_id / 64.0) AS BIGINT) AS shard,
               {isdel.format(c='doc_id')} AS is_del
        FROM documents
    )
    SELECT * FROM (
        SELECT 'vector_store' AS artifact,
               CAST(COUNT(CASE WHEN NOT is_del THEN 1 END) AS BIGINT) AS n_rows,
               CAST(bit_xor(CASE WHEN NOT is_del THEN
                    (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT)
                    END) AS BIGINT) AS content_xor,
               CAST(COUNT(DISTINCT cell) AS BIGINT) AS n_partitions,
               CAST(COUNT(DISTINCT CASE WHEN is_del THEN cell END) AS BIGINT)
                   AS n_rewritten
        FROM vec
        UNION ALL
        SELECT 'postings',
               CAST(COUNT(CASE WHEN NOT is_del THEN 1 END) AS BIGINT),
               CAST(bit_xor(CASE WHEN NOT is_del THEN
                    (('0x' || substr(md5(doc_id || ':' || pos), 1, 15))::BIGINT)
                    END) AS BIGINT),
               CAST(COUNT(DISTINCT token) AS BIGINT),
               CAST(COUNT(DISTINCT CASE WHEN is_del THEN token END) AS BIGINT)
        FROM post
        UNION ALL
        SELECT 'release_export',
               CAST(COUNT(CASE WHEN NOT is_del THEN 1 END) AS BIGINT),
               CAST(bit_xor(CASE WHEN NOT is_del THEN
                    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
                    END) AS BIGINT),
               CAST(COUNT(DISTINCT shard) AS BIGINT),
               CAST(COUNT(DISTINCT CASE WHEN is_del THEN shard END) AS BIGINT)
        FROM rel)
    ORDER BY artifact
    """


ORACLE["q314_cross_store_erasure"] = _q314_oracle()


# ---------------------------------------------------------------------------
# Q315 — STREAMING export appends with incremental manifest refresh
# (q310's maintenance AT INGEST — the streaming half of the export
# lifecycle, in q297's foreachBatch transactional-sink shape): the
# release arrives as a base load + three delta files replayed one
# micro-batch each (maxFilesPerTrigger=1; the feed is written by
# Spark itself — no driver-side data collects anywhere in this
# row). Deltas are RANGE-LOCAL — the population is the last two
# doc_id range-widths, dealt into three arrival batches by the md5
# uniform (log-structured appends arrive in id order; that
# range-locality, not hope, is what makes the manifest refresh
# PRUNED — a delta spread uniformly over doc_id would touch every
# shard and re-digest the whole store, q310's lesson). Each batch
# appends its rows to the range-sharded store
# (one file per touched shard per batch — the q250 invariant) and
# refreshes the manifest: touched shards re-digested from a
# PARTITION-PRUNED store read (literal isin — the per-batch touched
# list is a count-gated collect bounded by |shards|), untouched
# rows carried forward from the PREVIOUS manifest version, and the
# result written to a NEW manifest version directory (q312's COW
# versioning — a manifest is immutable once written; readers pin a
# version). Graded: the FINAL manifest version read back ≡ the
# oracle's full recompute (per-shard rows / min-max / bit_xor
# digest), plus n_files (base file + one per touching delta — real
# file counts from input_file_name) and n_updates (micro-batches
# that touched the shard). Stream-of-appends ≡ one-shot export by
# design — the same full-oracle posture as q297. Scale: each batch
# shuffles |delta| rows and re-digests only touched shard
# directories; manifests are metadata-sized.
# ---------------------------------------------------------------------------

_Q315_WIDTH = 64
_Q315_MOD = 7
_Q315_NDELTAS = 3


def q315_streaming_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    u40 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    shard_of = F.floor(F.col("doc_id") / F.lit(float(_Q315_WIDTH))).cast("int")
    maxid = docs.agg(F.max("doc_id").alias("m")).withColumn("_j", F.lit(1))
    rel = (
        docs.withColumn("_j", F.lit(1))
        .join(F.broadcast(maxid), "_j")
        .select(
            "doc_id",
            "text",
            shard_of.alias("shard"),
            # range-local delta population: the last two range
            # widths of ids; arrival batch = md5 uniform within it.
            F.when(
                F.col("doc_id") > F.col("m") - 2 * _Q315_WIDTH,
                F.pmod(u40, F.lit(_Q315_NDELTAS)),
            )
            .otherwise(F.lit(-1))
            .alias("slot"),
        )
    )

    tmp = tempfile.mkdtemp(prefix="q315_")
    path = tmp + "/export_by_shard"
    feed = tmp + "/delta_feed"
    ckpt = tmp + "/ckpt"
    _os.makedirs(feed)
    mdirs = [tmp + f"/manifest_v{v}" for v in range(_Q315_NDELTAS + 1)]
    mver = 0

    dg = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")

    def digest(frame, n_updates_col):
        return (
            frame.select(
                F.col("shard").cast("long").alias("shard"),
                "doc_id",
                dg.alias("dg"),
                F.input_file_name().alias("f"),
            )
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.min("doc_id").cast("long").alias("min_doc_id"),
                F.max("doc_id").cast("long").alias("max_doc_id"),
                F.bit_xor("dg").cast("long").alias("content_xor"),
                F.count_distinct("f").cast("long").alias("n_files"),
            )
            .withColumn("n_updates", n_updates_col)
        )

    try:
        base = rel.filter(F.col("slot") < 0)

        # r14 opt (guide §2.4/§2.6; profiled: setup was 5 full corpus
        # scans and the base write ran on 2 AQE-coalesced tasks):
        #  * the base-store write pins an explicit partition count
        #    (user-specified repartition is not AQE-coalesced) so the
        #    corpus-mass shuffle write is parallel — one file per
        #    shard still, each shard lives in exactly one task;
        #  * the three delta feed writes share ONE narrow checkpoint
        #    of the ≤ 2·WIDTH delta rows instead of re-scanning the
        #    corpus per delta;
        #  * the (base write + manifest v0) chain and the (delta
        #    checkpoint + feed writes) chain are independent → built
        #    from a 2-thread pool so their job tails overlap.
        def build_base():
            base.select("doc_id", "text", "shard").repartition(
                spark.sparkContext.defaultParallelism, "shard"
            ).write.mode("overwrite").partitionBy("shard").parquet(path)
            digest(
                spark.read.parquet(path), F.lit(0).cast("long")
            ).write.mode("overwrite").parquet(mdirs[0])

        def build_feed():
            # the delta feed, written BY SPARK one file per delta (no
            # driver-side data collect; coalesce(1) → exactly one part
            # file per append job, replayed one micro-batch each).
            deltas = (
                rel.filter(F.col("slot") >= 0)
                .select("doc_id", "text", "slot")
                .localCheckpoint()  # ≤ 2·WIDTH rows by construction
            )
            for b in range(_Q315_NDELTAS):
                (
                    deltas.filter(F.col("slot") == b)
                    .select("doc_id", "text")
                    .coalesce(1)
                    .write.mode("append")
                    .parquet(feed)
                )

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fb, ff = pool.submit(build_base), pool.submit(build_feed)
            fb.result(), ff.result()

        def apply_batch(batch_df, epoch_id):
            nonlocal mver
            batch = batch_df.withColumn("shard", shard_of)
            touched = sorted(
                int(r["shard"])
                for r in batch.select("shard").distinct().collect()
                # bounded by |shards| (range geometry) by construction
            )
            if not touched:
                return
            batch.repartition("shard").write.mode("append").partitionBy(
                "shard"
            ).parquet(path)
            prev = spark.read.parquet(mdirs[mver])
            # r14 opt: list ONLY the touched shard directories
            # (basePath keeps the shard partition column) — the
            # filter form re-listed all |shards| store directories
            # per micro-batch (profiled: a 79-path listing job every
            # batch) before pruning.
            refreshed = digest(
                spark.read.option("basePath", path).parquet(
                    *[f"{path}/shard={s}" for s in touched]
                ),
                F.lit(0).cast("long"),  # placeholder, replaced below
            ).drop("n_updates")
            prev_upd = prev.select(
                "shard", F.col("n_updates").alias("prev_upd")
            )
            refreshed = (
                refreshed.join(prev_upd, "shard", "left")
                .withColumn(
                    "n_updates", F.coalesce(F.col("prev_upd"), F.lit(0)) + 1
                )
                .drop("prev_upd")
            )
            merged = (
                prev.filter(~F.col("shard").isin([int(t) for t in touched]))
                .unionByName(refreshed)
            )
            merged.write.mode("overwrite").parquet(mdirs[mver + 1])
            mver += 1

        q = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        out = (
            spark.read.parquet(mdirs[mver])
            .select(
                "shard", "n_rows", "min_doc_id", "max_doc_id",
                "content_xor", "n_files",
                F.col("n_updates").cast("long").alias("n_updates"),
            )
            .orderBy("shard")
            .collect()  # |shards| rows, before temp-dir cleanup
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        out,
        "shard long, n_rows long, min_doc_id long, max_doc_id long, "
        "content_xor long, n_files long, n_updates long",
    ).orderBy("shard")


QUERIES["q315_streaming_export_manifest"] = q315_streaming_export_manifest


# Oracle: the full per-shard recompute (stream-of-appends ≡ one-shot
# export); delta population = the last two range widths of ids,
# arrival batch = md5 mod 3 within it; n_files = base file (iff the
# shard has base rows) + one per arrival batch present; n_updates =
# arrival batches present.
ORACLE["q315_streaming_export_manifest"] = f"""
    WITH rel AS MATERIALIZED (
        SELECT doc_id,
               CAST(floor(doc_id / {_Q315_WIDTH}.0) AS BIGINT) AS shard,
               CASE WHEN doc_id > (SELECT MAX(doc_id) FROM documents)
                                  - {2 * _Q315_WIDTH}
                    THEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT)
                         % {_Q315_NDELTAS}
                    ELSE -1 END AS slot
        FROM documents
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
           CAST(bit_xor((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT))
                AS BIGINT) AS content_xor,
           CAST(COUNT(DISTINCT slot) AS BIGINT) AS n_files,
           CAST(COUNT(DISTINCT CASE WHEN slot >= 0 THEN slot END) AS BIGINT)
               AS n_updates
    FROM rel
    GROUP BY shard
    ORDER BY shard
"""


# ---------------------------------------------------------------------------
# Q316 — snapshot RETENTION / reference-counted GC (the round-13
# queue item, composing q308's selective compaction with q312's COW
# manifests — the last piece of the storage lifecycle: COW snapshots
# accumulate files forever unless an expiry policy deletes them, and
# a correct GC deletes ONLY files referenced by NO live snapshot —
# deleting by age instead of by reference is how table-format
# deployments corrupt live readers): the store is fragmented with
# q308's deterministic skew (base everywhere, delta-1 cells ≤ 3,
# delta-2 cells ≤ 1 → 3/2/1 files per cell); snapshot v1 = all
# files. Compaction then runs COPY-ON-WRITE: flagged cells (≥ 2
# files) are rewritten as NEW files APPENDED to the directory — v1's
# files are never touched — and snapshot v2's manifest = v1's
# untouched-cell files ∪ the new compacted files. Retention expires
# v1; GC deletes exactly (v1 − v2) — the flagged cells' original
# fragments — and must leave every shared file (untouched cells)
# alive. Graded per cell from the POST-GC v2-pinned read: rows,
# bit_xor content digest (≡ recompute — GC lost nothing), files in
# v1/v2, files GC'd; the cold cells' rows show files_v1 = files_v2
# and gc_deleted = 0 (the reference-counting property). Manifests
# are ≤ |cells|·3 file paths (count-gated collects; the catalog's
# job at 100 TB); the GC unlink loop is driver-side FILE PLUMBING
# over that bounded list, not data work. Scale: compaction shuffles
# only flagged cells' rows; GC touches no data bytes at all.
# ---------------------------------------------------------------------------

_Q316_GENS = 3
_Q316_MINFILES = 2
_Q316_D1_MAXCELL = 3
_Q316_D2_MAXCELL = 1


def q316_snapshot_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil
    import tempfile

    from ai_data_pipeline_spark.operators.vectorized import ivf_assign_np
    from ai_data_pipeline_spark.plans.constants import Q28_CENTROIDS

    emb = _t(spark, sf_dir, "embeddings")
    u40 = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    corpus = ivf_assign_np(emb, Q28_CENTROIDS).select(
        "vec_id", "embedding", F.col("cell").cast("int").alias("cell"),
        F.pmod(u40, F.lit(_Q316_GENS)).alias("gen"),
    )
    d1 = (F.col("gen") == 1) & (F.col("cell") <= _Q316_D1_MAXCELL)
    d2 = (F.col("gen") == 2) & (F.col("cell") <= _Q316_D2_MAXCELL)

    tmp = tempfile.mkdtemp(prefix="q316_")
    path = tmp + "/store"
    try:
        for mode, cond in (
            ("overwrite", ~d1 & ~d2),
            ("append", d1),
            ("append", d2),
        ):
            (
                corpus.filter(cond)
                .select("vec_id", "embedding", "cell")
                .repartition("cell")
                .write.mode(mode)
                .partitionBy("cell")
                .parquet(path)
            )

        def file_cells(files_df):
            rows = files_df.select(
                "cell", F.input_file_name().alias("f")
            ).distinct().collect()  # ≤ |cells|·gens — count-gated
            return {(int(r["cell"]), r["f"]) for r in rows}

        v1 = file_cells(spark.read.parquet(path))
        per_cell_files: dict = {}
        for c, f in v1:
            per_cell_files.setdefault(c, set()).add(f)
        flagged = sorted(
            c for c, fs in per_cell_files.items() if len(fs) >= _Q316_MINFILES
        )

        # COW compaction: flagged cells rewritten as NEW files
        # APPENDED — v1's files untouched (no dynamic overwrite, no
        # checkpoint needed: nothing this lineage reads is deleted).
        hot = (
            spark.read.parquet(path)
            .filter(F.col("cell").cast("int").isin([int(c) for c in flagged]))
            .select("vec_id", "embedding", "cell")
        )
        hot.repartition("cell").write.mode("append").partitionBy(
            "cell"
        ).parquet(path)
        allf = file_cells(spark.read.parquet(path))
        new_files = allf - v1  # the compacted files
        # v2 = untouched cells' v1 files ∪ the new compacted files
        v2 = {(c, f) for (c, f) in v1 if c not in flagged} | new_files

        # retention expires v1; GC deletes exactly v1 − v2 (file
        # plumbing over the bounded manifest diff).
        to_delete = v1 - v2
        for _c, f in sorted(to_delete):
            _os.remove(f.replace("file://", "").replace("file:", ""))

        # post-GC v2-pinned read: content must be fully intact.
        v2_paths = sorted(f for _c, f in v2)
        snap = spark.read.option("basePath", path).parquet(*v2_paths)
        dg = F.conv(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
        per_cell = {
            int(r["cell"]): r
            for r in snap.select(
                F.col("cell").cast("long").alias("cell"), "vec_id", dg.alias("dg")
            )
            .groupBy("cell")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.bit_xor("dg").cast("long").alias("content_xor"),
            )
            .collect()  # |cells| rows, before temp-dir cleanup
        }
        v2_by_cell: dict = {}
        for c, f in v2:
            v2_by_cell.setdefault(c, set()).add(f)
        del_by_cell: dict = {}
        for c, f in to_delete:
            del_by_cell.setdefault(c, set()).add(f)
        out = [
            (
                int(c),
                int(per_cell[c]["n_rows"]),
                int(per_cell[c]["content_xor"]),
                len(per_cell_files[c]),
                len(v2_by_cell[c]),
                len(del_by_cell.get(c, ())),
            )
            for c in sorted(per_cell_files)
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        out,
        "cell long, n_rows long, content_xor long, files_v1 long, "
        "files_v2 long, gc_deleted long",
    ).orderBy("cell")


QUERIES["q316_snapshot_gc"] = q316_snapshot_gc


# Oracle: per-cell digests off `embeddings` (GC must lose nothing);
# file arithmetic from the q308 skew — files_v1 = slots present
# (base/d1/d2), flagged ⇔ ≥ 2 ⇒ files_v2 = 1 and gc_deleted =
# files_v1, else files_v2 = files_v1 and gc_deleted = 0.
def _q316_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import (
        sql_lit_list,
        sql_squared_l2,
    )
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM, Q28_CENTROIDS

    cells = ", ".join(
        f"struct_pack(d := {sql_squared_l2('embedding', sql_lit_list(c), EMBED_DIM)}, c := {ci})"
        for ci, c in enumerate(Q28_CENTROIDS)
    )
    return f"""
    WITH flags AS MATERIALIZED (
        SELECT vec_id,
               (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 10))::BIGINT)
                   % {_Q316_GENS} AS gen,
               struct_extract((list_sort([{cells}]))[1], 'c') AS cell
        FROM embeddings
    ), routed AS (
        SELECT vec_id, cell,
               CASE WHEN gen = 1 AND cell <= {_Q316_D1_MAXCELL} THEN 1
                    WHEN gen = 2 AND cell <= {_Q316_D2_MAXCELL} THEN 2
                    ELSE 0 END AS file_slot
        FROM flags
    ), percell AS (
        SELECT CAST(cell AS BIGINT) AS cell,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(bit_xor((('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT))
                    AS BIGINT) AS content_xor,
               CAST(COUNT(DISTINCT file_slot) AS BIGINT) AS files_v1
        FROM routed
        GROUP BY cell
    )
    SELECT cell, n_rows, content_xor, files_v1,
           CAST(CASE WHEN files_v1 >= {_Q316_MINFILES}
                THEN 1 ELSE files_v1 END AS BIGINT) AS files_v2,
           CAST(CASE WHEN files_v1 >= {_Q316_MINFILES}
                THEN files_v1 ELSE 0 END AS BIGINT) AS gc_deleted
    FROM percell
    ORDER BY cell
    """


ORACLE["q316_snapshot_gc"] = _q316_oracle()
