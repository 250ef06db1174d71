"""Frontier queries, fifth batch (round 13): the last missing store
lifecycle verb (CDC UPSERT/MERGE), incremental dedup-component
maintenance with stable cluster ids, snapshot SCHEMA evolution, the
BPE encode round-trip at a fixed vocabulary, and the change-data-feed
read between snapshots.

Reference parity: the reference (``/root/reference/app/main.py``,
``rag_chatbot/main.py``) rebuilds its FAISS index from scratch on
every service start (``rag_chatbot/main.py:26-28``) and its JSONL
sink appends forever (``app/main.py:99``) — it has no update path, no
stable cluster identity, no schema versioning, and no change feed.
These rows grade what the same pipeline needs at 100 TB to be
OPERABLE as a system of record: a re-embedded document must land as
an in-place UPSERT of only the partitions it touches (not a
delete+append pair of uncoordinated passes), dedup cluster labels
must survive appends (downstream keeper decisions reference them),
a schema change must not rewrite history, and downstream consumers
must be able to read WHAT CHANGED between two snapshots without
diffing full snapshots.

Float/oracle policy: plans/relational.py header. Graded numbers are
exact BIGINT counts, file counts, rank positions, xor digests, or
raw per-row doubles where both engines compute the identical
expression tree in the identical order (the HOF-ltr ≡
list_transform-ltr law established by q27/q312).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table, spread

QUERIES: dict = {}
ORACLE: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _u40(col):
    """The 40-bit md5 uniform of an id (q228's idiom — never
    ``id mod k``, which is degenerate against source round-robin)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 10), 16, 10).cast(
        "long"
    )


_SQL_U40 = "(('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 10))::BIGINT)"


# ---------------------------------------------------------------------------
# Q317 — CDC UPSERT/MERGE into the cell-partitioned vector store
# (the r12 verdict's #2: the ONE lifecycle verb still missing — the
# stores could build/append/delete/compact/snapshot/GC but not
# UPDATE in place; a re-embedded document today needs
# delete-then-append as two uncoordinated passes). One CDC batch of
# (update, delete, insert) ops is MERGED into the store in a single
# coordinated pass: affected partitions = the OLD cells of
# updated/deleted rows ∪ the NEW cells of incoming vectors (an
# update whose re-embedded vector lands in a different cell moves
# across partitions — the case a naive same-partition rewrite
# silently corrupts); only those cells are rewritten (dynamic
# partition overwrite, per-write option), fully-emptied cells'
# directories dropped explicitly (q293's rule). Ops are derived
# deterministically from the corpus (u40 % 19: 5 → update with the
# NEGATED embedding — negation is float-exact on both engines and
# moves the vector to a different cell; 7 → delete; 11 → insert a
# NEW id (+1e6) with the negated vector; the r=11 source row itself
# stays). Graded claims: (a) post-merge cosine top-3 over the
# READ-BACK ≡ recompute from base-with-ops-applied (the oracle
# never sees a store); (b) the merge audit — rows, op counts,
# affected-cell count, and a store-content xor digest over
# (vec_id, cell) so one row left in its old cell flips the hash.
# Scale: merge cost is |affected cells|/K of the store plus |ops|
# — never a full rewrite; all collects are bounded by centroid
# geometry (≤ K cells).
# ---------------------------------------------------------------------------

_Q317_MOD = 19
_Q317_UPD = 5
_Q317_DEL = 7
_Q317_INS = 11
_Q317_INS_OFF = 1_000_000


def q317_store_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ai_data_pipeline_spark.functions.vector import cosine
    from ai_data_pipeline_spark.operators import similarity
    from ai_data_pipeline_spark.operators.vectorized import ivf_assign_np
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS, Q28_CENTROIDS

    emb = _t(spark, sf_dir, "embeddings")
    r = F.pmod(_u40(F.col("vec_id")), F.lit(_Q317_MOD))
    base = ivf_assign_np(emb, Q28_CENTROIDS).select("vec_id", "embedding", "cell")

    tmp = tempfile.mkdtemp(prefix="q317_")
    path = tmp + "/store"
    try:
        # ---- the CDC batch (production: arrives as a table; here
        # derived from the corpus so the query is self-contained).
        # Negation is exact in float32 on both engines, and the
        # negated vector's nearest centroid generally DIFFERS — the
        # cross-partition move case.
        neg = emb.select(
            "vec_id",
            F.transform("embedding", lambda x: -x).alias("embedding"),
            r.alias("_r"),
        )

        def build_incoming():
            # referenced 3x (audit counts, affected cells, rewrite)
            # and kernel-produced — materialize once (≥2×-consumed)
            return ivf_assign_np(
                neg.filter(F.col("_r") == _Q317_UPD)
                .select("vec_id", "embedding")
                .unionByName(
                    neg.filter(F.col("_r") == _Q317_INS).select(
                        (F.col("vec_id") + _Q317_INS_OFF).alias("vec_id"),
                        "embedding",
                    )
                ),
                Q28_CENTROIDS,
            ).select("vec_id", "embedding", "cell").localCheckpoint()

        def build_store():
            base.repartition("cell").write.mode("overwrite").partitionBy(
                "cell"
            ).parquet(path)
            return spark.read.parquet(path).withColumn("_r", r)

        # the base-store write and the CDC-batch kernel checkpoint
        # are independent — overlap them (guide §2.6, r13 idiom)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_store = pool.submit(build_store)
            f_inc = pool.submit(build_incoming)
            store, incoming = f_store.result(), f_inc.result()

        # one job over the checkpointed batch for both op counts (r13
        # opt: was two count() jobs)
        opc = incoming.agg(
            F.sum((F.col("vec_id") < _Q317_INS_OFF).cast("int")).alias("u"),
            F.sum((F.col("vec_id") >= _Q317_INS_OFF).cast("int")).alias("i"),
        ).collect()[0]
        # SUM over an empty batch is NULL — keep the empty-CDC-batch
        # case a 0 like the pre-fusion two-count() form
        n_upd, n_ins = int(opc["u"] or 0), int(opc["i"] or 0)

        # ---- affected partitions: old cells of touched rows ∪ new
        # cells of incoming vectors. Collects bounded by centroid
        # geometry (≤ |Q28_CENTROIDS| values each). ONE store scan
        # yields both the old-cell set and the delete count (r13 opt:
        # was two separate scans, each re-evaluating the md5 op
        # derivation over the whole store).
        old_rows = (
            store.filter(F.col("_r").isin(_Q317_UPD, _Q317_DEL))
            .groupBy(F.col("cell").cast("int").alias("c"))
            .agg(F.sum((F.col("_r") == _Q317_DEL).cast("long")).alias("nd"))
            .collect()
        )
        new_cells = (
            incoming.select(F.col("cell").cast("int").alias("c"))
            .distinct()
            .collect()
        )
        affected = sorted({int(x["c"]) for x in old_rows}
                          | {int(x["c"]) for x in new_cells})
        n_del = sum(int(x["nd"]) for x in old_rows)

        # ---- the single coordinated rewrite: survivors of affected
        # cells (minus updated/deleted ids) + ALL incoming rows
        # (their cells are affected by construction). Checkpoint
        # BEFORE the write: the survivors' lineage reads the files
        # the commit replaces (the overwrite-lineage rule).
        survivors = store.filter(
            F.col("cell").cast("int").isin(affected)
            & ~F.col("_r").isin(_Q317_UPD, _Q317_DEL)
        ).select("vec_id", "embedding", "cell")
        rewrite = survivors.unionByName(incoming).localCheckpoint()
        rewrite.repartition("cell").write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("cell").parquet(path)
        # a cell emptied by the merge (every row updated-away or
        # deleted, nothing incoming) keeps its old files under
        # dynamic overwrite — drop it explicitly (q293's rule)
        present = {
            int(x["c"])
            for x in rewrite.select(F.col("cell").cast("int").alias("c"))
            .distinct()
            .collect()  # ≤ K cells
        }
        for c in affected:
            if c not in present:
                shutil.rmtree(f"{path}/cell={c}", ignore_errors=True)

        # ---- read-back: audit digest + exact cosine top-3
        store2 = spark.read.parquet(path)
        audit = store2.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.bit_xor(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("vec_id").cast("string"),
                                F.lit(":"),
                                F.col("cell").cast("string"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
            ).cast("long").alias("content_xor"),
        ).collect()[0]  # 1 row

        queries = similarity.queries_df(spark, Q27_QUERY_VECS)
        cand = store2.crossJoin(F.broadcast(queries)).select(
            "qid",
            "vec_id",
            cosine(F.col("embedding"), F.col("qvec")).alias("sim"),
        )
        out = (
            cand.withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
                ),
            )
            .filter(F.col("rk") <= 3)
            .select("qid", F.col("rk").cast("long").alias("rk"), "vec_id", "sim")
            .collect()  # 15 rows, before temp-dir cleanup
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    res = spark.createDataFrame(out, "qid long, rk long, vec_id long, sim double")
    return (
        res.withColumn("n_rows", F.lit(int(audit["n_rows"])).cast("long"))
        .withColumn("n_upserts", F.lit(int(n_upd)).cast("long"))
        .withColumn("n_deletes", F.lit(int(n_del)).cast("long"))
        .withColumn("n_inserts", F.lit(int(n_ins)).cast("long"))
        .withColumn("n_cells_rewritten", F.lit(len(affected)).cast("long"))
        .withColumn("content_xor", F.lit(int(audit["content_xor"])).cast("long"))
        .orderBy("qid", "rk")
    )


QUERIES["q317_store_upsert_merge"] = q317_store_upsert_merge


# Oracle: base-with-ops-applied recomputed straight off `embeddings`
# (no store): final corpus = rows not updated/deleted + negated
# updates + negated inserts at vec_id+1e6; cells re-derived per
# final vector with the list_sort struct idiom; affected cells from
# old cells of touched rows ∪ new cells of incoming.
def _q317_oracle() -> str:
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

    def cell_expr(vec: str) -> str:
        cells = ", ".join(
            f"struct_pack(d := {sql_squared_l2(vec, sql_lit_list(c), EMBED_DIM)}, c := {ci})"
            for ci, c in enumerate(Q28_CENTROIDS)
        )
        return f"struct_extract((list_sort([{cells}]))[1], 'c')"

    cos = (
        f"({sql_dot('a.embedding', 'q.qvec', EMBED_DIM)}) / "
        f"(({sql_norm('a.embedding', EMBED_DIM)}) * ({sql_norm('q.qvec', EMBED_DIM)}))"
    )
    u40 = _SQL_U40.format(c="vec_id")
    return f"""
    WITH base AS MATERIALIZED (
        SELECT vec_id, embedding, {u40} % {_Q317_MOD} AS r,
               {cell_expr('embedding')} AS cell
        FROM embeddings
    ), incoming AS MATERIALIZED (
        SELECT CASE WHEN r = {_Q317_INS} THEN vec_id + {_Q317_INS_OFF}
                    ELSE vec_id END AS vec_id,
               list_transform(embedding, x -> -x) AS embedding, r
        FROM base WHERE r IN ({_Q317_UPD}, {_Q317_INS})
    ), newc AS MATERIALIZED (
        SELECT vec_id, embedding, r, {cell_expr('embedding')} AS cell
        FROM incoming
    ), final AS MATERIALIZED (
        SELECT vec_id, embedding, cell FROM base
        WHERE r NOT IN ({_Q317_UPD}, {_Q317_DEL})
        UNION ALL
        SELECT vec_id, embedding, cell FROM newc
    ), aff AS (
        SELECT CAST(COUNT(DISTINCT cell) AS BIGINT) AS n_cells_rewritten
        FROM (SELECT cell FROM base WHERE r IN ({_Q317_UPD}, {_Q317_DEL})
              UNION SELECT cell FROM newc)
    ), audit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM base
                WHERE r = {_Q317_UPD}) AS n_upserts,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM base
                WHERE r = {_Q317_DEL}) AS n_deletes,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM base
                WHERE r = {_Q317_INS}) AS n_inserts,
               CAST(bit_xor((('0x' || substr(md5(vec_id || ':' || cell), 1, 15))::BIGINT))
                    AS BIGINT) AS content_xor
        FROM final
    ), ranked AS (
        SELECT q.qid, a.vec_id, {cos} AS sim,
               ROW_NUMBER() OVER (
                   PARTITION BY q.qid ORDER BY {cos} DESC, a.vec_id) AS rk
        FROM final a CROSS JOIN (VALUES {qrows}) AS q(qid, qvec)
    )
    SELECT CAST(qid AS BIGINT) AS qid, CAST(rk AS BIGINT) AS rk, vec_id, sim,
           d.n_rows, d.n_upserts, d.n_deletes, d.n_inserts,
           f.n_cells_rewritten, d.content_xor
    FROM ranked CROSS JOIN audit d CROSS JOIN aff f
    WHERE rk <= 3
    ORDER BY qid, rk
    """


ORACLE["q317_store_upsert_merge"] = _q317_oracle()


# ---------------------------------------------------------------------------
# Q318 — incremental dedup-COMPONENT maintenance (stable cluster
# labels under appends — the r12 verdict's #3): q282 admits a batch
# against the signature store, but cluster LABELS were recomputed
# from scratch each run — at 100 TB the components pass over months
# of accumulated pairs is the cost sink, and re-labeling breaks
# downstream keeper decisions. Here a persisted (doc →
# cluster_min_id) label store is UPDATED incrementally: the batch's
# new pairs touch some components; ONLY those components are
# re-contracted (their members' (label → id) store rows form a
# spanning STAR of each old component, so the original edge list is
# never needed again — re-resolution input = new pairs ∪ the
# touched stars); untouched labels are carried forward byte-for-
# byte. The graded claim is the equivalence theorem of min-id
# labeling: carried ∪ re-contracted ≡ the from-scratch contraction
# over ALL pairs (the oracle computes the from-scratch transitive
# closure and never sees a store). Pair universe (mirrored exactly
# in SQL): history-history pairs under the HISTORY-corpus shingle
# cap (the store predates the batch — its cap was computed when
# only history existed), batch-involving pairs under the FULL-
# corpus cap; both capped at max_shingle_freq (the q105 rule) and
# thresholded on int/int jaccard. Graded output: per-source label
# digests over the FINAL store read-back + the touched-component
# fraction (the verdict's asked-for column — at scale it is the
# cost ratio of incremental vs from-scratch). Scale: the
# re-contraction input is |new pairs| + |touched members| — months
# of untouched components are never shuffled again.
# ---------------------------------------------------------------------------

_Q318_N = 4
_Q318_TAU = "0.6"
_Q318_TAU_F = 0.6  # same literal; float twin for the Spark call sites
_Q318_MAXF = 50


def q318_incremental_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ai_data_pipeline_spark.operators import dedup

    docs = spread(_t(spark, sf_dir, "documents"))
    is_batch = F.col("source") == "src0"
    hist_docs = docs.filter(~is_batch)

    tmp = tempfile.mkdtemp(prefix="q318_")
    v1 = tmp + "/labels_v1"
    v2 = tmp + "/labels_v2"
    try:
        # ---- ONE shingle pass serves BOTH pair universes (r13 opt:
        # the first cut tokenized/hashed/distinct'd the corpus twice —
        # once inside ngram_jaccard_pairs(hist_docs) under the
        # history cap, once for the full-corpus cap — and paid two
        # shingle-keyed window shuffles. One window pass computes
        # both frequencies: f_hist = count of HISTORY rows per
        # shingle ≡ the frequency ngram_jaccard_pairs(hist_docs)
        # would see (its shingle table is exactly the !is_b rows),
        # f_full = count over all rows. Checkpoint once; both
        # branches are filters over the same frame — 2 scans +
        # 2 exchanges removed, values identical by construction.)
        w = Window.partitionBy("sh")
        sh_base = (
            dedup.shingle_table(docs, "doc_id", "text", _Q318_N, hashed=True)
            .join(
                docs.select(F.col("doc_id").alias("id"), is_batch.alias("is_b")),
                "id",
            )
            .withColumn("f_full", F.count(F.lit(1)).over(w))
            .withColumn(
                "f_hist", F.count(F.when(~F.col("is_b"), F.lit(1))).over(w)
            )
            .localCheckpoint()  # 6 consumers (2 caps × sizes/a/b)
        )

        # ---- store v1: from-scratch over HISTORY pairs (amortized
        # across months in production; built once here so the query
        # is self-contained). History-corpus shingle cap — the exact
        # pair set ngram_jaccard_pairs(hist_docs, max_shingle_freq)
        # produces.
        sh_hist = sh_base.filter(
            ~F.col("is_b") & (F.col("f_hist") <= _Q318_MAXF)
        ).select("id", "sh")
        ah = sh_hist.alias("a")
        bh = sh_hist.alias("b")
        inter_h = (
            ah.join(
                bh,
                (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        hist_pairs = dedup.jaccard_of(inter_h, sh_hist, sh_hist, _Q318_TAU_F).select(
            "id_a", "id_b"
        )

        def build_store():
            labels0 = dedup.dedup_clusters_star(hist_pairs)
            labels0.repartition(8).write.mode("overwrite").parquet(v1)
            return spark.read.parquet(v1)

        # ---- the batch's NEW pairs: batch-batch + batch-history,
        # under the FULL-corpus cap — a second filter over the same
        # checkpointed base.
        sh_full = sh_base.filter(F.col("f_full") <= _Q318_MAXF).select(
            "id", "is_b", "sh"
        )
        a = sh_full.alias("a")
        b = sh_full.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.sh") == F.col("b.sh"))
                & (F.col("a.id") < F.col("b.id"))
                & (F.col("a.is_b") | F.col("b.is_b")),
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )

        def build_new_pairs():
            # consumed by touched-discovery AND re-contraction — and
            # the shingle self-join above is expensive
            return (
                dedup.jaccard_of(inter, sh_full, sh_full, _Q318_TAU_F)
                .select("id_a", "id_b")
                .localCheckpoint()
            )

        # the v1 store branch (hist pairs → star → write → read) and
        # the batch-pair checkpoint both hang off the same sh_base
        # checkpoint and are independent — overlap them (guide §2.6,
        # the r13 idiom)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_store = pool.submit(build_store)
            f_new = pool.submit(build_new_pairs)
            store, new_pairs = f_store.result(), f_new.result()

        # ---- touched components: store components with a member
        # incident to a new pair.
        new_nodes = (
            new_pairs.select(F.col("id_a").alias("id"))
            .union(new_pairs.select(F.col("id_b").alias("id")))
            .distinct()
        )
        touched = (
            store.join(new_nodes, "id", "semi")
            .select("cluster_id")
            .distinct()
            .localCheckpoint()  # feeds the member fetch AND the carry-forward anti-join
        )
        members = store.join(touched, "cluster_id", "semi")
        # the (label → id) rows of a component form a spanning star:
        # connectivity is preserved without the original edge list.
        star_edges = members.filter(F.col("id") != F.col("cluster_id")).select(
            F.col("cluster_id").alias("id_a"), F.col("id").alias("id_b")
        )
        relabels = dedup.dedup_clusters_star(new_pairs.unionByName(star_edges))
        carried = store.join(touched, "cluster_id", "anti")
        final = carried.unionByName(relabels)
        final.repartition(8).write.mode("overwrite").parquet(v2)

        # ---- graded read-back: per-source label digests + the
        # touched fraction.
        n_before = store.select("cluster_id").distinct().count()
        n_touched = touched.count()
        out = (
            spark.read.parquet(v2)
            .join(docs.select(F.col("doc_id").alias("id"), "source"), "id")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
                F.bit_xor(
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.col("id").cast("string"),
                                    F.lit(":"),
                                    F.col("cluster_id").cast("string"),
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long")
                ).cast("long").alias("label_xor"),
            )
            .orderBy("source")
            .collect()  # ≤ |sources| rows, before temp-dir cleanup
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    res = spark.createDataFrame(
        out, "source string, n_docs long, n_clusters long, label_xor long"
    )
    return (
        res.withColumn("n_components_before", F.lit(int(n_before)).cast("long"))
        .withColumn("n_touched_components", F.lit(int(n_touched)).cast("long"))
        # single IEEE division of two exact BIGINTs — bit-identical
        # cross-engine (the shares/ratios rule)
        .withColumn(
            "touched_frac",
            F.lit(float(n_touched)) / F.lit(float(n_before)),
        )
        .orderBy("source")
    )


QUERIES["q318_incremental_cluster_labels"] = q318_incremental_cluster_labels


# Oracle: the from-scratch transitive closure over the SAME pair
# universe (hist pairs under the history cap ∪ batch-involving pairs
# under the full cap) — the equivalence theorem IS the graded claim;
# store v1's components recomputed for the touched-fraction columns.
def _q318_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    grams = sql_word_ngrams("text", _Q318_N)
    return f"""
    WITH RECURSIVE sh0 AS MATERIALIZED (
        SELECT DISTINCT doc_id AS id, source = 'src0' AS is_b,
               unnest({grams}) AS shingle
        FROM documents
    ), hfreq AS (
        SELECT shingle, COUNT(*) AS f FROM sh0 WHERE NOT is_b GROUP BY shingle
    ), ffreq AS (
        SELECT shingle, COUNT(*) AS f FROM sh0 GROUP BY shingle
    ), shh AS MATERIALIZED (
        SELECT id, sh0.shingle FROM sh0 JOIN hfreq USING (shingle)
        WHERE NOT is_b AND hfreq.f <= {_Q318_MAXF}
    ), shf AS MATERIALIZED (
        SELECT id, is_b, sh0.shingle FROM sh0 JOIN ffreq USING (shingle)
        WHERE ffreq.f <= {_Q318_MAXF}
    ), hsizes AS (
        SELECT id, COUNT(*) AS n_sh FROM shh GROUP BY id
    ), fsizes AS (
        SELECT id, COUNT(*) AS n_sh FROM shf GROUP BY id
    ), hinter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM shh a JOIN shh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ), hist_pairs AS MATERIALIZED (
        SELECT id_a, id_b FROM hinter
        JOIN hsizes za ON za.id = id_a
        JOIN hsizes zb ON zb.id = id_b
        WHERE inter / (za.n_sh + zb.n_sh - inter) >= '{_Q318_TAU}'::DOUBLE
    ), finter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM shf a JOIN shf b
          ON a.shingle = b.shingle AND a.id < b.id AND (a.is_b OR b.is_b)
        GROUP BY 1, 2
    ), new_pairs AS MATERIALIZED (
        SELECT id_a, id_b FROM finter
        JOIN fsizes za ON za.id = id_a
        JOIN fsizes zb ON zb.id = id_b
        WHERE inter / (za.n_sh + zb.n_sh - inter) >= '{_Q318_TAU}'::DOUBLE
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM hist_pairs
        UNION SELECT id_b, id_a FROM hist_pairs
        UNION SELECT id_a, id_b FROM new_pairs
        UNION SELECT id_b, id_a FROM new_pairs
    ), reach AS (
        SELECT a AS id, a AS lab FROM edges
        UNION
        SELECT e.a AS id, r.lab AS lab FROM edges e JOIN reach r ON r.id = e.b
    ), comp AS MATERIALIZED (
        SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id
    ), hedges AS (
        SELECT id_a AS a, id_b AS b FROM hist_pairs
        UNION SELECT id_b, id_a FROM hist_pairs
    ), hreach AS (
        SELECT a AS id, a AS lab FROM hedges
        UNION
        SELECT e.a AS id, r.lab AS lab FROM hedges e JOIN hreach r ON r.id = e.b
    ), hcomp AS MATERIALIZED (
        SELECT id, MIN(lab) AS cluster_id FROM hreach GROUP BY id
    ), consts AS (
        SELECT (SELECT CAST(COUNT(DISTINCT cluster_id) AS BIGINT) FROM hcomp)
                   AS n_components_before,
               (SELECT CAST(COUNT(DISTINCT hc.cluster_id) AS BIGINT)
                FROM hcomp hc
                WHERE hc.id IN (SELECT id_a FROM new_pairs
                                UNION SELECT id_b FROM new_pairs))
                   AS n_touched_components
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT c.cluster_id) AS BIGINT) AS n_clusters,
           CAST(bit_xor((('0x' || substr(md5(c.id || ':' || c.cluster_id), 1, 15))::BIGINT))
                AS BIGINT) AS label_xor,
           k.n_components_before, k.n_touched_components,
           CAST(k.n_touched_components AS DOUBLE)
             / CAST(k.n_components_before AS DOUBLE) AS touched_frac
    FROM comp c
    JOIN documents d ON d.doc_id = c.id
    CROSS JOIN consts k
    GROUP BY d.source, k.n_components_before, k.n_touched_components
    ORDER BY d.source
    """


ORACLE["q318_incremental_cluster_labels"] = _q318_oracle()


# ---------------------------------------------------------------------------
# Q319 — snapshot SCHEMA EVOLUTION (the r12 verdict's #4: q312's
# COW manifests version the file LIST; a production table format
# must version the SCHEMA too — adding a column must NEVER rewrite
# history): the v2 delta lands WITH a new `quality` column (a
# per-doc score; here n_chars stands in for any computed score —
# the semantics under test are schema semantics); v1 files are
# untouched (verified by a real file-set check, not an assert).
# A v1-PINNED reader (manifest file list + basePath) sees the OLD
# 3-column schema — the new column simply does not exist for it; a
# v2 reader (mergeSchema) sees the evolved 4-column schema with
# NULL-padded history (unionByName-allowMissingColumns semantics at
# the store level, q75's idiom). The manifest records a SCHEMA HASH
# computed from the READ-BACK schema (name:type list, sorted) — the
# oracle pins the expected hash as a literal, so a reader-side
# schema drift (wrong type inference, a dropped column) flips the
# graded string even when row counts survive. Graded one row per
# snapshot: rows, n_cols, quality presence/null accounting, exact
# BIGINT sum over the new column, content xor digest, schema md5.
# Scale: evolution is metadata-only — zero data bytes rewritten;
# readers pay only the null-pad.
# ---------------------------------------------------------------------------

_Q319_MOD = 7
_Q319_PICK = 2
# FIXED shard COUNT, not fixed width: the first cut used
# shard = doc_id div 64 and probed 15.1x at 16x — the shard (and
# file) count grew linearly with the corpus, so partitioned-write
# directory overhead and the 1250-path pinned reader dominated.
# Production table formats size files to a byte target (shard
# count ∝ data / target_file_size); on a fixed-size test corpus
# the equivalent is a fixed shard count with 16x the rows per
# shard. Physical layout only — content and schema are unchanged.
_Q319_N_SHARDS = 16


def q319_snapshot_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ai_data_pipeline_spark.functions.text import ws_tokens

    docs = _t(spark, sf_dir, "documents")
    is_new = F.pmod(_u40(F.col("doc_id")), F.lit(_Q319_MOD)) == _Q319_PICK
    framed = docs.select(
        "doc_id",
        F.size(ws_tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("quality"),
        F.pmod(_u40(F.col("doc_id")), F.lit(_Q319_N_SHARDS))
        .cast("int")
        .alias("shard"),
        is_new.alias("is_new"),
    )

    tmp = tempfile.mkdtemp(prefix="q319_")
    path = tmp + "/store"
    try:
        # v1: history, 3-column schema (no quality yet)
        framed.filter(~F.col("is_new")).select(
            "doc_id", "n_tokens", "shard"
        ).repartition("shard").write.mode("overwrite").partitionBy(
            "shard"
        ).parquet(path)
        v1_files = sorted(
            r["f"]
            for r in spark.read.parquet(path)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()  # ≤ |shards| files — count-gated
        )
        # v2 delta: the EVOLVED schema (quality added) — plain
        # append; parquet files are self-describing, so the store
        # now holds two physical schemas side by side.
        framed.filter(F.col("is_new")).select(
            "doc_id", "n_tokens", "quality", "shard"
        ).repartition("shard").write.mode("append").partitionBy(
            "shard"
        ).parquet(path)
        all_files = sorted(
            r["f"]
            for r in spark.read.option("mergeSchema", "true")
            .parquet(path)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        )
        # evolution must be metadata-only: every v1 file survives
        # byte-for-byte (same path ⇒ parquet immutability) and the
        # delta only ADDED files — a real check that fails loudly
        missing = set(v1_files) - set(all_files)
        if missing or len(all_files) <= len(v1_files):
            raise RuntimeError(
                f"q319: schema evolution rewrote history: {len(missing)} v1 "
                f"files vanished, {len(all_files) - len(v1_files)} files added"
            )

        def schema_sig(df):
            # name:type signature from the READ-BACK schema, emitted
            # as a literal — the oracle pins the expected md5
            return ",".join(f"{n}:{t}" for n, t in sorted(df.dtypes))

        # v1-pinned reader: old schema, no quality column at all
        v1r = spark.read.option("basePath", path).parquet(*v1_files)
        v1_row = v1r.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.bit_xor(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.col("doc_id").cast("string"),
                                F.col("n_tokens").cast("string"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
            ).cast("long").alias("content_xor"),
        ).collect()[0]  # 1 row
        v1_out = (
            1,
            int(v1_row["n_rows"]),
            len(v1r.columns),
            0,
            0,
            0,
            int(v1_row["content_xor"]),
            schema_sig(v1r),
        )

        # v2 reader: merged schema, history null-padded
        v2r = spark.read.option("mergeSchema", "true").option(
            "basePath", path
        ).parquet(path)
        v2_row = v2r.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("quality").isNull().cast("int")).cast("long").alias("n_null"),
            F.sum(F.col("quality").isNotNull().cast("int"))
            .cast("long")
            .alias("n_with"),
            F.sum(F.coalesce(F.col("quality"), F.lit(0)))
            .cast("long")
            .alias("sum_quality"),
            F.bit_xor(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.col("doc_id").cast("string"),
                                F.col("n_tokens").cast("string"),
                                F.coalesce(
                                    F.col("quality").cast("string"), F.lit("-")
                                ),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
            ).cast("long").alias("content_xor"),
        ).collect()[0]  # 1 row
        v2_out = (
            2,
            int(v2_row["n_rows"]),
            len(v2r.columns),
            int(v2_row["n_null"]),
            int(v2_row["n_with"]),
            int(v2_row["sum_quality"]),
            int(v2_row["content_xor"]),
            schema_sig(v2r),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    res = spark.createDataFrame(
        [v1_out, v2_out],
        "snapshot long, n_rows long, n_cols long, n_null_quality long, "
        "n_with_quality long, sum_quality long, content_xor long, schema_sig string",
    )
    return res.withColumn("schema_md5", F.md5(F.col("schema_sig"))).select(
        "snapshot",
        "n_rows",
        "n_cols",
        "n_null_quality",
        "n_with_quality",
        "sum_quality",
        "content_xor",
        "schema_md5",
    ).orderBy("snapshot")


QUERIES["q319_snapshot_schema_evolution"] = q319_snapshot_schema_evolution


# Oracle: both snapshot states recomputed straight off `documents`;
# the schema hashes are EXPECTED literals (the graded claim is that
# the reader-derived name:type signature lands exactly on them).
def _q319_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    ntok = f"len({sql_word_ngrams('text', 1)})"
    u40 = _SQL_U40.format(c="doc_id")
    sig_v1 = "doc_id:bigint,n_tokens:bigint,shard:int"
    sig_v2 = "doc_id:bigint,n_tokens:bigint,quality:bigint,shard:int"
    return f"""
    WITH base AS MATERIALIZED (
        SELECT doc_id, CAST({ntok} AS BIGINT) AS n_tokens,
               CAST(n_chars AS BIGINT) AS quality,
               ({u40} % {_Q319_MOD} = {_Q319_PICK}) AS is_new
        FROM documents
    )
    SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS snapshot,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(3 AS BIGINT) AS n_cols,
               CAST(0 AS BIGINT) AS n_null_quality,
               CAST(0 AS BIGINT) AS n_with_quality,
               CAST(0 AS BIGINT) AS sum_quality,
               CAST(bit_xor((('0x' || substr(md5(doc_id || ':' || n_tokens), 1, 15))::BIGINT))
                    AS BIGINT) AS content_xor,
               md5('{sig_v1}') AS schema_md5
        FROM base WHERE NOT is_new
        UNION ALL
        SELECT CAST(2 AS BIGINT),
               CAST(COUNT(*) AS BIGINT),
               CAST(4 AS BIGINT),
               CAST(SUM(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN is_new THEN quality ELSE 0 END) AS BIGINT),
               CAST(bit_xor((('0x' || substr(md5(doc_id || ':' || n_tokens || ':' ||
                    (CASE WHEN is_new THEN quality::VARCHAR ELSE '-' END)), 1, 15))::BIGINT))
                    AS BIGINT),
               md5('{sig_v2}')
        FROM base)
    ORDER BY snapshot
    """


ORACLE["q319_snapshot_schema_evolution"] = _q319_oracle()


# ---------------------------------------------------------------------------
# Q320 — BPE ENCODE round-trip at a FIXED vocabulary (the r12
# verdict's #6, completing the tokenizer story: q218/q278/q283
# grade the TRAINER — candidate scoring and two merge rounds; this
# row grades the operator every training-data pipeline actually
# runs at scale: apply a FROZEN merge list to encode the corpus
# into token ids). The 32-merge list below was trained ONCE,
# offline, on the sf0.01 corpus snapshot with q283's exact
# semantics (word-frequency table, per round: count adjacent
# symbol pairs weighted by word freq, winner = n DESC / pair ASC,
# apply left-to-right non-overlapping) — the production shape:
# train rarely, encode always; the list is a shared literal on
# both engines. Encoding: DISTINCT words encode once (the vocab
# table is Heaps-sublinear in the corpus — the word-level cache
# every real tokenizer service runs), each word's char stream is
# space-padded and the 32 merges applied IN ORDER as literal
# padded replaces (q283's idiom: replace ' s1  s2 ' → ' s1s2 ' is
# exactly a left-to-right non-overlapping merge pass); symbol →
# token id by the BPE convention (single char → codepoint; merge
# output k → 256 + k — a pure literal map, no corpus-dependent
# vocab pass). Graded per source: doc count, whitespace-word count
# (the q162 baseline), BPE token count, fertility (one IEEE
# division of two exact BIGINTs), and the per-source xor digest of
# doc-level ID SEQUENCES (md5 of doc_id : comma-joined ids in word
# order) — one wrong id, one swapped position, one dropped word
# flips it. Scale: encode cost is |vocab| × 32 literal replaces +
# one join back to the word stream + one doc-keyed reassembly
# shuffle — linear, fixed-depth.
# ---------------------------------------------------------------------------

_Q320_MERGES = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("cu", "st"), ("cust", "o"),
    ("custo", "mer"), ("f", "i"), ("fi", "l"),
]


def q320_bpe_encode_fixed_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import ws_tokens

    docs = spread(_t(spark, sf_dir, "documents"))
    stream = docs.select(
        "doc_id",
        "source",
        F.posexplode(ws_tokens(F.col("text"))).alias("pos", "w"),
    )
    vocab = stream.select("w").distinct()

    # chars double-space-joined with single-space boundaries; each
    # merge is one literal padded replace, applied in training order
    s = F.concat(
        F.lit(" "),
        F.array_join(
            F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"),
            "  ",
        ),
        F.lit(" "),
    )
    for a, b in _Q320_MERGES:
        s = F.replace(s, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    syms = F.filter(F.split(s, " "), lambda x: x != F.lit(""))

    # BPE id convention: merge output k → 256 + k, single char →
    # codepoint (the corpus is printable ASCII; pinned by the digest)
    id_map = {a + b: 256 + k for k, (a, b) in enumerate(_Q320_MERGES)}

    def sym_id(c):
        out = F.ascii(c)
        for sym, tid in id_map.items():
            out = F.when(c == sym, F.lit(tid)).otherwise(out)
        return out

    enc = vocab.select(
        "w",
        F.array_join(
            F.transform(syms, lambda c: sym_id(c).cast("string")), ","
        ).alias("ids"),
        F.size(syms).cast("long").alias("n_sym"),
    )

    per_doc = (
        stream.join(enc, "w")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "ids"))),
                    lambda x: x["ids"],
                ),
                ",",
            ).alias("seq"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.bit_xor(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("doc_id").cast("string"),
                                F.lit(":"),
                                F.col("seq"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
            ).cast("long").alias("seq_xor"),
        )
        # fertility: BPE tokens per whitespace word (the q162
        # baseline) — one IEEE division of two exact BIGINTs
        .withColumn(
            "fertility",
            F.col("n_tokens").cast("double") / F.col("n_words").cast("double"),
        )
        .orderBy("source")
    )


QUERIES["q320_bpe_encode_fixed_vocab"] = q320_bpe_encode_fixed_vocab


# Oracle: the same frozen merge list as nested literal replaces over
# the distinct-word table; doc sequences reassembled by position.
def _q320_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    toks = sql_word_ngrams("text", 1)
    padded = (
        "' ' || array_to_string(list_transform(range(1, length(w) + 1), "
        "i -> substr(w, i, 1)), '  ') || ' '"
    )
    expr = padded
    for a, b in _Q320_MERGES:
        expr = f"replace({expr}, ' {a}  {b} ', ' {a}{b} ')"
    id_case = "CASE s "
    for k, (a, b) in enumerate(_Q320_MERGES):
        id_case += f"WHEN '{a}{b}' THEN {256 + k} "
    id_case += "ELSE ascii(s) END"
    return f"""
    WITH stream AS MATERIALIZED (
        -- the lateral aliases must not shadow the tokenizer
        -- lambda's parameter name (w) — DuckDB's lateral-alias
        -- binder resolves the lambda var against the SELECT list
        SELECT doc_id, source, u.pos, u.tok AS w
        FROM documents,
             LATERAL (SELECT unnest({toks}) AS tok,
                             generate_subscripts({toks}, 1) AS pos) u
    ), vocab AS MATERIALIZED (
        SELECT DISTINCT w FROM stream
    ), enc AS MATERIALIZED (
        SELECT w,
               array_to_string(list_transform(syms, s -> CAST(({id_case}) AS VARCHAR)), ',')
                   AS ids,
               CAST(len(syms) AS BIGINT) AS n_sym
        FROM (SELECT w,
                     list_filter(string_split({expr}, ' '), x -> x != '') AS syms
              FROM vocab)
    ), per_doc AS MATERIALIZED (
        SELECT s.doc_id, s.source,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(e.n_sym) AS BIGINT) AS n_tokens,
               string_agg(e.ids, ',' ORDER BY s.pos) AS seq
        FROM stream s JOIN enc e ON e.w = s.w
        GROUP BY s.doc_id, s.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(bit_xor((('0x' || substr(md5(doc_id || ':' || seq), 1, 15))::BIGINT))
                AS BIGINT) AS seq_xor,
           CAST(SUM(n_tokens) AS DOUBLE) / CAST(SUM(n_words) AS DOUBLE) AS fertility
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """


ORACLE["q320_bpe_encode_fixed_vocab"] = _q320_oracle()


# ---------------------------------------------------------------------------
# Q321 — CHANGE DATA FEED between snapshots (the table-format verb
# downstream consumers need: after q317's merge, the inverted index
# (q294), the export (q310), and the training refresh must learn
# WHAT CHANGED without diffing full snapshots — at 100 TB a full
# diff is a full double scan). The store is COW (q300/q316's
# write-new-then-swap: the merge writes rewritten partitions to a
# NEW generation directory; no file is ever deleted in-place, so
# the pre-image stays readable until GC): v1 manifest = base files,
# v2 manifest = untouched cells' v1 files + the merge generation's
# files. The FEED is derived purely from the MANIFEST DIFF: pre =
# read of v1−v2 files, post = read of v2−v1 files — untouched
# partitions are never opened (the file counts are graded as the
# pruning evidence). Row-level classification by full-outer join on
# vec_id within that bounded set: post-only → insert, pre-only →
# delete, content-equal → carryover (rewrite amplification — a real
# cost metric), else update (+ a cell-move count: the cross-
# partition case). Ops reuse q317's derivation (u40 % 19), so the
# oracle classifies every row from flags alone and never sees a
# store — the graded claim is that the file-diff feed lands exactly
# on the flag truth. Scale: feed cost is O(changed partitions),
# never O(store); the classification join input is bounded by the
# rewrite size.
# ---------------------------------------------------------------------------


def q321_snapshot_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ai_data_pipeline_spark.operators.vectorized import ivf_assign_np
    from ai_data_pipeline_spark.plans.constants import Q28_CENTROIDS

    emb = _t(spark, sf_dir, "embeddings")
    r = F.pmod(_u40(F.col("vec_id")), F.lit(_Q317_MOD))
    base = ivf_assign_np(emb, Q28_CENTROIDS).select("vec_id", "embedding", "cell")

    tmp = tempfile.mkdtemp(prefix="q321_")
    g1 = tmp + "/store/gen=1"
    g2 = tmp + "/store/gen=2"
    try:
        # ---- q317's CDC ops, COW-applied: rewritten partitions land
        # in generation 2; generation 1 files are never touched.
        neg = emb.select(
            "vec_id",
            F.transform("embedding", lambda x: -x).alias("embedding"),
            r.alias("_r"),
        )

        def build_incoming():
            return ivf_assign_np(
                neg.filter(F.col("_r") == _Q317_UPD)
                .select("vec_id", "embedding")
                .unionByName(
                    neg.filter(F.col("_r") == _Q317_INS).select(
                        (F.col("vec_id") + _Q317_INS_OFF).alias("vec_id"),
                        "embedding",
                    )
                ),
                Q28_CENTROIDS,
            ).select("vec_id", "embedding", "cell").localCheckpoint()

        def build_store():
            base.repartition("cell").write.mode("overwrite").partitionBy(
                "cell"
            ).parquet(g1)
            return spark.read.parquet(g1).withColumn("_r", r)

        # gen-1 write and the CDC-batch kernel checkpoint are
        # independent — overlap them (guide §2.6, r13 idiom)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_store = pool.submit(build_store)
            f_inc = pool.submit(build_incoming)
            store, incoming = f_store.result(), f_inc.result()
        # v1 manifest: (file, cell) read back from the store itself
        v1_rows = (
            store.select(F.input_file_name().alias("f"), F.col("cell").cast("int").alias("c"))
            .distinct()
            .collect()  # ≤ |cells| files — count-gated
        )
        v1_files = {x["f"]: x["c"] for x in v1_rows}

        # only the union is consumed — ONE collect job (r13 opt: was
        # two), bounded by |centroids|
        affected = sorted(
            int(x["c"])
            for x in store.filter(F.col("_r").isin(_Q317_UPD, _Q317_DEL))
            .select(F.col("cell").cast("int").alias("c"))
            .union(incoming.select(F.col("cell").cast("int").alias("c")))
            .distinct()
            .collect()
        )

        survivors = store.filter(
            F.col("cell").cast("int").isin(affected)
            & ~F.col("_r").isin(_Q317_UPD, _Q317_DEL)
        ).select("vec_id", "embedding", "cell")
        # COW: no overwrite of counted/read files — no checkpoint
        # needed; gen1 is immutable by construction
        survivors.unionByName(incoming).repartition("cell").write.mode(
            "overwrite"
        ).partitionBy("cell").parquet(g2)

        g2_rows = (
            spark.read.parquet(g2)
            .select(F.input_file_name().alias("f"), F.col("cell").cast("int").alias("c"))
            .distinct()
            .collect()
        )
        # v2 manifest: untouched cells keep their v1 files; affected
        # cells are served by gen-2 files. v1−v2 = affected cells'
        # gen-1 files (the PRE image), v2−v1 = gen-2 (the POST).
        removed = sorted(f for f, c in v1_files.items() if c in set(affected))
        added = sorted(x["f"] for x in g2_rows)
        n_files_v2 = (len(v1_files) - len(removed)) + len(added)

        pre = spark.read.option("basePath", g1).parquet(*removed).select(
            "vec_id",
            F.col("embedding").alias("pre_emb"),
            F.col("cell").cast("int").alias("pre_cell"),
        )
        post = spark.read.option("basePath", g2).parquet(*added).select(
            "vec_id",
            F.col("embedding").alias("post_emb"),
            F.col("cell").cast("int").alias("post_cell"),
        )
        feed = pre.join(post, "vec_id", "full").select(
            "vec_id",
            F.when(F.col("pre_cell").isNull(), F.lit("insert"))
            .when(F.col("post_cell").isNull(), F.lit("delete"))
            .when(
                (F.col("pre_cell") == F.col("post_cell"))
                & (F.col("pre_emb") == F.col("post_emb")),
                F.lit("carryover"),
            )
            .otherwise(F.lit("update"))
            .alias("change_type"),
            (
                F.col("pre_cell").isNotNull()
                & F.col("post_cell").isNotNull()
                & (F.col("pre_cell") != F.col("post_cell"))
            ).cast("int").alias("moved"),
        )
        out = (
            feed.groupBy("change_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.bit_xor(
                    F.conv(
                        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15),
                        16,
                        10,
                    ).cast("long")
                ).cast("long").alias("id_xor"),
                F.sum("moved").cast("long").alias("n_cell_moves"),
            )
            .orderBy("change_type")
            .collect()  # ≤ 4 rows, before temp-dir cleanup
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    res = spark.createDataFrame(
        out, "change_type string, n_rows long, id_xor long, n_cell_moves long"
    )
    return (
        res.withColumn("n_files_pre_read", F.lit(len(removed)).cast("long"))
        .withColumn("n_files_post_read", F.lit(len(added)).cast("long"))
        .withColumn("n_files_v2", F.lit(int(n_files_v2)).cast("long"))
        .orderBy("change_type")
    )


QUERIES["q321_snapshot_change_feed"] = q321_snapshot_change_feed


# Oracle: every row classified from the op flags alone (the
# file-diff feed must land exactly on this truth); file counts from
# (cell, generation) occupancy.
def _q321_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import (
        sql_lit_list,
        sql_squared_l2,
    )
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM, Q28_CENTROIDS

    def cell_expr(vec: str) -> str:
        cells = ", ".join(
            f"struct_pack(d := {sql_squared_l2(vec, sql_lit_list(c), EMBED_DIM)}, c := {ci})"
            for ci, c in enumerate(Q28_CENTROIDS)
        )
        return f"struct_extract((list_sort([{cells}]))[1], 'c')"

    u40 = _SQL_U40.format(c="vec_id")
    return f"""
    WITH base AS MATERIALIZED (
        SELECT vec_id, {u40} % {_Q317_MOD} AS r,
               {cell_expr('embedding')} AS cell,
               {cell_expr('list_transform(embedding, x -> -x)')} AS neg_cell
        FROM embeddings
    ), aff AS MATERIALIZED (
        SELECT DISTINCT cell FROM (
            SELECT cell FROM base WHERE r IN ({_Q317_UPD}, {_Q317_DEL})
            UNION SELECT neg_cell FROM base WHERE r IN ({_Q317_UPD}, {_Q317_INS}))
    ), feed AS MATERIALIZED (
        SELECT vec_id, 'update' AS change_type,
               CASE WHEN cell != neg_cell THEN 1 ELSE 0 END AS moved
        FROM base WHERE r = {_Q317_UPD}
        UNION ALL
        SELECT vec_id, 'delete', 0 FROM base WHERE r = {_Q317_DEL}
        UNION ALL
        SELECT vec_id + {_Q317_INS_OFF}, 'insert', 0
        FROM base WHERE r = {_Q317_INS}
        UNION ALL
        SELECT vec_id, 'carryover', 0 FROM base
        WHERE r NOT IN ({_Q317_UPD}, {_Q317_DEL})
          AND cell IN (SELECT cell FROM aff)
    ), counts AS (
        -- pre-read files exist only for affected cells that have
        -- base occupancy (a cell born by an insert has no v1 file)
        SELECT (SELECT CAST(COUNT(DISTINCT cell) AS BIGINT) FROM base
                WHERE cell IN (SELECT cell FROM aff)) AS n_files_pre_read,
               (SELECT CAST(COUNT(DISTINCT c) AS BIGINT) FROM (
                    SELECT cell AS c FROM base
                    WHERE r NOT IN ({_Q317_UPD}, {_Q317_DEL})
                      AND cell IN (SELECT cell FROM aff)
                    UNION ALL
                    SELECT neg_cell FROM base WHERE r = {_Q317_UPD}
                    UNION ALL
                    SELECT neg_cell FROM base WHERE r = {_Q317_INS}))
                   AS n_files_post_read,
               (SELECT CAST(COUNT(DISTINCT cell) AS BIGINT) FROM base
                WHERE cell NOT IN (SELECT cell FROM aff))
                   AS n_files_untouched
    )
    SELECT change_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor((('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT))
                AS BIGINT) AS id_xor,
           CAST(SUM(moved) AS BIGINT) AS n_cell_moves,
           k.n_files_pre_read, k.n_files_post_read,
           k.n_files_untouched + k.n_files_post_read AS n_files_v2
    FROM feed CROSS JOIN counts k
    GROUP BY change_type, k.n_files_pre_read, k.n_files_post_read,
             k.n_files_untouched
    ORDER BY change_type
    """


ORACLE["q321_snapshot_change_feed"] = _q321_oracle()


# ---------------------------------------------------------------------------
# Q322 — IVF REINDEX under RETRAINED centroid geometry (the ANN
# lifecycle verb none of q300/q308/q312 exercise: compaction and
# snapshots preserve cell geometry, but a production vector store
# periodically RETRAINS its coarse quantizer as the corpus drifts
# and must MIGRATE every vector to its new cell — a full-store
# shuffle, staged as a COW generation swap so serving never sees a
# half-migrated store). The new geometry below is one exact Lloyd
# step over the sf0.01 snapshot, computed ONCE offline (q320's
# frozen-artifact discipline; retraining itself is graded by
# q224/q237 — this row grades the MIGRATION). Graded: the
# old→new migration matrix (only non-empty pairs), the stay
# fraction (one IEEE division of two exact BIGINTs — how much a
# one-step retrain moves), and the (vec_id, new_cell) xor digest
# from the GEN-2 READ-BACK — content invariance + correct
# placement in one number. Scale: reindex cost is ONE shuffle of
# the store keyed by the new cell + two assignment kernel passes —
# the honest linear cost; the matrix agg is K² rows.
# ---------------------------------------------------------------------------

_Q322_CENTROIDS = [
    [-0.02532, 0.005632, -0.01641, -0.037527, 0.008618, 0.033757, -0.020065, 0.029893, 0.020629, 0.008776, 0.031334, 0.026905, -0.011605, -0.014656, 0.00011, 0.007105, -0.02611, 0.018435, 0.009849, -0.04704, -0.000216, -0.013299, 0.008484, -0.014847, -0.023853, 0.004291, -0.012649, -0.019851, -0.022623, -0.00364, 0.016131, 0.002134, 0.037408, -0.029418, -0.012223, -0.021279, 0.006884, 0.025171, 0.018895, -0.01388, 0.007534, -0.027443, -0.045397, -0.020435, -0.027507, 0.007303, 0.027572, 0.026786, 0.016004, -0.024531, 0.019181, -0.012062, 0.008204, 0.03473, -0.005418, -0.014168, -0.03899, 0.030625, 0.001053, 0.015648, 0.008607, 0.016014, -0.026404, 0.015802],
    [-0.047368, -0.213272, 0.049568, 0.031948, -0.010949, -0.003133, -0.201497, 0.016156, -0.123071, -0.119376, -0.012661, 0.090315, -0.007413, 0.145479, 0.091872, 0.158243, -0.096316, -0.189473, -0.11265, -0.167438, 0.02179, 0.251971, -0.074472, 0.013813, -0.142809, 0.095314, 0.095996, 0.123259, -0.09151, -0.115541, 0.048064, -0.126296, 0.021593, -0.008222, -0.046744, -0.089661, 0.068194, -0.139245, -0.019053, 0.062899, -0.035925, -0.056563, -0.02671, -0.249638, 0.043895, -0.064415, -0.054433, 0.067603, 0.004593, -0.016873, -0.100631, -0.111904, -0.10052, 0.075418, -0.011853, 0.008689, -0.133441, -0.043109, 0.025262, -0.042357, -0.08352, -0.015635, 0.056311, -0.109394],
    [0.042348, -0.072978, 0.068739, 0.0871, -0.003692, 0.092818, -0.097742, 0.091196, -0.064263, -0.018126, 0.040504, -0.017579, 0.030999, 0.031024, -0.074699, 0.000176, -0.134643, -0.072508, -0.092791, -0.014556, 0.01727, 0.02133, -0.042262, -0.022388, -0.167146, -0.010839, -0.0901, -0.029562, 0.013437, -0.045053, 0.003831, 0.030332, -0.035634, -0.026923, 0.078819, 0.001104, -0.086397, -0.011692, 0.031144, 0.036724, -0.038478, -0.073365, 0.02188, -0.02753, -0.016228, -0.06797, -0.028006, 0.107862, -0.019143, 0.038711, 0.014235, -0.061035, 0.080872, 0.035359, -0.003011, 0.005903, -0.062064, -0.014352, -0.066952, -0.073491, -0.031332, -0.025133, 0.044492, -0.110518],
    [-0.041944, 0.00116, 0.080362, -0.10348, 0.061395, 0.084273, -0.110131, 0.063789, 0.063897, -0.016104, 0.122714, -0.0107, 0.036657, 0.006313, -0.020143, -0.01137, 0.058483, -0.033357, -0.008532, 0.028702, 0.064999, 0.038489, -0.00765, 0.023269, -0.020634, 0.006471, 0.02369, 0.150312, -0.128569, -0.050618, -0.046905, -0.073633, 0.200953, 0.018015, 0.122817, 0.029753, 0.005245, 0.086704, -0.003792, -0.057073, -0.143752, -0.130648, -0.040009, 0.089184, -0.049184, -0.025399, 0.03251, -0.013471, 0.024578, 0.004899, 0.112276, 0.011337, -0.051767, -0.033621, 0.087475, -0.012334, -0.05297, -0.050553, 0.048111, -0.004059, -0.020858, 0.042879, 0.001804, 0.075223],
    [-0.00818, -0.019319, -0.012353, 0.05355, -0.027448, 0.011107, -0.0021, -0.003548, 0.040136, 0.018922, 0.045656, 0.053835, -0.007737, -0.052726, 0.049572, 0.03524, 0.090248, -0.056636, -0.008502, -0.037627, -0.073491, -0.061253, -0.026758, -0.0334, -0.102955, 0.003453, 0.004185, 0.045953, 0.025173, 0.039799, 0.030837, -0.083456, -0.022743, 0.007082, 0.084239, -0.075198, -0.061444, -0.078268, 0.053123, 0.018089, 0.024248, 0.027979, -0.01922, -0.041178, -0.059113, -0.011949, -0.024488, 0.057889, -0.012735, 0.070972, -0.000849, 0.057102, -0.002856, 0.049766, -0.001366, 0.033581, 0.028776, 0.028424, 0.036904, -0.108699, -0.004827, 0.044352, 0.004501, -0.098842],
    [0.072471, -0.00825, 0.012832, 0.074911, -0.012778, 0.02517, -0.0207, -0.071865, -0.006357, -0.03738, -0.00322, -0.017939, 0.006423, 0.043333, -0.052062, -0.046257, 0.026732, 0.01724, -0.050959, -0.010801, -0.075629, 0.009421, -0.045369, 0.033134, 0.031737, -0.069503, 0.019121, -0.008869, 0.087554, -0.024315, -0.011612, -0.02472, -0.075518, -0.077312, 0.003238, 0.064818, 0.007976, -0.060289, -0.018072, -0.042684, -0.011621, -0.050488, -0.041486, -0.011449, -0.030599, -0.010369, 0.027837, 0.093156, -0.033255, 0.024405, 0.023692, -0.06153, 0.091305, -0.033016, 0.005891, -0.025132, 0.044072, -0.014163, 0.012704, 0.051856, 0.009739, 0.011119, 0.007289, -0.005526],
    [-0.015179, -0.018715, 0.016439, -0.002891, 0.037758, 0.011461, -0.051243, -0.034214, -0.028624, -0.039706, -0.017428, 0.040023, -0.000901, -7.6e-05, -0.019114, 0.031085, 0.021975, -0.019952, 0.022804, 0.028921, -0.023377, -0.002642, 0.02076, -0.037434, 0.023821, -0.003648, 0.038057, 0.033418, 0.009385, -0.018988, 0.007304, -0.035292, -0.004085, -0.022991, 0.018643, -0.032582, -0.014644, 0.012021, 0.026794, -0.001553, -0.022876, 0.014628, 0.037555, -0.016807, -0.002245, -0.008164, -0.033395, -0.026667, -0.011661, 0.013971, 0.018939, -0.014833, 0.019277, -0.023625, -0.02346, -0.01704, 0.025793, -0.004159, -0.015552, 0.00731, -0.002784, 0.017868, 0.028555, -0.031657],
    [0.024703, 0.002563, 0.00586, 0.00378, -0.001263, -0.01733, 0.007489, 0.023099, -0.002436, 0.019227, -0.001099, -0.033657, -0.000283, 0.011473, 0.013753, -0.007677, 0.010241, 0.020645, -0.011108, 0.021721, 0.012052, 0.014483, 0.000401, 0.010971, 0.009162, 0.034767, -0.016804, 0.014698, 0.001177, 0.017439, -0.001629, 0.012794, 0.002668, 0.022252, -0.000273, 0.034632, -0.003543, -0.017619, -0.03234, 0.008433, 0.007944, -0.010901, 0.013425, 0.026393, -0.001807, 0.014379, -0.00017, -0.003157, -0.009297, -0.024238, -0.004001, 0.017279, -0.005484, -0.02037, 0.026307, 0.010084, 0.021829, -0.022047, -0.005301, -0.029706, -0.002729, -0.011515, -0.00497, -0.014349],
]


def q322_ivf_reindex_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ai_data_pipeline_spark.operators.vectorized import ivf_assign_np
    from ai_data_pipeline_spark.plans.constants import Q28_CENTROIDS

    emb = _t(spark, sf_dir, "embeddings")
    base = ivf_assign_np(emb, Q28_CENTROIDS).select("vec_id", "embedding", "cell")

    tmp = tempfile.mkdtemp(prefix="q322_")
    g1 = tmp + "/store/gen=1"
    g2 = tmp + "/store/gen=2"
    try:
        base.repartition("cell").write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(g1)
        store = spark.read.parquet(g1).select(
            "vec_id", "embedding", F.col("cell").cast("int").alias("old_cell")
        )
        # re-assignment under the retrained geometry, from the
        # read-back; referenced by the matrix agg AND the rewrite —
        # materialize the (8-byte id, two cells) projection is NOT
        # enough (the rewrite needs embeddings), so checkpoint the
        # whole assigned frame once (the ≥2×-consumed kernel rule)
        assigned = (
            ivf_assign_np(store, _Q322_CENTROIDS)
            .select("vec_id", "embedding", "old_cell", F.col("cell").cast("int").alias("cell"))
            .localCheckpoint()
        )
        matrix = (
            assigned.groupBy("old_cell", "cell")
            .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
            .collect()  # ≤ K² rows — count-gated by centroid geometry
        )
        # COW generation swap: gen-1 untouched, gen-2 is the new
        # layout — one shuffle keyed by the NEW cell
        assigned.select("vec_id", "embedding", "cell").repartition(
            "cell"
        ).write.mode("overwrite").partitionBy("cell").parquet(g2)
        audit = spark.read.parquet(g2).agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.bit_xor(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("vec_id").cast("string"),
                                F.lit(":"),
                                F.col("cell").cast("string"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
            ).cast("long").alias("content_xor"),
        ).collect()[0]  # 1 row
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    n_total = int(audit["n_total"])
    n_stayed = sum(int(r["n_vecs"]) for r in matrix
                   if int(r["old_cell"]) == int(r["cell"]))
    res = spark.createDataFrame(
        [(int(r["old_cell"]), int(r["cell"]), int(r["n_vecs"])) for r in matrix],
        "old_cell long, new_cell long, n_vecs long",
    )
    return (
        res.withColumn("n_total", F.lit(n_total).cast("long"))
        .withColumn("n_stayed", F.lit(n_stayed).cast("long"))
        # single IEEE division of two exact BIGINTs
        .withColumn(
            "stay_frac", F.lit(float(n_stayed)) / F.lit(float(n_total))
        )
        .withColumn("content_xor", F.lit(int(audit["content_xor"])).cast("long"))
        .orderBy("old_cell", "new_cell")
    )


QUERIES["q322_ivf_reindex_migration"] = q322_ivf_reindex_migration


# Oracle: both assignments recomputed from `embeddings` with the
# shared literal centroid sets; the migration matrix, stay
# fraction, and placement digest must land exactly.
def _q322_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import (
        sql_lit_list,
        sql_squared_l2,
    )
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM, Q28_CENTROIDS

    def cell_expr(cents) -> str:
        cells = ", ".join(
            f"struct_pack(d := {sql_squared_l2('embedding', sql_lit_list(c), EMBED_DIM)}, c := {ci})"
            for ci, c in enumerate(cents)
        )
        return f"struct_extract((list_sort([{cells}]))[1], 'c')"

    return f"""
    WITH assigned AS MATERIALIZED (
        SELECT vec_id,
               {cell_expr(Q28_CENTROIDS)} AS old_cell,
               {cell_expr(_Q322_CENTROIDS)} AS new_cell
        FROM embeddings
    ), consts AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN old_cell = new_cell THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_stayed,
               CAST(bit_xor((('0x' || substr(md5(vec_id || ':' || new_cell), 1, 15))::BIGINT))
                    AS BIGINT) AS content_xor
        FROM assigned
    )
    SELECT CAST(old_cell AS BIGINT) AS old_cell,
           CAST(new_cell AS BIGINT) AS new_cell,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           k.n_total, k.n_stayed,
           CAST(k.n_stayed AS DOUBLE) / CAST(k.n_total AS DOUBLE) AS stay_frac,
           k.content_xor
    FROM assigned CROSS JOIN consts k
    GROUP BY old_cell, new_cell, k.n_total, k.n_stayed, k.content_xor
    ORDER BY old_cell, new_cell
    """


ORACLE["q322_ivf_reindex_migration"] = _q322_oracle()


# ---------------------------------------------------------------------------
# Q323 — STREAMING CDC upserts (the foreachBatch half of q317, as
# q297 is to q293 and q315 to q310 — in production the CDC feed
# arrives continuously from outside; the merge discipline must hold
# PER MICRO-BATCH, and the final store must land exactly on the
# one-shot batch merge): q317's op set (u40 % 19 → update/delete/
# insert, disjoint id sets so sequential application commutes) is
# dealt into 3 micro-batch files (vec_id mod 3 — ops travel WITH
# their new embeddings as JSON, surviving the float32→JSON→float32
# round trip exactly) and replayed with availableNow +
# maxFilesPerTrigger=1; each batch runs the full q317 merge: old
# cells of its hits ∪ new cells of its incoming, survivors
# checkpointed BEFORE the dynamic overwrite (the overwrite-lineage
# rule), fully-emptied cells dropped. Graded: post-stream cosine
# top-3 + the SAME audit schema as q317 — the oracle IS q317's
# (base-with-ops-applied; the one-shot/streaming equivalence is the
# graded claim). Scale: per-batch cost is that batch's affected
# cells only; the accumulated rewritten-cell set equals the
# one-shot affected set because op id sets are disjoint. Wall is
# micro-batch replay class (adjudicate vs stream_canary_sec).
# ---------------------------------------------------------------------------


def q323_streaming_cdc_upserts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os as _os
    import shutil
    import tempfile

    from ai_data_pipeline_spark.functions.vector import cosine
    from ai_data_pipeline_spark.operators import similarity
    from ai_data_pipeline_spark.operators.vectorized import ivf_assign_np
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS, Q28_CENTROIDS

    emb = _t(spark, sf_dir, "embeddings")
    r = F.pmod(_u40(F.col("vec_id")), F.lit(_Q317_MOD))
    base = ivf_assign_np(emb, Q28_CENTROIDS).select("vec_id", "embedding", "cell")

    tmp = tempfile.mkdtemp(prefix="q323_")
    path = tmp + "/store"
    ops_dir = tmp + "/ops"
    ckpt = tmp + "/ckpt"
    _os.makedirs(ops_dir)
    rewritten: set[int] = set()
    try:
        base.repartition("cell").write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(path)

        # the CDC feed (TEST-HARNESS setup, q297's precedent: in
        # production this arrives from outside — a Kafka topic, a
        # re-embedding service's output table; the collect is the
        # op set, ~3/19 of the corpus, not the store)
        ops = (
            emb.withColumn("_r", r)
            .filter(F.col("_r").isin(_Q317_UPD, _Q317_DEL, _Q317_INS))
            .select(
                "vec_id",
                "_r",
                F.transform("embedding", lambda x: -x).alias("nemb"),
            )
            .collect()
        )
        n_upd = sum(1 for o in ops if o["_r"] == _Q317_UPD)
        n_del = sum(1 for o in ops if o["_r"] == _Q317_DEL)
        n_ins = sum(1 for o in ops if o["_r"] == _Q317_INS)
        for b in range(3):
            with open(f"{ops_dir}/batch{b}.json", "w") as f:
                for o in ops:
                    if int(o["vec_id"]) % 3 != b:
                        continue
                    if o["_r"] == _Q317_UPD:
                        rec = {"vec_id": int(o["vec_id"]), "op": "U",
                               "embedding": [float(x) for x in o["nemb"]]}
                    elif o["_r"] == _Q317_DEL:
                        rec = {"vec_id": int(o["vec_id"]), "op": "D",
                               "embedding": None}
                    else:
                        rec = {"vec_id": int(o["vec_id"]) + _Q317_INS_OFF,
                               "op": "I",
                               "embedding": [float(x) for x in o["nemb"]]}
                    f.write(_json.dumps(rec) + "\n")

        def apply_batch(batch_df, epoch_id):
            if batch_df.isEmpty():
                return
            store = spark.read.parquet(path)
            touched_ids = batch_df.filter(F.col("op").isin("U", "D")).select(
                "vec_id"
            )
            incoming = ivf_assign_np(
                batch_df.filter(F.col("op").isin("U", "I")).select(
                    "vec_id", "embedding"
                ),
                Q28_CENTROIDS,
            ).select("vec_id", "embedding", "cell").localCheckpoint()
            # r14 opt (guide §2.4; profiled ~12 jobs/micro-batch):
            # ONE per-cell stats job yields affected cells (old cells
            # of touched rows ∪ new cells of incoming), the emptied
            # set AND what the post-write `present` collect used to
            # re-derive — survivors per cell ≡ untouched store rows,
            # so the second collect job per batch is gone. Bounded by
            # |centroids| rows, as before.
            stats = (
                store.select("vec_id", F.col("cell").cast("int").alias("c"))
                .join(touched_ids.withColumn("t", F.lit(1)), "vec_id", "left")
                .select(
                    "c",
                    F.lit(1).alias("n_total"),
                    F.coalesce("t", F.lit(0)).alias("n_hit"),
                    F.lit(0).alias("n_inc"),
                )
                .unionByName(
                    incoming.select(
                        F.col("cell").cast("int").alias("c"),
                        F.lit(0).alias("n_total"),
                        F.lit(0).alias("n_hit"),
                        F.lit(1).alias("n_inc"),
                    )
                )
                .groupBy("c")
                .agg(
                    F.sum("n_total").alias("n_total"),
                    F.sum("n_hit").alias("n_hit"),
                    F.sum("n_inc").alias("n_inc"),
                )
                .collect()
            )
            affected = sorted(
                int(r["c"]) for r in stats if r["n_hit"] > 0 or r["n_inc"] > 0
            )
            if not affected:
                return
            # present ⇔ the cell keeps ≥1 survivor (untouched store
            # row) or receives ≥1 incoming row
            emptied = [
                int(r["c"])
                for r in stats
                if (r["n_hit"] > 0 or r["n_inc"] > 0)
                and (r["n_total"] - r["n_hit"]) == 0
                and r["n_inc"] == 0
            ]
            survivors = store.filter(
                F.col("cell").cast("int").isin(affected)
            ).join(touched_ids, "vec_id", "anti").select(
                "vec_id", "embedding", "cell"
            )
            rewrite = survivors.unionByName(incoming).localCheckpoint()
            rewrite.repartition("cell").write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("cell").parquet(path)
            for c in emptied:
                shutil.rmtree(f"{path}/cell={c}", ignore_errors=True)
            rewritten.update(affected)

        q = (
            spark.readStream.schema("vec_id long, op string, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .json(ops_dir)
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        store2 = spark.read.parquet(path)

        # r14 opt (guide §2.6): the content-xor audit and the cosine
        # top-3 are independent full-store reads — overlap their jobs
        def run_audit():
            return store2.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.bit_xor(
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.col("vec_id").cast("string"),
                                    F.lit(":"),
                                    F.col("cell").cast("string"),
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long")
                ).cast("long").alias("content_xor"),
            ).collect()[0]  # 1 row

        def run_top3():
            queries = similarity.queries_df(spark, Q27_QUERY_VECS)
            cand = store2.crossJoin(F.broadcast(queries)).select(
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
                    "qid", F.col("rk").cast("long").alias("rk"), "vec_id", "sim"
                )
                .collect()  # 15 rows, before temp-dir cleanup
            )

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fa, ft = pool.submit(run_audit), pool.submit(run_top3)
            audit, out = fa.result(), ft.result()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    res = spark.createDataFrame(out, "qid long, rk long, vec_id long, sim double")
    return (
        res.withColumn("n_rows", F.lit(int(audit["n_rows"])).cast("long"))
        .withColumn("n_upserts", F.lit(int(n_upd)).cast("long"))
        .withColumn("n_deletes", F.lit(int(n_del)).cast("long"))
        .withColumn("n_inserts", F.lit(int(n_ins)).cast("long"))
        .withColumn("n_cells_rewritten", F.lit(len(rewritten)).cast("long"))
        .withColumn("content_xor", F.lit(int(audit["content_xor"])).cast("long"))
        .orderBy("qid", "rk")
    )


QUERIES["q323_streaming_cdc_upserts"] = q323_streaming_cdc_upserts


# Oracle: q317's — the streaming replay must land exactly on the
# one-shot batch merge (op id sets are disjoint, so application
# order cannot matter; that equivalence IS the graded claim).
ORACLE["q323_streaming_cdc_upserts"] = _q317_oracle()


# ---------------------------------------------------------------------------
# Q324 — merge-on-read DELETION VECTORS (the other half of the
# delete design space: q293/q297/q314 delete copy-on-write — every
# affected partition is rewritten at delete time, which at 100 TB
# turns a 0.1% row-level delete into a multi-TB rewrite; the
# production alternative — Delta deletion vectors / Iceberg v2
# merge-on-read — records deletes in a tiny per-file SIDECAR and
# lets READERS apply them, deferring the rewrite until a compaction
# decides it pays). Here: the cell-partitioned vector store takes a
# row-level delete set (u40 % 7 < cell % 3 — a per-cell skew by
# construction: cells ≡0 (mod 3) take no deletes, ≡1 take ~1/7,
# ≡2 take ~2/7, so the maintenance decision below has all three
# regimes on one store); the DV write shuffles ONLY the delete set,
# keyed by the data file it masks — an in-path check raises if any
# DATA file changed (the merge-on-read property). A MOR reader
# anti-joins the broadcast sidecar on (file, vec_id) — DVs are tiny
# relative to data by construction, the broadcast is the honest
# physical plan. Then selective MATERIALIZATION (q308's OPTIMIZE
# discipline applied to DVs): only cells whose deleted fraction
# crosses the integer-cross-multiplied threshold 5·n_del ≥ n_rows
# (≥ 20%) are rewritten without their DVs (survivors checkpointed
# BEFORE the dynamic overwrite — the overwrite-lineage rule;
# fully-emptied cells dropped — q293's rule; the materialized
# cells' DV directories unlinked — a manifest operation touching no
# data bytes, q316's class); an in-path check raises if a kept-DV
# or clean cell's physical files changed. Graded: MOR top-3 search
# ≡ the oracle's base-minus-deletes recompute (the oracle never
# sees a store), the delete/cell-regime audit, and the MOR digest
# emitted TWICE — once from the sidecar read, once from the
# post-materialization read — equality is the claim that deferred
# and eager deletes converge. Scale: delete cost is |delete set|,
# not |affected partitions|; the rewrite happens only where a
# threshold says it pays, exactly like production MOR tables.
# ---------------------------------------------------------------------------

_Q324_MOD = 7


def q324_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ai_data_pipeline_spark.functions.vector import cosine
    from ai_data_pipeline_spark.operators import similarity
    from ai_data_pipeline_spark.operators.vectorized import ivf_assign_np
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS, Q28_CENTROIDS

    emb = _t(spark, sf_dir, "embeddings")
    base = ivf_assign_np(emb, Q28_CENTROIDS).select("vec_id", "embedding", "cell")

    tmp = tempfile.mkdtemp(prefix="q324_")
    path = tmp + "/store"
    dv_path = tmp + "/dv"
    try:
        base.repartition("cell").write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(path)

        def file_map():
            # (cell → sorted file list) from the store's own
            # read-back; collect bounded by |cells| ≤ |centroids|
            rows = (
                spark.read.parquet(path)
                .select(F.col("cell").cast("int").alias("c"),
                        F.input_file_name().alias("f"))
                .distinct()
                .collect()
            )
            out: dict[int, list] = {}
            for r_ in rows:
                out.setdefault(int(r_["c"]), []).append(r_["f"])
            return {c: sorted(fs) for c, fs in out.items()}

        files_v0 = file_map()

        # the store scan projects its own file name at the source
        # (input_file_name is single-source: project BEFORE joins)
        store = spark.read.parquet(path).select(
            "vec_id", "embedding",
            F.col("cell").cast("int").alias("cell"),
            F.input_file_name().alias("f"),
        )
        deleted = F.pmod(_u40(F.col("vec_id")), F.lit(_Q324_MOD)) < F.pmod(
            F.col("cell"), F.lit(3)
        )

        # ---- the DV write: ONLY the delete set moves; keyed by the
        # data file each entry masks (the sidecar contract)
        dv = store.filter(deleted).select("cell", "f", "vec_id")
        dv.repartition("cell").write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(dv_path)
        if file_map() != files_v0:
            raise RuntimeError("q324: DV write touched data files (not MOR)")

        dv_r = spark.read.parquet(dv_path).select(
            F.col("f").alias("dv_f"), F.col("vec_id").alias("dv_id"),
            F.col("cell").cast("int").alias("dv_cell"),
        )
        # per-cell regime audit + the materialization decision;
        # collects bounded by centroid geometry (≤ |centroids| rows)
        totals = {
            int(r_["cell"]): int(r_["n"])
            for r_ in store.groupBy("cell").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        dels = {
            int(r_["dv_cell"]): int(r_["n"])
            for r_ in dv_r.groupBy("dv_cell").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        flagged = sorted(
            c for c in totals if 5 * dels.get(c, 0) >= totals[c] and c in dels
        )
        kept_dv = sorted(c for c in dels if c not in flagged)
        clean = sorted(c for c in totals if c not in dels)
        n_deleted = sum(dels.values())

        def mor_read():
            st = spark.read.parquet(path).select(
                "vec_id", "embedding",
                F.col("cell").cast("int").alias("cell"),
                F.input_file_name().alias("f"),
            )
            sidecar = spark.read.parquet(dv_path).select(
                F.col("f").alias("dv_f"), F.col("vec_id").alias("dv_id")
            )
            return st.join(
                F.broadcast(sidecar),
                (F.col("f") == F.col("dv_f"))
                & (F.col("vec_id") == F.col("dv_id")),
                "left_anti",
            )

        def digest(df):
            row = df.agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.bit_xor(
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.col("vec_id").cast("string"),
                                    F.lit(":"),
                                    F.col("cell").cast("string"),
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long")
                ).cast("long").alias("x"),
            ).collect()[0]  # 1 row
            return int(row["n"]), int(row["x"])

        live = mor_read()
        n_live, xor_mor = digest(live)

        # ---- MOR top-3 search (pre-materialization — the state a
        # reader sees the moment the DV commit lands)
        queries = similarity.queries_df(spark, Q27_QUERY_VECS)
        cand = live.crossJoin(F.broadcast(queries)).select(
            "qid",
            "vec_id",
            cosine(F.col("embedding"), F.col("qvec")).alias("sim"),
        )
        out = (
            cand.withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
                ),
            )
            .filter(F.col("rk") <= 3)
            .select("qid", F.col("rk").cast("long").alias("rk"), "vec_id", "sim")
            .collect()  # 15 rows, before temp-dir cleanup
        )

        # ---- selective materialization: rewrite ONLY threshold-
        # flagged cells without their DV rows; checkpoint BEFORE
        # the dynamic overwrite replaces the files this frame reads
        if flagged:
            rewrite = live.filter(F.col("cell").isin(flagged)).select(
                "vec_id", "embedding", "cell"
            ).localCheckpoint()
            rewrite.repartition("cell").write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("cell").parquet(path)
            present = {
                int(r_["cell"])
                for r_ in rewrite.select("cell").distinct().collect()
            }
            for c in flagged:
                if c not in present:  # fully-emptied cell (q293)
                    shutil.rmtree(f"{path}/cell={c}", ignore_errors=True)
                # the cell's DV is now materialized: unlink the
                # sidecar partition (manifest op, no data bytes)
                shutil.rmtree(f"{dv_path}/cell={c}", ignore_errors=True)
        files_v1 = file_map()
        for c in kept_dv + clean:
            if files_v1.get(c) != files_v0.get(c):
                raise RuntimeError(
                    f"q324: materialization touched unflagged cell {c}"
                )
        for c in flagged:
            if set(files_v1.get(c, [])) & set(files_v0.get(c, [])):
                raise RuntimeError(
                    f"q324: flagged cell {c} kept a pre-materialization file"
                )

        # ---- post-materialization MOR read: deferred and eager
        # deletes must converge on the same content
        n_live2, xor_after = digest(mor_read())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    res = spark.createDataFrame(out, "qid long, rk long, vec_id long, sim double")
    return (
        res.withColumn("n_live", F.lit(n_live).cast("long"))
        .withColumn("n_live_compacted", F.lit(n_live2).cast("long"))
        .withColumn("n_deleted", F.lit(n_deleted).cast("long"))
        .withColumn("n_cells_materialized", F.lit(len(flagged)).cast("long"))
        .withColumn("n_cells_kept_dv", F.lit(len(kept_dv)).cast("long"))
        .withColumn("n_cells_clean", F.lit(len(clean)).cast("long"))
        .withColumn("content_xor_mor", F.lit(xor_mor).cast("long"))
        .withColumn("content_xor_compacted", F.lit(xor_after).cast("long"))
        .orderBy("qid", "rk")
    )


QUERIES["q324_deletion_vectors"] = q324_deletion_vectors


# Oracle: base-minus-deletes recomputed straight off `embeddings`
# (no store, no sidecar): cells re-derived with the list_sort
# struct idiom, the delete flag from the same u40/cell arithmetic,
# per-cell regime counts from a group-by, and the live digest
# emitted twice — the MOR read and the post-materialization read
# must both land on it.
def _q324_oracle() -> str:
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
    u40 = _SQL_U40.format(c="vec_id")
    return f"""
    WITH assigned AS MATERIALIZED (
        SELECT vec_id, embedding,
               struct_extract((list_sort([{cells}]))[1], 'c') AS cell,
               {u40} AS u
        FROM embeddings
    ), flags AS MATERIALIZED (
        SELECT vec_id, embedding, cell,
               (u % {_Q324_MOD}) < (cell % 3) AS deleted
        FROM assigned
    ), cellstats AS (
        SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_tot,
               CAST(COUNT(*) FILTER (WHERE deleted) AS BIGINT) AS n_del
        FROM flags GROUP BY cell
    ), regimes AS (
        SELECT CAST(COUNT(*) FILTER (WHERE n_del > 0 AND 5 * n_del >= n_tot)
                    AS BIGINT) AS n_cells_materialized,
               CAST(COUNT(*) FILTER (WHERE n_del > 0 AND 5 * n_del < n_tot)
                    AS BIGINT) AS n_cells_kept_dv,
               CAST(COUNT(*) FILTER (WHERE n_del = 0) AS BIGINT) AS n_cells_clean,
               CAST(SUM(n_del) AS BIGINT) AS n_deleted
        FROM cellstats
    ), audit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_live,
               CAST(bit_xor((('0x' || substr(md5(vec_id || ':' || cell), 1, 15))::BIGINT))
                    AS BIGINT) AS content_xor
        FROM flags WHERE NOT deleted
    ), ranked AS (
        SELECT q.qid, a.vec_id, {cos} AS sim,
               ROW_NUMBER() OVER (
                   PARTITION BY q.qid ORDER BY {cos} DESC, a.vec_id) AS rk
        FROM flags a CROSS JOIN (VALUES {qrows}) AS q(qid, qvec)
        WHERE NOT a.deleted
    )
    SELECT CAST(qid AS BIGINT) AS qid, CAST(rk AS BIGINT) AS rk, vec_id, sim,
           d.n_live, d.n_live AS n_live_compacted, g.n_deleted,
           g.n_cells_materialized, g.n_cells_kept_dv, g.n_cells_clean,
           d.content_xor AS content_xor_mor,
           d.content_xor AS content_xor_compacted
    FROM ranked CROSS JOIN audit d CROSS JOIN regimes g
    WHERE rk <= 3
    ORDER BY qid, rk
    """


ORACLE["q324_deletion_vectors"] = _q324_oracle()


# ---------------------------------------------------------------------------
# Q325 — manifest ZONE-MAP data skipping (the table-format read
# optimization the store rows write toward: q310/q312/q315 version
# and attest FILE LISTS; production manifests also carry per-file
# column MIN/MAX so a range query PLANS its file set from the
# manifest and never opens the rest — Iceberg/Delta data skipping,
# Snowflake micro-partition pruning). The corpus is written
# CLUSTERED on the filter key: a fixed 16-way range bucketing
# ((doc_id − min)·16 div span — monotone in the key, fixed fan-out
# at every scale; the fixed-WIDTH alternative was rejected in q319
# for file-count-∝-corpus overhead, and the 16× corpus's sparse
# strided ids would degenerate it here), one file per bucket (the
# q250 repartition-then-partitionBy rule). The manifest is per-file
# (min, max) from the store's own read-back (≤ 16 rows — count-
# gated); the planner selects files overlapping the middle-decile
# band [min + 45%·span, min + 55%·span] (integer percent
# arithmetic, non-negative by construction) and the pruned reader
# opens ONLY those paths. Graded: the file accounting
# (total/read/pruned — the skipping evidence) and the band
# aggregate computed TWICE — from the pruned read and from a full
# scan — equal counts/digests being the claim that pruning lost
# nothing. Scale: the manifest is metadata (16 rows regardless of
# corpus size); the pruned read's I/O is proportional to the band,
# not the corpus.
# ---------------------------------------------------------------------------

_Q325_FANOUT = 16
_Q325_LO_PCT = 45
_Q325_HI_PCT = 55


def q325_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    b = docs.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    ).collect()[0]  # 1 row — corpus key bounds
    mn0, mx0 = int(b["mn"]), int(b["mx"])
    span = mx0 - mn0 + 1
    # middle-decile band; dividends 45/55·(mx−mn) ≥ 0 — Python //
    # == truncation == floor on non-negatives
    lo = mn0 + (_Q325_LO_PCT * (mx0 - mn0)) // 100
    hi = mn0 + (_Q325_HI_PCT * (mx0 - mn0)) // 100

    tmp = tempfile.mkdtemp(prefix="q325_")
    path = tmp + "/store"
    try:
        framed = docs.withColumn(
            "bucket",
            F.expr(
                f"((doc_id - {mn0}) * {_Q325_FANOUT}) div {span}"
            ).cast("int"),
        )
        framed.repartition("bucket").write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(path)

        store = spark.read.parquet(path).select(
            "doc_id", "source", "n_chars", F.input_file_name().alias("f")
        )
        manifest = store.groupBy("f").agg(
            F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
        ).collect()  # ≤ fan-out rows — the zone map
        n_files_total = len(manifest)
        selected = sorted(
            m["f"] for m in manifest if int(m["mx"]) >= lo and int(m["mn"]) <= hi
        )

        def band_agg(df):
            row = df.filter(F.col("doc_id").between(lo, hi)).agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.col("n_chars").cast("long")).cast("long").alias("s"),
                F.bit_xor(
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    ":",
                                    F.col("doc_id").cast("string"),
                                    F.col("source"),
                                    F.col("n_chars").cast("string"),
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long")
                ).cast("long").alias("x"),
            ).collect()[0]  # 1 row
            return int(row["n"]), int(row["s"]), int(row["x"])

        pruned = spark.read.option("basePath", path).parquet(*selected)
        n_p, s_p, x_p = band_agg(pruned)
        n_f, s_f, x_f = band_agg(spark.read.parquet(path))
        if s_p != s_f:
            raise RuntimeError("q325: pruned band sum diverged from full scan")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                n_files_total,
                len(selected),
                n_files_total - len(selected),
                n_p,
                s_p,
                x_p,
                n_f,
                x_f,
            )
        ],
        "n_files_total long, n_files_read long, n_files_pruned long, "
        "n_rows_matched long, sum_chars long, content_xor long, "
        "n_rows_full long, content_xor_full long",
    ).orderBy("n_files_total")


QUERIES["q325_zonemap_skipping"] = q325_zonemap_skipping


# Oracle: the zone map reconstructed relationally — per-bucket
# (min, max) over the same range bucketing, the same overlap
# predicate, and the band aggregate computed once and emitted for
# both the pruned and full columns (pruning must lose nothing).
def _q325_oracle() -> str:
    return f"""
    WITH d AS MATERIALIZED (
        SELECT doc_id, source, n_chars FROM documents
    ), bounds AS (
        SELECT MIN(doc_id) AS mn0, MAX(doc_id) AS mx0 FROM d
    ), rng AS (
        SELECT mn0 + ({_Q325_LO_PCT} * (mx0 - mn0)) // 100 AS lo,
               mn0 + ({_Q325_HI_PCT} * (mx0 - mn0)) // 100 AS hi
        FROM bounds
    ), man AS (
        SELECT ((doc_id - mn0) * {_Q325_FANOUT}) // (mx0 - mn0 + 1) AS bucket,
               MIN(doc_id) AS mn, MAX(doc_id) AS mx
        FROM d CROSS JOIN bounds GROUP BY 1
    ), files AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_files_total,
               CAST(COUNT(*) FILTER (WHERE mx >= (SELECT lo FROM rng)
                                       AND mn <= (SELECT hi FROM rng))
                    AS BIGINT) AS n_files_read
        FROM man
    ), band AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows_matched,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(bit_xor((('0x' || substr(md5(doc_id || ':' || source || ':' || n_chars),
                    1, 15))::BIGINT)) AS BIGINT) AS content_xor
        FROM d CROSS JOIN rng WHERE doc_id BETWEEN lo AND hi
    )
    SELECT f.n_files_total, f.n_files_read,
           f.n_files_total - f.n_files_read AS n_files_pruned,
           b.n_rows_matched, b.sum_chars, b.content_xor,
           b.n_rows_matched AS n_rows_full,
           b.content_xor AS content_xor_full
    FROM files f CROSS JOIN band b
    ORDER BY n_files_total
    """


ORACLE["q325_zonemap_skipping"] = _q325_oracle()
