"""Frontier query set III: SURVEY.md §2B round 11+ (q282+).

Continuation of plans/frontier2_queries.py (same modular split so no
plan file grows without bound; wired through __spark_entry__
queries()/oracle_sql(); the division/whitespace lints glob over
plans/ so this module is covered automatically).

Round-11 queue (VERDICT r10 "Next round" items 3–7): incremental
near-dup admission against a PERSISTED MinHash signature store, the
second BPE merge round (merges compose), perceptual-hash image
dedup over the multimodal stub machinery, retrieval rank-quality
eval (MRR + Kendall concordance), and the Unicode script-mixture
audit.

Same oracle-parity discipline as relational.py (float-policy header
there): identical aliases both engines, exact integer aggregation,
doubles only from expression trees both engines evaluate identically
(one IEEE division of exact BIGINTs; differences/min/max of
bit-identical doubles). Every integer-division dividend is
non-negative by construction (linted by
tests/test_division_convention.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table, spread

QUERIES: dict = {}
ORACLE: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Q282 — incremental NEAR-dup admission against a persisted MinHash
# signature store (the production dedup shape q108 grades for EXACT
# dups and q204 grades for one-shot batch near-dups: a daily-ingest
# pipeline admits TODAY'S batch against a STORED signature table —
# history text is never re-shingled corpus-wide). History = every
# source but src0; its 32-hash/8-band MinHash signatures (q204's
# exact policy: word-3-gram shingles, md5 hash family, banding
# threshold ≈ 0.59 at the 0.6 verification cutoff) are WRITTEN to a
# parquet store and read BACK — the graded claim is round-trip
# equivalence (the oracle recomputes everything from `documents`,
# never touching the store). The batch (src0) computes its own
# signatures, band-joins against the store's band digests
# (minhash_banded — definitionally the same expression that built
# the store), and candidates are verified at EXACT Jaccard ≥ 0.6 by
# dedup.verify_jaccard (batch shingles on one side, history shingles
# on the other); history shingles are recomputed ONLY for candidate
# history docs (a semi-join-bounded text fetch — at 100 TB a
# point-lookup read, not a history scan). Within-batch near-dups: the
# banded self-join + the same verifier + star-contraction components +
# min-id keeper (q204's policy, batch-local). Admission per lang
# (q108's triple): dropped-vs-history takes precedence; a surviving
# doc is admitted iff it is its within-batch cluster minimum (clusters
# computed over ALL batch docs, so a keeper that itself matched
# history does not resurrect its near-dups — their content lives in
# history transitively). Scale: the store read carries (id, 32×int64)
# — 256 bytes/doc instead of text; the banded join shuffles on (band,
# digest) with candidate mass bounded by banding; exact verification
# is linear in candidates; components run on batch pairs only. 16×
# probe with history ≫ batch in SCALING.md.
# Collision note (r11 ADVICE): exact-Jaccard verification intersects
# xxhash64-hashed shingles (shingle_table hashed=True) while the
# oracle intersects raw shingle strings — the same assumption the
# ngram_jaccard_pairs / md5-60 family documents: a cross-doc 64-bit
# collision INSIDE a candidate pair would inflate `inter` Spark-side
# only; with ~10^3 shingles/doc the per-pair probability is ~1e-13.
# ---------------------------------------------------------------------------

_Q282_HASHES = 32
_Q282_BANDS = 8
_Q282_TAU = 0.6


def _store_admission(hist_docs, batch_docs, store=None, store_fn=None):
    """q282's admission core, shared with q289's lifecycle row.

    Given the history docs, the batch docs, and the READ-BACK
    signature store frame [id, sig] (either directly as ``store`` or
    as ``store_fn``, a zero-arg builder the caller wants OVERLAPPED
    with the batch-side checkpoints — the store build/write and the
    two batch constructions are independent job chains, guide §2.6 /
    the q314 r13 idiom), returns (keyed, sigs_batch):
    ``keyed`` = [doc_id, lang, cluster_id, in_hist] for every batch
    doc (cluster over ALL batch docs; in_hist non-null iff verified
    ≥ τ against a store candidate), ``sigs_batch`` = the
    checkpointed batch signature frame (q289 merges the admitted
    subset into the next store generation)."""
    from concurrent.futures import ThreadPoolExecutor

    from ai_data_pipeline_spark.operators import dedup

    # ---- three independent eager constructions, overlapped:
    # (a) the store build (caller-supplied, typically sigs-over-
    #     history + parquet write + read-back),
    # (b) the batch signature checkpoint — feeds THREE consumers
    #     (store join + both sides of the within-batch self-join),
    #     would re-execute the whole shingle→min pipeline per
    #     reference otherwise (the q84 iterative-reuse lesson);
    #     |batch| × 32 longs,
    # (c) the batch shingle checkpoint — verifies BOTH the history
    #     and the within-batch candidates (three join references).
    def build_sigs_batch():
        return dedup.minhash_signatures(
            batch_docs, "doc_id", "text", n=3, num_hashes=_Q282_HASHES
        ).localCheckpoint()

    def build_sh_batch():
        return dedup.shingle_table(
            batch_docs, "doc_id", "text", 3, hashed=True
        ).localCheckpoint()

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_store = pool.submit(store_fn) if store_fn is not None else None
        f_sigs = pool.submit(build_sigs_batch)
        f_sh = pool.submit(build_sh_batch)
        sigs_batch = f_sigs.result()
        sh_batch = f_sh.result()
        if f_store is not None:
            store = f_store.result()

    banded_hist = dedup.minhash_banded(store, _Q282_HASHES, _Q282_BANDS).select(
        F.col("id").alias("hid"), "band", "band_digest"
    )
    banded_batch = dedup.minhash_banded(sigs_batch, _Q282_HASHES, _Q282_BANDS)

    # ---- candidates vs history: banded equi-join, then exact
    # Jaccard verification over shingles; history shingles only
    # for candidate docs (semi-join-bounded fetch).
    # localCheckpoint: cand_h feeds the semi-join text fetch AND
    # the verification join — without it each reference re-runs
    # the banded store join (the q84 iterative-reuse lesson)
    cand_h = (
        banded_batch.join(banded_hist, ["band", "band_digest"])
        .select(F.col("id").alias("id_a"), F.col("hid").alias("id_b"))
        .distinct()
        .localCheckpoint()
    )
    cand_hist_docs = hist_docs.join(
        cand_h.select(F.col("id_b").alias("doc_id")).distinct(), "doc_id", "semi"
    )
    # two consumers (sizes + the intersection join) — materialize
    sh_hist = dedup.shingle_table(
        cand_hist_docs, "doc_id", "text", 3, hashed=True
    ).localCheckpoint()
    hist_dup = (
        dedup.verify_jaccard(cand_h, sh_batch, sh_hist, _Q282_TAU)
        .select(F.col("id_a").alias("doc_id"))
        .distinct()
        .withColumn("in_hist", F.lit(1))
    )

    # ---- within-batch: banded self-join (REUSING the
    # checkpointed batch signatures — minhash_neardup_pairs
    # would recompute signatures AND shingles from text) + exact
    # verify over sh_batch + star components + min-id keeper
    # (q204's policy, batch-local)
    cand_bb = dedup.minhash_lsh_candidates(
        sigs_batch, _Q282_HASHES, _Q282_BANDS
    ).select("id_a", "id_b")
    pairs_bb = dedup.verify_jaccard(cand_bb, sh_batch, sh_batch, _Q282_TAU).select(
        "id_a", "id_b"
    )
    clusters = dedup.dedup_clusters_star(pairs_bb)

    keyed = (
        batch_docs.select("doc_id", "lang")
        .join(clusters.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")))
        .join(hist_dup, "doc_id", "left")
    )
    return keyed, sigs_batch


def q282_incremental_neardup_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ai_data_pipeline_spark.operators import dedup

    docs = spread(_t(spark, sf_dir, "documents"))
    hist_docs = docs.filter(F.col("source") != "src0")
    batch_docs = docs.filter(F.col("source") == "src0")

    tmp = tempfile.mkdtemp(prefix="q282_")
    path = tmp + "/minhash_store"
    try:
        # ---- store build (amortized across ingests in production;
        # written once here so the graded query is self-contained).
        # repartition first: without it every upstream task writes a
        # sliver (the q250 tiny-file lesson); 8 files of packed
        # (id, sig) rows — no text in the store. Passed as store_fn
        # so the write overlaps the batch-side checkpoints (r13).
        def build_store():
            sigs_hist = dedup.minhash_signatures(
                hist_docs, "doc_id", "text", n=3, num_hashes=_Q282_HASHES
            )
            sigs_hist.repartition(8).write.mode("overwrite").parquet(path)
            return spark.read.parquet(path)

        keyed, _ = _store_admission(hist_docs, batch_docs, store_fn=build_store)
        flag = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
        is_hist = F.col("in_hist").isNotNull()
        is_keeper = F.col("doc_id") == F.col("cluster_id")
        out = (
            keyed.groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_batch"),
                flag(~is_hist & is_keeper).alias("n_admitted"),
                flag(is_hist).alias("n_dropped_history"),
                flag(~is_hist & ~is_keeper).alias("n_dropped_batch"),
            )
            .orderBy("lang")
            .collect()  # ≤ |langs| rows, before temp-dir cleanup
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        out,
        "lang string, n_batch long, n_admitted long, "
        "n_dropped_history long, n_dropped_batch long",
    ).orderBy("lang")


QUERIES["q282_incremental_neardup_store"] = q282_incremental_neardup_store


# Oracle: q204's SQL pipeline split into history/batch halves — the
# store round-trip disappears (the oracle recomputes signatures from
# `documents` directly; value-identity IS the graded claim). Band
# equality compares the string_agg band key (the Spark side xxhash64s
# the same comma-joined string — equality is preserved).
def _q282_chain() -> str:
    """The shared WITH chain (shingles → signatures → band keys →
    candidates → verified admission `keyed`) — q282's oracle appends
    the admission-triple tail, q289's the store-content tail."""
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    h = _Q282_HASHES
    rpb = _Q282_HASHES // _Q282_BANDS
    return f"""
    WITH RECURSIVE sh AS MATERIALIZED (
        SELECT DISTINCT doc_id AS id, source,
               unnest({sql_word_ngrams("text", 3)}) AS shingle
        FROM documents
    ), sig AS MATERIALIZED (
        SELECT id, MAX(source = 'src0') AS is_batch, j,
               MIN((('0x' || substr(md5(shingle || ':' || j), 1, 15))::BIGINT)) AS mh
        FROM sh CROSS JOIN range({h}) AS t(j)
        GROUP BY id, j
    ), bandkey AS MATERIALIZED (
        SELECT id, is_batch, j // {rpb} AS band,
               string_agg(mh::VARCHAR, ',' ORDER BY j) AS bk
        FROM sig GROUP BY id, is_batch, j // {rpb}
    ), sizes AS MATERIALIZED (
        SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
    ), cand_h AS (
        SELECT DISTINCT b.id AS bid, a.id AS hid
        FROM bandkey b JOIN bandkey a
          ON b.is_batch AND NOT a.is_batch
         AND b.band = a.band AND b.bk = a.bk
    ), inter_h AS (
        SELECT bid, hid, COUNT(*) AS inter
        FROM cand_h
        JOIN sh sb ON sb.id = cand_h.bid
        JOIN sh sa ON sa.id = cand_h.hid AND sa.shingle = sb.shingle
        GROUP BY 1, 2
    ), hist_dup AS (
        SELECT DISTINCT bid FROM inter_h
        JOIN sizes zb ON zb.id = bid
        JOIN sizes za ON za.id = hid
        WHERE inter / (zb.n_sh + za.n_sh - inter) >= '{_Q282_TAU!r}'::DOUBLE
    ), cand_bb AS (
        SELECT DISTINCT x.id AS id_a, y.id AS id_b
        FROM bandkey x JOIN bandkey y
          ON x.is_batch AND y.is_batch
         AND x.band = y.band AND x.bk = y.bk AND x.id < y.id
    ), inter_bb AS (
        SELECT id_a, id_b, COUNT(*) AS inter
        FROM cand_bb
        JOIN sh sa ON sa.id = cand_bb.id_a
        JOIN sh sb ON sb.id = cand_bb.id_b AND sb.shingle = sa.shingle
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b FROM inter_bb
        JOIN sizes za ON za.id = id_a
        JOIN sizes zb ON zb.id = id_b
        WHERE inter / (za.n_sh + zb.n_sh - inter) >= '{_Q282_TAU!r}'::DOUBLE
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs
    ), reach AS (
        SELECT a AS id, a AS lab FROM edges
        UNION
        SELECT e.a AS id, r.lab AS lab FROM edges e JOIN reach r ON r.id = e.b
    ), comp AS (
        SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id
    ), keyed AS (
        SELECT d.doc_id, d.lang,
               COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
               (hd.bid IS NOT NULL) AS is_hist
        FROM documents d
        LEFT JOIN comp c ON c.id = d.doc_id
        LEFT JOIN hist_dup hd ON hd.bid = d.doc_id
        WHERE d.source = 'src0'
    )"""


def _q282_oracle() -> str:
    return _q282_chain() + """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_batch,
           CAST(SUM(CASE WHEN NOT is_hist AND doc_id = cluster_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
           CAST(SUM(CASE WHEN is_hist THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped_history,
           CAST(SUM(CASE WHEN NOT is_hist AND doc_id != cluster_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_batch
    FROM keyed
    GROUP BY lang
    ORDER BY lang
    """


ORACLE["q282_incremental_neardup_store"] = _q282_oracle()


# ---------------------------------------------------------------------------
# Q283 — BPE merge rounds COMPOSE (the VERDICT r10 queue item
# completing q218 → q278: q218 ranks round-1 candidates, q278
# applies the winner once; this row runs a SECOND full
# select-and-apply cycle over the POST-merge symbol stream —
# Sennrich et al. 2016's training loop unrolled twice). Round 1 is
# exactly q278's machinery (every char wrapped in its own boundary
# spaces, one replace() = left-to-right non-overlapping merge);
# round 2 re-ranks pair candidates over the merged symbols (2-grams
# with the SPACE separator — symbols are multi-char now), picks the
# winner (n DESC, pair ASC — the deterministic tie policy), and
# applies it with the SAME padded-replace idiom over multi-char
# symbols. Output: top-10 ROUND-3 candidates + both applied pairs
# (round 2's kept space-separated — "ab c" is unambiguous where
# "abc" is not) + both realized merge counts
# Σ(symbols_before − symbols_after), the overlap-accounting audit
# (a naive overlap-counting implementation drifts on "aaa" chains —
# realized ≠ occurrence count exactly there). Scale: three
# explode+count passes and two 1-row broadcasts; the rank windows
# run on Heaps-sublinear pair-type tables (q244's law); the symbol
# stream is localCheckpointed between rounds so the apply pass never
# re-executes upstream (the q84/dedup_clusters lesson).
# ---------------------------------------------------------------------------

_Q283_TOPK = 10


def _sym_bigrams(col) -> "F.Column":
    """Space-joined 2-grams of a SINGLE-space-joined symbol string.

    The symbol stream is single-spaced with no empties by
    construction (array_join of a filtered split), so a literal
    split replaces ws_tokens' trim+regex+filter — word_ngrams(sw, 2)
    evaluates the regex tokenizer 3× per row and measured 15 s for
    the 16× pair count vs ~5 s for this (same slice+zip_with shape,
    identical values on these strings)."""
    a = F.split(col, " ")
    m = F.greatest(F.size(a) - 1, F.lit(0))
    return F.zip_with(
        F.slice(a, 1, m), F.slice(a, 2, m), lambda x, y: F.concat_ws(" ", x, y)
    )


def q283_bpe_two_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import ws_tokens

    docs = spread(_t(spark, sf_dir, "documents"))
    words = (
        docs.select(F.explode(ws_tokens(F.col("text"))).alias("w"))
        .localCheckpoint()  # round-1 counts + the round-1 apply pass
    )
    pairs1 = words.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair")
    )
    top1 = (
        pairs1.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n1"))
        .orderBy(F.desc("n1"), F.asc("pair"))
        .limit(1)
        .select(
            F.substring("pair", 1, 1).alias("c1"),
            F.substring("pair", 2, 1).alias("c2"),
        )
    )
    padded1 = words.crossJoin(F.broadcast(top1)).select(
        "w",
        F.concat(
            F.lit(" "),
            F.array_join(
                F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"),
                "  ",
            ),
            F.lit(" "),
        ).alias("s"),
        "c1",
        "c2",
    )
    merged1 = padded1.select(
        "w",
        F.replace(
            F.col("s"),
            F.concat(F.lit(" "), F.col("c1"), F.lit("  "), F.col("c2"), F.lit(" ")),
            F.concat(F.lit(" "), F.col("c1"), F.col("c2"), F.lit(" ")),
        ).alias("m"),
        "c1",
        "c2",
    )
    sym1 = (
        merged1.select(
            F.concat(F.col("c1"), F.col("c2")).alias("ap1"),
            F.array_join(
                F.filter(F.split(F.col("m"), " "), lambda x: x != F.lit("")), " "
            ).alias("sw"),
            F.length("w").alias("n0"),
        )
        .withColumn("n1sym", F.size(F.split(F.col("sw"), " ")))
        .localCheckpoint()  # round-2 counts + the round-2 apply pass
    )
    # round-2 winner over the post-merge symbol stream
    pairs2 = sym1.select(F.explode(_sym_bigrams(F.col("sw"))).alias("pair"))
    top2 = (
        pairs2.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n2"))
        .orderBy(F.desc("n2"), F.asc("pair"))
        .limit(1)
        .select(
            F.element_at(F.split(F.col("pair"), " "), 1).alias("s1"),
            F.element_at(F.split(F.col("pair"), " "), 2).alias("s2"),
        )
    )
    padded2 = sym1.crossJoin(F.broadcast(top2)).select(
        "ap1",
        "n0",
        "n1sym",
        F.concat(
            F.lit(" "),
            F.array_join(F.split(F.col("sw"), " "), "  "),
            F.lit(" "),
        ).alias("s"),
        "s1",
        "s2",
    )
    merged2 = padded2.select(
        "ap1",
        "n0",
        "n1sym",
        F.replace(
            F.col("s"),
            F.concat(F.lit(" "), F.col("s1"), F.lit("  "), F.col("s2"), F.lit(" ")),
            F.concat(F.lit(" "), F.col("s1"), F.col("s2"), F.lit(" ")),
        ).alias("m"),
        F.concat(F.col("s1"), F.lit(" "), F.col("s2")).alias("ap2"),
    )
    sym2 = (
        merged2.select(
            "ap1",
            "ap2",
            "n0",
            "n1sym",
            F.array_join(
                F.filter(F.split(F.col("m"), " "), lambda x: x != F.lit("")), " "
            ).alias("sw"),
        )
        .withColumn("n2sym", F.size(F.split(F.col("sw"), " ")))
        .localCheckpoint()  # merge-count agg + round-3 pair counts
    )
    meta = sym2.agg(
        F.max("ap1").alias("applied_r1"),
        F.max("ap2").alias("applied_r2"),
        F.sum(F.col("n0") - F.col("n1sym")).cast("long").alias("n_merges_r1"),
        F.sum(F.col("n1sym") - F.col("n2sym")).cast("long").alias("n_merges_r2"),
    )
    pairs3 = sym2.select(F.explode(_sym_bigrams(F.col("sw"))).alias("pair"))
    ranked = (
        pairs3.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("n"), F.asc("pair")))
            .cast("long"),
        )
        .filter(F.col("rank") <= _Q283_TOPK)
    )
    return (
        ranked.crossJoin(F.broadcast(meta))
        .select(
            "rank", "pair", "n",
            "applied_r1", "applied_r2", "n_merges_r1", "n_merges_r2",
        )
        .orderBy("rank")
    )


QUERIES["q283_bpe_two_rounds"] = q283_bpe_two_rounds


def _q283_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    words = f"SELECT unnest({sql_word_ngrams('text', 1)}) AS w FROM documents"
    pairs2 = sql_word_ngrams("sw", 2)
    pairs3 = sql_word_ngrams("sw2", 2)
    return f"""
    WITH words AS MATERIALIZED (
        {words}
    ), p1 AS (
        SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, i, 2))) AS pair
        FROM words WHERE len(w) >= 2
    ), top1 AS (
        SELECT substr(pair, 1, 1) AS c1, substr(pair, 2, 1) AS c2
        FROM (SELECT pair, COUNT(*) AS n1 FROM p1 GROUP BY pair
              ORDER BY n1 DESC, pair LIMIT 1)
    ), merged1 AS (
        SELECT w,
               replace(' ' || array_to_string(
                           list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)),
                           '  ') || ' ',
                       ' ' || c1 || '  ' || c2 || ' ',
                       ' ' || c1 || c2 || ' ') AS m,
               c1 || c2 AS ap1
        FROM words CROSS JOIN top1
    ), sym1 AS MATERIALIZED (
        SELECT ap1,
               array_to_string(list_filter(string_split(m, ' '), x -> x != ''), ' ')
                   AS sw,
               len(w) AS n0
        FROM merged1
    ), sym1n AS MATERIALIZED (
        SELECT *, len(string_split(sw, ' ')) AS n1sym FROM sym1
    ), p2 AS (
        SELECT unnest({pairs2}) AS pair FROM sym1n
    ), top2 AS (
        SELECT string_split(pair, ' ')[1] AS s1, string_split(pair, ' ')[2] AS s2
        FROM (SELECT pair, COUNT(*) AS n2 FROM p2 GROUP BY pair
              ORDER BY n2 DESC, pair LIMIT 1)
    ), merged2 AS (
        SELECT ap1, n0, n1sym,
               replace(' ' || array_to_string(string_split(sw, ' '), '  ') || ' ',
                       ' ' || s1 || '  ' || s2 || ' ',
                       ' ' || s1 || s2 || ' ') AS m,
               s1 || ' ' || s2 AS ap2
        FROM sym1n CROSS JOIN top2
    ), sym2 AS MATERIALIZED (
        SELECT ap1, ap2, n0, n1sym,
               array_to_string(list_filter(string_split(m, ' '), x -> x != ''), ' ')
                   AS sw2
        FROM merged2
    ), sym2n AS MATERIALIZED (
        SELECT *, len(string_split(sw2, ' ')) AS n2sym FROM sym2
    ), meta AS (
        SELECT MAX(ap1) AS applied_r1, MAX(ap2) AS applied_r2,
               CAST(SUM(n0 - n1sym) AS BIGINT) AS n_merges_r1,
               CAST(SUM(n1sym - n2sym) AS BIGINT) AS n_merges_r2
        FROM sym2n
    ), cnt AS (
        SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT unnest({pairs3}) AS pair FROM sym2n)
        GROUP BY pair
    )
    SELECT CAST(rank AS BIGINT) AS rank, pair, n,
           m.applied_r1, m.applied_r2, m.n_merges_r1, m.n_merges_r2
    FROM (
        SELECT pair, n,
               ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rank
        FROM cnt) CROSS JOIN meta m
    WHERE rank <= {_Q283_TOPK}
    ORDER BY rank
    """


ORACLE["q283_bpe_two_rounds"] = _q283_oracle()


# ---------------------------------------------------------------------------
# Q284 — perceptual-hash image dedup (dHash; extends the dedup
# family to the image modality — VERDICT r10 queue item 5): each
# document stands in for a decoded image exactly as in q36/q72 (the
# container has no codec; the Spark-side plumbing is what is
# graded). The stub "decode" yields a deterministic 6×11 integer
# LUMINANCE GRID whose cell (k = 0..65) is the first md5 byte of the
# (k mod n_tokens)-th whitespace token salted with k — token-LOCAL,
# so a near-dup doc differing in a few tokens perturbs only the
# cells those tokens feed, exactly how a local edit perturbs a
# real image's grid (a whole-text hash would flip every cell and
# degenerate this to exact dedup). The dHash is the classic
# gradient fingerprint: bit i (i = 0..59) = 1 iff lum(r, c+1) >
# lum(r, c) with r = i div 10, c = i mod 10 — 60 bits so the
# fingerprint rides the engine-parity-safe SIMHASH_BITS width and
# REUSES simhash_neardup_pairs' pigeonhole segment blocking
# (recall-exact for Hamming ≤ 3: 4 segments of 15 bits, any
# qualifying pair shares a whole segment) + star-contraction
# components + q204's min-id keeper, per source. All exact
# integers; the luminance HOF is narrow (no shuffle until the
# 60-bit fingerprints — 8 bytes/image — reach the segment join).
# The near-dup (Hamming 1..3) branch is additionally pinned by a
# token-substitution fixture vs a pure-Python twin
# (tests/test_frontier3.py) — the graded corpus may only exercise
# Hamming 0. Scale: per-image work is constant (66 md5s), pairing
# is segment-blocked, components run on pair survivors.
# ---------------------------------------------------------------------------

_Q284_ROWS = 6  # grid rows
_Q284_COLS = 11  # grid cols; 6 rows × 10 adjacent-col comparisons = 60 bits
_Q284_MAX_HAMMING = 3


def dhash60(text_col) -> "F.Column":
    """60-bit dHash of the deterministic stub luminance grid of a
    text-as-image column (see Q284 header). Pure Catalyst — exact
    integers, DuckDB-recomputable.

    ONE ``aggregate`` fold over the 66 cell indices with a
    (prev_lum, fp) struct accumulator, so each luminance md5 is
    computed exactly once per image. The naive form — a 66-element
    ``transform`` array referenced by 120 ``element_at`` bit
    comparisons — re-inlines the whole transform per reference
    (Catalyst inlines HOF results; the shingle_table O(words²)
    class): measured 58 s for 500 docs vs ~1 s for this fold."""
    from ai_data_pipeline_spark.functions.text import ws_tokens

    ws = ws_tokens(text_col)
    n = F.size(ws)
    cells = _Q284_ROWS * _Q284_COLS
    lum = lambda k: F.conv(  # noqa: E731
        F.substring(
            F.md5(
                F.concat(
                    # try_element_at: a zero-token doc has an empty
                    # array (plain element_at raises under ANSI)
                    F.coalesce(
                        F.try_element_at(
                            ws, F.pmod(k, F.greatest(n, F.lit(1))) + F.lit(1)
                        ),
                        F.lit(""),
                    ),
                    F.lit(":"),
                    k.cast("string"),
                )
            ),
            1,
            2,
        ),
        16,
        10,
    ).cast("long")

    def merge(st, k):
        lk = lum(k)
        c = F.pmod(k, F.lit(_Q284_COLS))
        # c = 0 starts a new grid row (no comparison there). Bit
        # values come from a running power-of-two multiplier carried
        # in the accumulator (shiftleft needs a literal bit count):
        # comparisons occur in increasing bit order, so doubling the
        # multiplier per comparison assigns bit i = r*10 + c - 1.
        is_cmp = c != F.lit(0)
        add = F.when(is_cmp & (lk > st["prev"]), st["mult"]).otherwise(
            F.lit(0).cast("long")
        )
        return F.struct(
            lk.alias("prev"),
            (st["fp"] + add).alias("fp"),
            F.when(is_cmp, st["mult"] * F.lit(2).cast("long"))
            .otherwise(st["mult"])
            .alias("mult"),
        )

    return F.aggregate(
        F.sequence(F.lit(0), F.lit(cells - 1)),
        F.struct(
            F.lit(0).cast("long").alias("prev"),
            F.lit(0).cast("long").alias("fp"),
            F.lit(1).cast("long").alias("mult"),
        ),
        merge,
        lambda st: st["fp"],
    )


def _q284_pairs(docs) -> DataFrame:
    """[id_a, id_b] image near-dup pairs (Hamming ≤ 3 dHash) —
    shared with q295's cross-modality agreement row."""
    from ai_data_pipeline_spark.operators import dedup

    # localCheckpoint: the segment self-join references the
    # fingerprint frame on BOTH sides plus the XOR projection — each
    # reference would re-inline the 66-md5 fold (measured 19.7 s vs
    # 0.5 s at sf0.1); the frame is 8 bytes/image.
    fps = docs.select(
        F.col("doc_id").alias("id"), dhash60(F.col("text")).alias("simhash")
    ).localCheckpoint()
    return dedup.simhash_neardup_pairs(fps, max_hamming=_Q284_MAX_HAMMING).select(
        "id_a", "id_b"
    )


def q284_phash_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators import dedup

    docs = spread(_t(spark, sf_dir, "documents"))
    pairs = _q284_pairs(docs)
    clusters = dedup.dedup_clusters_star(pairs)
    keeper = (
        docs.select("doc_id", "source")
        .join(clusters.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "source",
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    agg = keeper.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_images"),
        F.sum((F.col("doc_id") == F.col("cluster_id")).cast("int"))
        .cast("long")
        .alias("n_kept"),
    )
    return (
        agg.withColumn("n_removed", (F.col("n_images") - F.col("n_kept")).cast("long"))
        .withColumn(
            "removed_rate",
            F.col("n_removed").cast("double") / F.col("n_images").cast("double"),
        )
        .orderBy("source")
    )


QUERIES["q284_phash_image_dedup"] = q284_phash_image_dedup


# Oracle: identical fingerprint arithmetic (md5-byte luminance, the
# same 1-based indices), then ALL-pairs Hamming ≤ 3 (the oracle need
# not mirror the blocking — only the values) + q204's recursive
# components and keeper tail.
def _q284_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    cells = _Q284_ROWS * _Q284_COLS
    ws = sql_word_ngrams("text", 1)
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
    return f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id AS id, source, {ws} AS ws FROM documents
    ), grids AS (
        SELECT id, source,
               list_transform(range(0, {cells}), k -> {lum}) AS lums
        FROM toks
    ), fp AS MATERIALIZED (
        SELECT id, source, ({bits}) AS simhash FROM grids
    ), pairs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM fp a JOIN fp b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {_Q284_MAX_HAMMING}
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs
    ), reach AS (
        SELECT a AS id, a AS lab FROM edges
        UNION
        SELECT e.a AS id, r.lab AS lab FROM edges e JOIN reach r ON r.id = e.b
    ), comp AS (
        SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id
    ), keeper AS (
        SELECT f.source, f.id,
               COALESCE(c.cluster_id, f.id) AS cluster_id
        FROM fp f LEFT JOIN comp c ON c.id = f.id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(SUM(CASE WHEN id = cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN id = cluster_id THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN id = cluster_id THEN 0 ELSE 1 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS removed_rate
    FROM keeper
    GROUP BY source
    ORDER BY source
    """


ORACLE["q284_phash_image_dedup"] = _q284_oracle()


# ---------------------------------------------------------------------------
# Q285 — retrieval rank-quality eval: MRR + Kendall concordance of
# ANN vs brute force (VERDICT r10 queue item 6 — completes the
# index-quality suite: q209 grades set recall, q233 the
# recall-vs-nprobe curve, q270 margins; a retrieval deployment's
# dashboard also reads RANK quality). Over the fixed q27 query set:
# brute-force cosine top-10 is ground truth (cosine_topk_np — the
# Arrow kernel whose doubles are bit-identical to the SQL
# expression tree, q27's pinned property); the IVF search (q28's
# policy: 8 centroids, nprobe=2) returns its top-10. Per query:
# reciprocal rank of the TRUE top-1 in the ANN list (q114's
# discipline — ONE IEEE division of exact BIGINTs per query, 0.0
# when missed; never averaged across rows in doubles), and integer
# Kendall counts over the intersection of both top-10 lists
# (concordant/discordant ordered pairs — ranks are distinct ints so
# no ties; tau = (C−D)/(C+D), again one exact-int division, NULL
# when fewer than 2 common items). Scale: both sides are k-row
# frames per query (5×10 here) — the eval is O(k²) per query
# regardless of corpus size; the expensive parts are the graded
# search operators themselves.
# ---------------------------------------------------------------------------

_Q285_K = 10


def q285_retrieval_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators import similarity
    from ai_data_pipeline_spark.operators.vectorized import (
        cosine_topk_np,
        ivf_assign_np,
        ivf_search_cosine_np,
    )
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS, Q28_CENTROIDS

    emb = _t(spark, sf_dir, "embeddings")
    queries = similarity.queries_df(spark, Q27_QUERY_VECS)
    bf = cosine_topk_np(emb, queries, k=_Q285_K).select(
        "qid", "vec_id", F.col("rk").cast("long").alias("rk_bf")
    )
    corpus = ivf_assign_np(emb, Q28_CENTROIDS)
    ann = ivf_search_cosine_np(
        corpus, queries, Q28_CENTROIDS, k=_Q285_K, nprobe=2
    ).select("qid", "vec_id", F.col("rk").cast("long").alias("rk_ann"))

    qids = bf.select("qid").distinct()
    truth = bf.filter(F.col("rk_bf") == 1).select("qid", "vec_id")
    tr = (
        truth.join(ann, ["qid", "vec_id"], "left")
        .select("qid", F.coalesce(F.col("rk_ann"), F.lit(0)).alias("truth_rank"))
    )
    common = bf.join(ann, ["qid", "vec_id"]).select("qid", "vec_id", "rk_bf", "rk_ann")
    ncom = common.groupBy("qid").agg(F.count(F.lit(1)).cast("long").alias("n_common"))
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
            F.col("qid").cast("long").alias("qid"),
            F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias("n_common"),
            F.col("truth_rank").cast("long").alias("truth_rank"),
            F.when(
                F.col("truth_rank") > 0,
                F.lit(1.0) / F.col("truth_rank").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("rr"),
            F.coalesce(F.col("concordant"), F.lit(0)).cast("long").alias("concordant"),
            F.coalesce(F.col("discordant"), F.lit(0)).cast("long").alias("discordant"),
            F.when(
                F.coalesce(F.col("concordant"), F.lit(0))
                + F.coalesce(F.col("discordant"), F.lit(0))
                > 0,
                (
                    F.coalesce(F.col("concordant"), F.lit(0))
                    - F.coalesce(F.col("discordant"), F.lit(0))
                ).cast("double")
                / (
                    F.coalesce(F.col("concordant"), F.lit(0))
                    + F.coalesce(F.col("discordant"), F.lit(0))
                ).cast("double"),
            ).alias("kendall_tau"),
        )
        .orderBy("qid")
    )


QUERIES["q285_retrieval_rank_eval"] = q285_retrieval_rank_eval


def _q285_oracle() -> str:
    from ai_data_pipeline_spark.functions.vector import (
        sql_dot,
        sql_lit_list,
        sql_norm,
    )
    from ai_data_pipeline_spark.plans.constants import (
        EMBED_DIM,
        Q27_QUERY_VECS,
        Q28_CENTROIDS,
    )
    from ai_data_pipeline_spark.plans.pipeline_queries import _sqdist_py

    # per-query probed cells: 2 nearest centroids, ties → lowest
    # index (ivf_search_cosine_np's lexsort policy)
    probes = {}
    for qi, qv in enumerate(Q27_QUERY_VECS):
        cdist = [_sqdist_py(c, qv) for c in Q28_CENTROIDS]
        probes[qi] = sorted(range(len(Q28_CENTROIDS)), key=lambda c: (cdist[c], c))[:2]
    qrows = ", ".join(
        f"({qi}, {sql_lit_list(v)}, {list(probes[qi])})"
        for qi, v in enumerate(Q27_QUERY_VECS)
    )
    from ai_data_pipeline_spark.functions.vector import sql_squared_l2

    cells = ", ".join(
        f"struct_pack(d := {sql_squared_l2('embedding', sql_lit_list(c), EMBED_DIM)}, c := {ci})"
        for ci, c in enumerate(Q28_CENTROIDS)
    )
    cos = (
        f"({sql_dot('a.embedding', 'q.qvec', EMBED_DIM)}) / "
        f"(({sql_norm('a.embedding', EMBED_DIM)}) * ({sql_norm('q.qvec', EMBED_DIM)}))"
    )
    return f"""
    WITH qs AS (
        SELECT * FROM (VALUES {qrows}) AS t(qid, qvec, cells)
    ), bf AS MATERIALIZED (
        SELECT qid, vec_id, rk_bf FROM (
            SELECT q.qid, a.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.qid
                       ORDER BY {cos} DESC, a.vec_id) AS rk_bf
            FROM embeddings a CROSS JOIN qs q)
        WHERE rk_bf <= {_Q285_K}
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
        WHERE rk_ann <= {_Q285_K}
    ), truth AS (
        SELECT bf.qid, COALESCE(ann.rk_ann, 0) AS truth_rank
        FROM bf LEFT JOIN ann ON ann.qid = bf.qid AND ann.vec_id = bf.vec_id
        WHERE bf.rk_bf = 1
    ), common AS MATERIALIZED (
        SELECT bf.qid, bf.vec_id, bf.rk_bf, ann.rk_ann
        FROM bf JOIN ann ON ann.qid = bf.qid AND ann.vec_id = bf.vec_id
    ), ncom AS (
        SELECT qid, COUNT(*) AS n_common FROM common GROUP BY qid
    ), cd AS (
        SELECT a.qid,
               SUM(CASE WHEN (a.rk_bf - b.rk_bf) * (a.rk_ann - b.rk_ann) > 0
                        THEN 1 ELSE 0 END) AS concordant,
               SUM(CASE WHEN (a.rk_bf - b.rk_bf) * (a.rk_ann - b.rk_ann) > 0
                        THEN 0 ELSE 1 END) AS discordant
        FROM common a JOIN common b
          ON a.qid = b.qid AND a.vec_id < b.vec_id
        GROUP BY a.qid
    )
    SELECT CAST(q.qid AS BIGINT) AS qid,
           CAST(COALESCE(n.n_common, 0) AS BIGINT) AS n_common,
           CAST(t.truth_rank AS BIGINT) AS truth_rank,
           CASE WHEN t.truth_rank > 0
                THEN 1.0::DOUBLE / CAST(t.truth_rank AS DOUBLE)
                ELSE 0.0::DOUBLE END AS rr,
           CAST(COALESCE(c.concordant, 0) AS BIGINT) AS concordant,
           CAST(COALESCE(c.discordant, 0) AS BIGINT) AS discordant,
           CASE WHEN COALESCE(c.concordant, 0) + COALESCE(c.discordant, 0) > 0
                THEN CAST(COALESCE(c.concordant, 0) - COALESCE(c.discordant, 0)
                          AS DOUBLE)
                     / CAST(COALESCE(c.concordant, 0) + COALESCE(c.discordant, 0)
                            AS DOUBLE)
                END AS kendall_tau
    FROM (SELECT DISTINCT qid FROM qs) q
    LEFT JOIN truth t ON t.qid = q.qid
    LEFT JOIN ncom n ON n.qid = q.qid
    LEFT JOIN cd c ON c.qid = q.qid
    ORDER BY qid
    """


ORACLE["q285_retrieval_rank_eval"] = _q285_oracle()


# ---------------------------------------------------------------------------
# Q286 — Unicode script-mixture / confusable audit (VERDICT r10
# queue item 7 — the text-analysis gap next to q37/q71 lang-id:
# multilingual curation's spam/homoglyph signal is "which SCRIPTS
# does this doc mix, and do single tokens mix them?"). Per-document
# codepoint-class char counts via the length-minus-stripped idiom
# (q29's punct counter — one regexp_replace per class, zero
# explodes) over explicit codepoint ranges spelled \\x{...} (the
# RE2∩Java-safe syntax; Java \\p{IsCyrillic}-style properties do
# NOT exist in RE2, so ranges are the only dialect-portable form;
# the Latin ranges exclude × U+00D7 and ÷ U+00F7 — math signs, not
# letters). Mixed-script tokens (e.g. Latin+Cyrillic homoglyph
# spoofs) are counted in the SAME single scan by a whitespace-token
# HOF filter: a token is mixed iff ≥ 2 of the five letter-script
# classes match it. Output per lang: exact BIGINT char counts per
# class + mixed-token count + mixed rate (ONE IEEE division of
# exact BIGINTs). The graded corpus is pure ASCII, so every
# non-Latin branch is additionally pinned by a homoglyph fixture vs
# a pure-Python twin (tests/test_frontier3.py — the q273 rule for
# branches the graded data never exercises). Scale: one scan, one
# partial-aggregating groupBy(lang) — no shuffle beyond the 5-row
# agg; the regex work is per-char bounded and JVM-side.
# ---------------------------------------------------------------------------

# codepoint ranges per script class — \x{...} parses identically in
# Java (Spark) and RE2 (DuckDB); ASCII letters first so the common
# case short-circuits early in the class match
_Q286_CLASSES = {
    "latin": "A-Za-z\\x{00C0}-\\x{00D6}\\x{00D8}-\\x{00F6}\\x{00F8}-\\x{024F}",
    "greek": "\\x{0370}-\\x{03FF}",
    "cyrillic": "\\x{0400}-\\x{04FF}",
    "arabic": "\\x{0600}-\\x{06FF}",
    "cjk": "\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}",
}
_Q286_DIGIT = "0-9"


def q286_script_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import ws_tokens

    docs = spread(_t(spark, sf_dir, "documents"))
    cnt = lambda ranges: (  # noqa: E731
        F.length("text")
        - F.length(F.regexp_replace(F.col("text"), f"[{ranges}]", ""))
    ).cast("long")
    ws = ws_tokens(F.col("text"))
    script_hits = lambda t: sum(  # noqa: E731
        F.when(t.rlike(f"[{r}]"), 1).otherwise(0) for r in _Q286_CLASSES.values()
    )
    per = docs.select(
        "lang",
        F.length("text").cast("long").alias("chars"),
        *[cnt(r).alias(name) for name, r in _Q286_CLASSES.items()],
        cnt(_Q286_DIGIT).alias("digit"),
        F.size(ws).cast("long").alias("n_tok"),
        F.size(F.filter(ws, lambda t: script_hits(t) >= F.lit(2)))
        .cast("long")
        .alias("n_mixed"),
    )
    agg = per.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("chars").cast("long").alias("chars"),
        *[F.sum(name).cast("long").alias(name) for name in _Q286_CLASSES],
        F.sum("digit").cast("long").alias("digit"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("n_mixed").cast("long").alias("n_mixed_tokens"),
    )
    classes_sum = None
    for name in list(_Q286_CLASSES) + ["digit"]:
        classes_sum = F.col(name) if classes_sum is None else classes_sum + F.col(name)
    return (
        agg.withColumn("other", (F.col("chars") - classes_sum).cast("long"))
        .withColumn(
            "mixed_rate",
            F.when(
                F.col("n_tokens") > 0,
                F.col("n_mixed_tokens").cast("double")
                / F.col("n_tokens").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .select(
            "lang", "n_docs", "chars",
            *list(_Q286_CLASSES), "digit", "other",
            "n_tokens", "n_mixed_tokens", "mixed_rate",
        )
        .orderBy("lang")
    )


QUERIES["q286_script_mixture"] = q286_script_mixture


def _q286_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    ws = sql_word_ngrams("text", 1)
    cnt = lambda r: f"(len(text) - len(regexp_replace(text, '[{r}]', '', 'g')))"  # noqa: E731
    hits = " + ".join(
        f"(CASE WHEN regexp_matches(t, '[{r}]') THEN 1 ELSE 0 END)"
        for r in _Q286_CLASSES.values()
    )
    class_cols = ",\n               ".join(
        f"{cnt(r)} AS {name}" for name, r in _Q286_CLASSES.items()
    )
    class_sums = ",\n           ".join(
        f"CAST(SUM({name}) AS BIGINT) AS {name}" for name in _Q286_CLASSES
    )
    other = " - ".join(["SUM(chars)"] + [f"SUM({n})" for n in _Q286_CLASSES] + ["SUM(digit)"])
    return f"""
    WITH per AS (
        SELECT lang,
               len(text) AS chars,
               {class_cols},
               {cnt(_Q286_DIGIT)} AS digit,
               len({ws}) AS n_tok,
               len(list_filter({ws}, t -> ({hits}) >= 2)) AS n_mixed
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(chars) AS BIGINT) AS chars,
           {class_sums},
           CAST(SUM(digit) AS BIGINT) AS digit,
           CAST({other} AS BIGINT) AS other,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(n_mixed) AS BIGINT) AS n_mixed_tokens,
           CASE WHEN SUM(n_tok) > 0
                THEN CAST(SUM(n_mixed) AS DOUBLE) / CAST(SUM(n_tok) AS DOUBLE)
                ELSE 0.0::DOUBLE END AS mixed_rate
    FROM per
    GROUP BY lang
    ORDER BY lang
    """


ORACLE["q286_script_mixture"] = _q286_oracle()


# ---------------------------------------------------------------------------
# Q287 — per-snapshot WITHIN-release dedup-rate trend (the SURVEY §7
# round-11 queue's last frontier item, q263's dedup stage × q256's
# release snapshots; the complement of q280 which grades CROSS-
# release recycling): is each release more internally duplicated
# than the last? ONE capped 4-gram pair pass (q263's constants —
# max_shingle_freq engaged and mirrored in the freq CTE), edges
# filtered to SAME-snapshot pairs, star-contraction components
# (within-snap edges cannot merge across snapshots, so one
# components run covers all four releases), min-id keeper; per
# snapshot docs / removed / dup_rate (one IEEE division of exact
# BIGINTs) + the LAG delta vs the previous release (difference of
# bit-identical doubles — float-policy rule). Scale: the pair law
# is q107's (capped candidate mass tracks dup structure); the
# snapshot join is a broadcast of (doc_id, snap) longs; the trend
# window runs on 4 rows.
# ---------------------------------------------------------------------------


def q287_snapshot_dedup_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators import dedup
    from ai_data_pipeline_spark.plans.frontier2_queries import (
        _Q256_SNAPS,
        _Q263_JACCARD_F,
        _Q263_MAXF,
        _Q263_N,
    )

    docs = spread(_t(spark, sf_dir, "documents"))
    u40 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    snaps = docs.select(
        "doc_id", F.pmod(u40, F.lit(_Q256_SNAPS)).cast("long").alias("snap")
    ).localCheckpoint()  # totals + both pair-endpoint joins
    pairs = dedup.ngram_jaccard_pairs(
        docs,
        "doc_id",
        "text",
        n=_Q263_N,
        min_jaccard=_Q263_JACCARD_F,
        max_shingle_freq=_Q263_MAXF,
    ).select("id_a", "id_b")
    sa = snaps.select(F.col("doc_id").alias("id_a"), F.col("snap").alias("snap_a"))
    sb = snaps.select(F.col("doc_id").alias("id_b"), F.col("snap").alias("snap_b"))
    within = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("snap_a") == F.col("snap_b"))
        .select("id_a", "id_b")
    )
    clusters = dedup.dedup_clusters_star(within)
    keyed = (
        snaps.join(clusters.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")))
    )
    agg = keyed.groupBy("snap").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("doc_id") != F.col("cluster_id")).cast("int"))
        .cast("long")
        .alias("n_removed"),
    )
    w = Window.orderBy("snap")
    return (
        agg.withColumn(
            "dup_rate",
            F.col("n_removed").cast("double") / F.col("n_docs").cast("double"),
        )
        .withColumn("dup_rate_delta", F.col("dup_rate") - F.lag("dup_rate").over(w))
        .orderBy("snap")
    )


QUERIES["q287_snapshot_dedup_trend"] = q287_snapshot_dedup_trend


def _q287_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams
    from ai_data_pipeline_spark.plans.frontier2_queries import (
        _Q256_SNAPS,
        _Q263_JACCARD,
        _Q263_MAXF,
        _Q263_N,
    )

    grams = sql_word_ngrams("text", _Q263_N)
    return f"""
    WITH RECURSIVE snaps AS MATERIALIZED (
        SELECT doc_id,
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT)
                   % {_Q256_SNAPS} AS snap
        FROM documents
    ), sh0 AS (
        SELECT DISTINCT doc_id AS id, unnest({grams}) AS shingle FROM documents
    ), freq AS (
        SELECT shingle, COUNT(*) AS f FROM sh0 GROUP BY shingle
    ), sh AS MATERIALIZED (
        SELECT id, sh0.shingle FROM sh0 JOIN freq ON sh0.shingle = freq.shingle
        WHERE f <= {_Q263_MAXF}
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE inter / (sa.n_sh + sb.n_sh - inter) >= '{_Q263_JACCARD}'::DOUBLE
    ), within AS (
        SELECT p.id_a, p.id_b
        FROM pairs p
        JOIN snaps na ON na.doc_id = p.id_a
        JOIN snaps nb ON nb.doc_id = p.id_b
        WHERE na.snap = nb.snap
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM within
        UNION
        SELECT id_b AS a, id_a AS b FROM within
    ), reach AS (
        SELECT a AS id, a AS lab FROM edges
        UNION
        SELECT e.a AS id, r.lab AS lab FROM edges e JOIN reach r ON r.id = e.b
    ), comp AS (
        SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id
    ), keyed AS (
        SELECT s.snap, s.doc_id,
               COALESCE(c.cluster_id, s.doc_id) AS cluster_id
        FROM snaps s LEFT JOIN comp c ON c.id = s.doc_id
    ), agg AS (
        SELECT snap,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN doc_id != cluster_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_removed
        FROM keyed GROUP BY snap
    )
    SELECT CAST(snap AS BIGINT) AS snap, n_docs, n_removed,
           CAST(n_removed AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_rate,
           CAST(n_removed AS DOUBLE) / CAST(n_docs AS DOUBLE)
             - LAG(CAST(n_removed AS DOUBLE) / CAST(n_docs AS DOUBLE))
               OVER (ORDER BY snap) AS dup_rate_delta
    FROM agg
    ORDER BY snap
    """


ORACLE["q287_snapshot_dedup_trend"] = _q287_oracle()


# ---------------------------------------------------------------------------
# Q288 — streaming signature-store admission gate (q282's store AT
# INGEST, in q248/q234's stateless stream-static shape): the
# persisted history MinHash store (here its banded digest SET —
# |hist|×8 keys of 8 bytes) broadcasts into the stream; each
# arriving doc computes its OWN 32-hash signature as a pure ROW
# expression (per-seed MIN over the shingle array via one HOF fold
# per seed — MIN over a multiset equals MIN over the set, so no
# DISTINCT and no stateful agg is needed; the shingle array is
# materialized in its own projection first so the 32 lambda
# references don't re-run the tokenizer — the CollapseProject
# multi-reference rule), derives the 8 band keys with EXACTLY
# minhash_banded's digest expression, and is FLAGGED iff any band
# key hits the store (arrays_overlap — no state store, no
# watermark, append-only). This is CANDIDATE-level gating — the
# conservative flag-for-review ingest gate; exact-Jaccard
# adjudication of flagged docs is q282's batch pass. Stream equals
# batch because the policy is deterministic: the oracle recomputes
# the same admission in SQL (band-key equality via the string_agg
# form, q204's equivalence). Scale note: at a store too large to
# broadcast as one array, the same stateless gate is a
# stream-static EQUI-join on (band, digest) against the store
# parquet — documented here, array form shipped (q248's audited
# single-pass shape).
# ---------------------------------------------------------------------------


def q288_streaming_store_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q288_gate(spark, sf_dir, equi_join=False)


def _q288_gate(spark: SparkSession, sf_dir: str, equi_join: bool) -> DataFrame:
    """The admission gate with both store-access shapes.

    ``equi_join=False`` (shipped): the store's band-key SET
    broadcasts as one array; each doc tests membership via
    arrays_overlap — right while the store fits a broadcast.
    ``equi_join=True`` (the 100 TB fallback this docstring
    documents): the store stays a (key) FRAME; the stream explodes
    its 8 band keys and stream-static LEFT-joins them against the
    store (stateless, append-mode; with broadcast disabled Spark
    shuffles the static side — the shape that survives any store
    size); per-doc flags are re-assembled batch-side from the
    sink. Both paths are value-identical
    (tests/test_frontier4_plans.py pins it with broadcast disabled).
    """
    import uuid as _uuid

    from ai_data_pipeline_spark.functions.text import token_count_ws, word_ngrams
    from ai_data_pipeline_spark.operators import dedup
    from ai_data_pipeline_spark.plans.pipeline_queries import _drain_memory_sink

    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # spread BEFORE the signature family (r13 opt): documents.parquet
    # is one row group → the raw scan is ~1 task, and the 32-seed md5
    # agg is map-side CPU work that inherits that parallelism — the
    # static store build measured ~60% of this query's wall serialized
    # on it (sigs noop 7.0→1.0 s after the rebalance; the CLAUDE.md
    # spread rule). The STREAM side stays on the raw reader (its
    # per-batch repartition below already rebalances).
    hist = spread(static.filter(F.col("source") != "src0"))
    sigs_hist = dedup.minhash_signatures(
        hist, "doc_id", "text", n=3, num_hashes=_Q282_HASHES
    )
    store_kv = dedup.minhash_banded(sigs_hist, _Q282_HASHES, _Q282_BANDS).select(
        F.xxhash64(F.concat_ws("|", F.col("band"), F.col("band_digest"))).alias("k")
    )
    store_keys = (
        store_kv.agg(F.collect_set("k").alias("store_ks"))
        .withColumn("j", F.lit(1))
    )

    raw = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    raw = raw.repartition(spark.sparkContext.defaultParallelism)
    rpb = _Q282_HASHES // _Q282_BANDS
    seed_min = lambda j: F.array_min(  # noqa: E731
        F.transform(
            F.col("sh_arr"),
            lambda s: F.conv(
                F.substring(F.md5(F.concat(s, F.lit(f":{j}"))), 1, 15), 16, 10
            ).cast("long"),
        )
    )
    band_key = lambda b: F.xxhash64(  # noqa: E731
        F.concat_ws(
            "|",
            F.lit(b),
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.element_at(F.col("sig"), b * rpb + r + 1).cast("string")
                        for r in range(rpb)
                    ],
                )
            ),
        )
    )
    staged = (
        raw.select(
            "doc_id",
            "source",
            token_count_ws(F.col("text")).alias("n_tok"),
            word_ngrams(F.col("text"), 3).alias("sh_arr"),
        )
        .select(
            "doc_id",
            "source",
            "n_tok",
            F.size("sh_arr").alias("n_sh"),
            F.array(*[seed_min(j) for j in range(_Q282_HASHES)]).alias("sig"),
        )
        .select(
            "doc_id",
            "source",
            "n_tok",
            F.when(
                F.col("n_sh") > 0,
                F.array(*[band_key(b) for b in range(_Q282_BANDS)]),
            )
            .otherwise(F.array().cast("array<bigint>"))
            .alias("doc_ks"),
            F.lit(1).alias("j"),
        )
    )
    name = f"q288_{_uuid.uuid4().hex[:8]}"
    if equi_join:
        # 100 TB shape: explode the 8 band keys and stream-static
        # LEFT-join against the store frame (explode_outer keeps
        # zero-shingle docs in n_seen); per-doc flags re-assemble
        # batch-side over the sink.
        exploded = staged.select(
            "doc_id",
            "source",
            "n_tok",
            F.explode_outer("doc_ks").alias("k"),
        )
        joined = exploded.join(
            store_kv.distinct().withColumn("hit", F.lit(1)), "k", "left"
        )
        q = (
            joined.select("doc_id", "source", "n_tok", "hit")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        per_doc = (
            spark.table(name)
            .groupBy("doc_id", "source", "n_tok")
            .agg(F.max(F.coalesce(F.col("hit"), F.lit(0))).alias("flagged"))
        )
    else:
        gated = staged.join(F.broadcast(store_keys), "j").withColumn(
            "flagged",
            F.arrays_overlap(F.col("doc_ks"), F.col("store_ks")).cast("int"),
        )
        q = (
            gated.select("source", "n_tok", "flagged")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        per_doc = spark.table(name)
    agg = (
        per_doc
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_seen"),
            F.sum(F.lit(1) - F.col("flagged")).cast("long").alias("n_admitted"),
            F.sum("flagged").cast("long").alias("n_flagged"),
            F.sum(F.when(F.col("flagged") == 0, F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("tokens_admitted"),
        )
        .withColumn(
            "admit_rate",
            F.col("n_admitted").cast("double") / F.col("n_seen").cast("double"),
        )
    )
    return _drain_memory_sink(agg, name).orderBy("source")


QUERIES["q288_streaming_store_gate"] = q288_streaming_store_gate


def _q288_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    h = _Q282_HASHES
    rpb = _Q282_HASHES // _Q282_BANDS
    toks = sql_word_ngrams("text", 1)
    return f"""
    WITH sh AS MATERIALIZED (
        SELECT DISTINCT doc_id AS id, source,
               unnest({sql_word_ngrams("text", 3)}) AS shingle
        FROM documents
    ), sig AS MATERIALIZED (
        SELECT id, MAX(source) AS source, j,
               MIN((('0x' || substr(md5(shingle || ':' || j), 1, 15))::BIGINT)) AS mh
        FROM sh CROSS JOIN range({h}) AS t(j)
        GROUP BY id, j
    ), bandkey AS MATERIALIZED (
        SELECT id, MAX(source) AS source, j // {rpb} AS band,
               string_agg(mh::VARCHAR, ',' ORDER BY j) AS bk
        FROM sig GROUP BY id, j // {rpb}
    ), flagged AS (
        -- EVERY streamed doc gates against the history store,
        -- history docs included: they self-hit and show ~fully
        -- flagged (q248's built-in sanity). Self-match allowed.
        SELECT DISTINCT b.id
        FROM bandkey b JOIN bandkey a
          ON a.source != 'src0'
         AND b.band = a.band AND b.bk = a.bk
    ), per AS (
        SELECT d.source, len({toks}) AS n_tok,
               (CASE WHEN f.id IS NOT NULL THEN 1 ELSE 0 END) AS flg
        FROM documents d LEFT JOIN flagged f ON f.id = d.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_seen,
           CAST(SUM(1 - flg) AS BIGINT) AS n_admitted,
           CAST(SUM(flg) AS BIGINT) AS n_flagged,
           CAST(SUM(CASE WHEN flg = 0 THEN n_tok ELSE 0 END) AS BIGINT)
               AS tokens_admitted,
           CAST(SUM(1 - flg) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS admit_rate
    FROM per
    GROUP BY source
    ORDER BY source
    """


ORACLE["q288_streaming_store_gate"] = _q288_oracle()


# ---------------------------------------------------------------------------
# Q290 — positional inverted index + phrase / boolean-AND search
# (the exact-match retrieval primitive next to the vector-search
# suite — every RAG deployment runs BOTH; ES/Lucene's core data
# structure re-expressed Spark-first): ONE postings table
# (token, doc_id, pos) built from a single tokenize+posexplode scan
# and materialized (localCheckpoint — every query consumes it; at
# 100 TB this is the bucketed-by-token parquet table the index
# build writes once, q164's discipline), then each fixed query runs
# AS JOINS ON THE INDEX: a k-word phrase is the k-way positional
# self-join p1.pos + i = p(i).pos on the same doc (never a text
# rescan); a boolean AND is a distinct-doc semi-intersection.
# Per query: matching docs, total occurrences (phrase = phrase
# starts; AND = Σ term occurrences inside matching docs — exact
# BIGINTs). The postings shuffle partitions by token — the phrase
# join touches only the queried tokens' lists (at scale: partition
# pruning on the token-bucketed store). Oracle recomputes via the
# n-gram/containment forms — value-identical by construction.
# ---------------------------------------------------------------------------

_Q290_PHRASES = [("p1", "order sort"), ("p2", "batch batch"), ("p3", "the fast key")]
_Q290_ANDS = [("a1", ["spark", "window"]), ("a2", ["dup", "merge"])]


def q290_inverted_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.text import ws_tokens

    docs = spread(_t(spark, sf_dir, "documents"))
    needed = sorted(
        {w for _, p in _Q290_PHRASES for w in p.split()}
        | {w for _, ts in _Q290_ANDS for t in [ts] for w in t}
    )
    # postings for the queried tokens only — the index SERVES these
    # queries; pruning to the probe tokens at build time models the
    # token-partition pruning a full bucketed index gives reads.
    postings = (
        docs.select(
            "doc_id", F.posexplode(ws_tokens(F.col("text"))).alias("pos", "token")
        )
        .filter(F.col("token").isin(needed))
        .localCheckpoint()
    )

    frames = []
    for qid, phrase in _Q290_PHRASES:
        words = phrase.split()
        cur = postings.filter(F.col("token") == words[0]).select(
            "doc_id", F.col("pos").alias("p0")
        )
        for i, w in enumerate(words[1:], start=1):
            nxt = postings.filter(F.col("token") == w).select(
                "doc_id", F.col("pos").alias(f"p{i}")
            )
            cur = cur.join(nxt, "doc_id").filter(
                F.col(f"p{i}") == F.col("p0") + F.lit(i)
            )
        hits = cur.select("doc_id")
        frames.append(
            hits.agg(
                F.count(F.lit(1)).cast("long").alias("n_occurrences"),
                F.count_distinct("doc_id").cast("long").alias("n_docs"),
            ).select(
                F.lit(qid).alias("query_id"),
                F.lit("phrase").alias("kind"),
                F.lit(phrase).alias("query"),
                "n_docs",
                "n_occurrences",
            )
        )
    for qid, terms in _Q290_ANDS:
        per_doc = (
            postings.filter(F.col("token").isin(terms))
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
            ).select(
                F.lit(qid).alias("query_id"),
                F.lit("and").alias("kind"),
                F.lit(" ".join(terms)).alias("query"),
                "n_docs",
                "n_occurrences",
            )
        )
    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionByName(fdf)
    return out.orderBy("query_id")


QUERIES["q290_inverted_index_search"] = q290_inverted_index_search


def _q290_oracle() -> str:
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
               CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_occurrences
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
               CAST(COALESCE(SUM(occ), 0) AS BIGINT) AS n_occurrences
        FROM (
            SELECT doc_id, {occ} AS occ
            FROM documents
            WHERE {conds})
        """)
    body = " UNION ALL ".join(parts)
    return f"SELECT * FROM ({body}) ORDER BY query_id"


ORACLE["q290_inverted_index_search"] = _q290_oracle()


# ---------------------------------------------------------------------------
# Q291 — video shot-overlap near-dup (the VIDEO modality joining
# q284's image dHash in the dedup family, over q72's frame-sample
# stub machinery): each doc stands in for a video; its 8 sampled
# "frames" hash the token window [f·8, f·8+16) (STRIDE 8 < WINDOW
# 16, so an edited token perturbs ≤ 2 frames — content-local, the
# same reason q284 seeds per-token; md5-60 of the joined window,
# the DuckDB-recomputable family). Videos sharing ≥ 4 of 8 frame
# hashes are near-dups — a SET-OVERLAP join on frame hashes
# (groupBy hash → pairs), deliberately a THIRD pairing mechanism
# next to q282's banding and q284's pigeonhole segments; boilerplate
# frames are capped at df ≤ 50 by a count window (the
# max_shingle_freq convention, freq CTE mirrored), empty frames
# (doc shorter than the window start) are dropped so short docs
# never pair on emptiness. Components + min-id keeper per source
# (q204's tail). Scale: 8 rows per video into one hash-keyed
# shuffle; pair mass tracks dup structure under the cap.
# ---------------------------------------------------------------------------

_Q291_FRAMES = 8
_Q291_STRIDE = 8
_Q291_WIN = 16
_Q291_MIN_SHARED = 4
_Q291_MAXF = 50


def _q291_pairs(docs) -> DataFrame:
    """[id_a, id_b] video shot-overlap pairs (≥ 4 of 8 frame hashes
    shared, df ≤ 50 cap) — shared with q295's agreement row."""
    from ai_data_pipeline_spark.functions.text import ws_tokens

    toks = docs.select("doc_id", "source", ws_tokens(F.col("text")).alias("ws"))
    frame = lambda f: F.array_join(  # noqa: E731
        F.slice(F.col("ws"), f * _Q291_STRIDE + 1, _Q291_WIN), " "
    )
    framed = toks.select(
        "doc_id",
        F.explode(
            F.filter(
                F.array(*[frame(f) for f in range(_Q291_FRAMES)]),
                lambda s: s != F.lit(""),
            )
        ).alias("fs"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("fs")), 1, 15), 16, 10)
        .cast("long")
        .alias("fh"),
    ).distinct()
    w = Window.partitionBy("fh")
    capped = (
        framed.withColumn("df", F.count(F.lit(1)).over(w))
        .filter(F.col("df") <= _Q291_MAXF)
        .select("doc_id", "fh")
    )
    a = capped.select(F.col("doc_id").alias("id_a"), "fh")
    b = capped.select(F.col("doc_id").alias("id_b"), "fh")
    return (
        a.join(b, "fh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _Q291_MIN_SHARED)
        .select("id_a", "id_b")
    )


def q291_video_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators import dedup

    docs = spread(_t(spark, sf_dir, "documents"))
    pairs = _q291_pairs(docs)
    clusters = dedup.dedup_clusters_star(pairs)
    keeper = (
        docs.select("doc_id", "source")
        .join(clusters.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "source",
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    agg = keeper.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_videos"),
        F.sum((F.col("doc_id") == F.col("cluster_id")).cast("int"))
        .cast("long")
        .alias("n_kept"),
    )
    return (
        agg.withColumn("n_removed", (F.col("n_videos") - F.col("n_kept")).cast("long"))
        .withColumn(
            "removed_rate",
            F.col("n_removed").cast("double") / F.col("n_videos").cast("double"),
        )
        .orderBy("source")
    )


QUERIES["q291_video_frame_dedup"] = q291_video_frame_dedup


def _q291_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    toks = sql_word_ngrams("text", 1)
    frames = ", ".join(
        f"array_to_string(({toks})[{f * _Q291_STRIDE + 1}:{f * _Q291_STRIDE + _Q291_WIN}], ' ')"
        for f in range(_Q291_FRAMES)
    )
    return f"""
    WITH RECURSIVE framed AS MATERIALIZED (
        SELECT DISTINCT doc_id, (('0x' || substr(md5(fs), 1, 15))::BIGINT) AS fh
        FROM (
            SELECT doc_id, unnest(list_filter([{frames}], s -> s != '')) AS fs
            FROM documents)
    ), freq AS (
        SELECT fh, COUNT(*) AS df FROM framed GROUP BY fh
    ), capped AS MATERIALIZED (
        SELECT doc_id, framed.fh FROM framed
        JOIN freq ON freq.fh = framed.fh
        WHERE df <= {_Q291_MAXF}
    ), pairs AS (
        SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
            FROM capped a JOIN capped b
              ON a.fh = b.fh AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        WHERE n_shared >= {_Q291_MIN_SHARED}
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs
    ), reach AS (
        SELECT a AS id, a AS lab FROM edges
        UNION
        SELECT e.a AS id, r.lab AS lab FROM edges e JOIN reach r ON r.id = e.b
    ), comp AS (
        SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id
    ), keeper AS (
        SELECT d.source, d.doc_id,
               COALESCE(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_videos,
           CAST(SUM(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN doc_id = cluster_id THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN doc_id = cluster_id THEN 0 ELSE 1 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS removed_rate
    FROM keeper
    GROUP BY source
    ORDER BY source
    """


ORACLE["q291_video_frame_dedup"] = _q291_oracle()


# ---------------------------------------------------------------------------
# Q289 — signature-store LIFECYCLE: merge the admitted batch into
# the next store generation and prove content equality (the daily
# roll q282 leaves implicit, graded: store_gen2 = store_gen1 ∪
# sigs(admitted), and that must equal recomputing signatures from
# scratch over history ∪ admitted — the invariant that keeps an
# incremental store trustworthy after months of daily merges).
# Spark side runs TWO store generations through parquet (gen-1
# written from history, read back, q282's admission via the shared
# _store_admission core, gen-2 written as read-back-gen-1 UNION the
# admitted subset of the checkpointed batch signatures, read back
# again); the graded output is a per-band CONTENT digest of gen-2:
# distinct docs, signature rows, and bit_xor over the band's
# minhash values (order-independent, overflow-free, md5-family —
# the oracle recomputes the identical BIGINTs from `documents`;
# bands via shiftright(j, 2) since rows-per-band = 4). Scale: the
# merge is an append of |admitted| × 32 longs — never a history
# recompute; both writes repartition(8) first (the q250 tiny-file
# rule).
# ---------------------------------------------------------------------------


def q289_store_lifecycle_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ai_data_pipeline_spark.operators import dedup

    assert _Q282_HASHES // _Q282_BANDS == 4  # shiftright(j, 2) below

    docs = spread(_t(spark, sf_dir, "documents"))
    hist_docs = docs.filter(F.col("source") != "src0")
    batch_docs = docs.filter(F.col("source") == "src0")

    tmp = tempfile.mkdtemp(prefix="q289_")
    p1, p2 = tmp + "/store_gen1", tmp + "/store_gen2"
    try:
        # gen-1 build passed as store_fn so the write overlaps the
        # batch-side checkpoints (r13; see _store_admission)
        def build_store1():
            sigs_hist = dedup.minhash_signatures(
                hist_docs, "doc_id", "text", n=3, num_hashes=_Q282_HASHES
            )
            sigs_hist.repartition(8).write.mode("overwrite").parquet(p1)
            return spark.read.parquet(p1)

        keyed, sigs_batch = _store_admission(
            hist_docs, batch_docs, store_fn=build_store1
        )
        store1 = spark.read.parquet(p1)
        admitted = keyed.filter(
            F.col("in_hist").isNull() & (F.col("doc_id") == F.col("cluster_id"))
        ).select(F.col("doc_id").alias("id"))
        merged = store1.unionByName(sigs_batch.join(admitted, "id", "semi"))
        merged.repartition(8).write.mode("overwrite").parquet(p2)
        store2 = spark.read.parquet(p2)

        out = (
            store2.select("id", F.posexplode("sig").alias("j", "mh"))
            .select("id", F.shiftright("j", 2).cast("long").alias("band"), "mh")
            .groupBy("band")
            .agg(
                F.count_distinct("id").cast("long").alias("n_docs"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.bit_xor("mh").cast("long").alias("sig_xor"),
            )
            .orderBy("band")
            .collect()  # 8 rows, before temp-dir cleanup
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        out, "band long, n_docs long, n_rows long, sig_xor long"
    ).orderBy("band")


QUERIES["q289_store_lifecycle_merge"] = q289_store_lifecycle_merge


# Oracle: q282's shared chain decides admission; the store content
# is then recomputed FROM SCRATCH over history ∪ admitted — equality
# with Spark's two-generation parquet round-trip IS the graded
# lifecycle invariant. (sig's j is 0-based range(32), so j // 4
# matches shiftright(j, 2) on the Spark side.)
def _q289_oracle() -> str:
    return _q282_chain() + """
    , admitted AS (
        SELECT doc_id FROM keyed
        WHERE NOT is_hist AND doc_id = cluster_id
    ), union_ids AS (
        SELECT doc_id FROM documents WHERE source != 'src0'
        UNION ALL
        SELECT doc_id FROM admitted
    ), store2 AS (
        SELECT s.id, s.j, s.mh
        FROM sig s JOIN union_ids u ON u.doc_id = s.id
    )
    SELECT CAST(j // 4 AS BIGINT) AS band,
           CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(mh) AS BIGINT) AS sig_xor
    FROM store2
    GROUP BY j // 4
    ORDER BY band
    """


ORACLE["q289_store_lifecycle_merge"] = _q289_oracle()


# ---------------------------------------------------------------------------
# Q292 — near-dup-decontaminated train/validation split (split
# hygiene: a random split leaks near-duplicate pairs across the
# train/val boundary and inflates eval scores — the documented
# failure FineWeb/Dolma guard against): docs split 90/10 by the
# 40-bit md5 uniform of doc_id (u40 mod 10 = 7 → val; q228's idiom —
# raw doc_id mod is degenerate vs the round-robin source deal), ONE
# capped 4-gram pair pass (q263 constants, freq CTE mirrored), and
# every val doc with a ≥ 0.6 neighbor in TRAIN is moved to train
# (leaky — no data discarded, the boundary just stops cutting
# through near-dup clusters). Per source: docs, initial train/val,
# leaky count, final val, final val share (one IEEE division of
# exact BIGINTs). Scale: the pair law is q107's; the split flag is
# a scan-stage expression; leak detection is one projection over
# the pair output — no second pass.
# ---------------------------------------------------------------------------

_Q292_VAL_MOD = 10
_Q292_VAL_PICK = 7


def q292_decontaminated_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators import dedup
    from ai_data_pipeline_spark.plans.frontier2_queries import (
        _Q263_JACCARD_F,
        _Q263_MAXF,
        _Q263_N,
    )

    docs = spread(_t(spark, sf_dir, "documents"))
    u40 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    split = docs.select(
        "doc_id",
        "source",
        (F.pmod(u40, F.lit(_Q292_VAL_MOD)) == _Q292_VAL_PICK)
        .cast("int")
        .alias("is_val"),
    ).localCheckpoint()  # totals + both pair-endpoint joins
    pairs = dedup.ngram_jaccard_pairs(
        docs,
        "doc_id",
        "text",
        n=_Q263_N,
        min_jaccard=_Q263_JACCARD_F,
        max_shingle_freq=_Q263_MAXF,
    ).select("id_a", "id_b")
    sa = split.select(F.col("doc_id").alias("id_a"), F.col("is_val").alias("va"))
    sb = split.select(F.col("doc_id").alias("id_b"), F.col("is_val").alias("vb"))
    both = pairs.join(sa, "id_a").join(sb, "id_b")
    leaky = (
        both.filter(F.col("va") != F.col("vb"))
        .select(
            F.when(F.col("va") == 1, F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("doc_id")
        )
        .distinct()
        .withColumn("leak", F.lit(1))
    )
    flagged = split.join(leaky, "doc_id", "left")
    agg = flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.lit(1) - F.col("is_val")).cast("long").alias("n_train0"),
        F.sum("is_val").cast("long").alias("n_val0"),
        F.sum(F.when(F.col("leak").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_leaky"),
        F.sum(
            F.when((F.col("is_val") == 1) & F.col("leak").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_val_final"),
    )
    return (
        agg.withColumn(
            "val_share_final",
            F.col("n_val_final").cast("double") / F.col("n_docs").cast("double"),
        )
        .orderBy("source")
    )


QUERIES["q292_decontaminated_split"] = q292_decontaminated_split


def _q292_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams
    from ai_data_pipeline_spark.plans.frontier2_queries import (
        _Q263_JACCARD,
        _Q263_MAXF,
        _Q263_N,
    )

    grams = sql_word_ngrams("text", _Q263_N)
    return f"""
    WITH split AS MATERIALIZED (
        SELECT doc_id, source,
               (CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT)
                          % {_Q292_VAL_MOD} = {_Q292_VAL_PICK}
                     THEN 1 ELSE 0 END) AS is_val
        FROM documents
    ), sh0 AS (
        SELECT DISTINCT doc_id AS id, unnest({grams}) AS shingle FROM documents
    ), freq AS (
        SELECT shingle, COUNT(*) AS f FROM sh0 GROUP BY shingle
    ), sh AS MATERIALIZED (
        SELECT id, sh0.shingle FROM sh0 JOIN freq ON sh0.shingle = freq.shingle
        WHERE f <= {_Q263_MAXF}
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE inter / (sa.n_sh + sb.n_sh - inter) >= '{_Q263_JACCARD}'::DOUBLE
    ), leaky AS (
        SELECT DISTINCT (CASE WHEN va.is_val = 1 THEN p.id_a ELSE p.id_b END)
                   AS doc_id
        FROM pairs p
        JOIN split va ON va.doc_id = p.id_a
        JOIN split vb ON vb.doc_id = p.id_b
        WHERE va.is_val != vb.is_val
    )
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(1 - s.is_val) AS BIGINT) AS n_train0,
           CAST(SUM(s.is_val) AS BIGINT) AS n_val0,
           CAST(SUM(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_leaky,
           CAST(SUM(CASE WHEN s.is_val = 1 AND l.doc_id IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_val_final,
           CAST(SUM(CASE WHEN s.is_val = 1 AND l.doc_id IS NULL
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS val_share_final
    FROM split s LEFT JOIN leaky l ON l.doc_id = s.doc_id
    GROUP BY s.source
    ORDER BY s.source
    """


ORACLE["q292_decontaminated_split"] = _q292_oracle()


# ---------------------------------------------------------------------------
# Q293 — partition-pruned DELETE on the cell-partitioned vector
# store (the GDPR/right-to-erasure path of the q250 storage layout;
# q217 grades targeted delete-rewrite on a plain table — here the
# IVF cell partitioning makes the rewrite PRUNED: only partitions
# containing a deleted vector are rewritten, via dynamic partition
# overwrite [q215's mechanism] with the remaining rows of affected
# cells; a cell whose vectors are ALL deleted gets its directory
# dropped explicitly — dynamic overwrite cannot touch a partition
# absent from the written frame, the documented drop-partition
# step of every table format, fixture-pinned). The graded claim is
# END-TO-END equivalence: exact cosine top-3 over the post-delete
# read-back must be value-identical to searching the never-deleted
# rows of the source table (the oracle never sees the store).
# Delete set = 40-bit md5 uniform of vec_id mod 17 == 3 (q228's
# idiom). Affected-cell discovery is a bounded collect gated by the
# cell count it already computes (≤ |centroids| = 8). Output: the
# 15 search rows + the delete audit as constant columns
# (n_deleted, n_cells_rewritten). Scale: delete cost is
# |affected cells| / K of the store, not a full rewrite — the
# pruning IS the payoff of the q250 layout on the write path too.
# ---------------------------------------------------------------------------

_Q293_MOD = 17
_Q293_PICK = 3


def q293_vector_store_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ai_data_pipeline_spark.functions.vector import cosine
    from ai_data_pipeline_spark.operators import similarity
    from ai_data_pipeline_spark.operators.vectorized import ivf_assign_np
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS, Q28_CENTROIDS

    emb = _t(spark, sf_dir, "embeddings")
    corpus = ivf_assign_np(emb, Q28_CENTROIDS).select("vec_id", "embedding", "cell")
    u40 = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    is_del = F.pmod(u40, F.lit(_Q293_MOD)) == _Q293_PICK

    tmp = tempfile.mkdtemp(prefix="q293_")
    path = tmp + "/vectors_by_cell"
    try:
        corpus.repartition("cell").write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(path)
        store = spark.read.parquet(path)

        dels = store.filter(is_del).select("vec_id", "cell")
        # affected-cell audit: per cell, deleted vs total rows — a
        # ≤ |centroids| collect, gated by construction
        per_cell = (
            store.groupBy("cell")
            .agg(
                F.count(F.lit(1)).alias("n_total"),
                F.sum(is_del.cast("int")).alias("n_del"),
            )
            .filter(F.col("n_del") > 0)
            .collect()
        )
        affected = sorted(int(r["cell"]) for r in per_cell)
        emptied = sorted(
            int(r["cell"]) for r in per_cell if r["n_del"] == r["n_total"]
        )
        n_deleted = int(sum(r["n_del"] for r in per_cell))

        # dynamic overwrite: ONLY the partitions present in the
        # written frame are replaced — the remaining rows of each
        # affected cell (minus fully-emptied cells, handled below).
        # Per-write option, not session conf (vanilla-session parity).
        # Pin the frame before overwriting the path its lineage reads
        # (same hazard q297's apply_batch documents: without the
        # checkpoint, the write's read tasks scan files the commit is
        # about to replace).
        remaining = (
            store.filter(F.col("cell").cast("int").isin(affected) & ~is_del)
            .select("vec_id", "embedding", "cell")
            .localCheckpoint()
        )
        remaining.repartition("cell").write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("cell").parquet(path)
        for c in emptied:
            shutil.rmtree(f"{path}/cell={c}", ignore_errors=True)

        store2 = spark.read.parquet(path)
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
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    out = spark.createDataFrame(top, "qid long, rk long, vec_id long, sim double")
    return (
        out.withColumn("n_deleted", F.lit(n_deleted).cast("long"))
        .withColumn("n_cells_rewritten", F.lit(len(affected)).cast("long"))
        .orderBy("qid", "rk")
    )


QUERIES["q293_vector_store_delete"] = q293_vector_store_delete


# Oracle: search the never-deleted rows of the SOURCE table — the
# store, both writes, and the partition drop must be value-invisible.
def _q293_oracle() -> str:
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
                    % {_Q293_MOD} = {_Q293_PICK}) AS is_del,
               struct_extract((list_sort([{cells}]))[1], 'c') AS cell
        FROM embeddings
    ), audit AS (
        SELECT CAST(SUM(CASE WHEN is_del THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
               CAST(COUNT(DISTINCT CASE WHEN is_del THEN cell END) AS BIGINT)
                   AS n_cells_rewritten
        FROM flags
    ), ranked AS (
        SELECT q.qid, a.vec_id, {cos} AS sim,
               ROW_NUMBER() OVER (
                   PARTITION BY q.qid
                   ORDER BY {cos} DESC, a.vec_id) AS rk
        FROM flags a CROSS JOIN (VALUES {qrows}) AS q(qid, qvec)
        WHERE NOT a.is_del
    )
    SELECT CAST(qid AS BIGINT) AS qid, CAST(rk AS BIGINT) AS rk,
           vec_id, sim, d.n_deleted, d.n_cells_rewritten
    FROM ranked CROSS JOIN audit d
    WHERE rk <= 3
    ORDER BY qid, rk
    """


ORACLE["q293_vector_store_delete"] = _q293_oracle()


# ---------------------------------------------------------------------------
# Q294 — incremental inverted-index maintenance (q290's postings
# table gets q289's lifecycle treatment — the second index family's
# daily roll): gen-1 postings are built from the base corpus (every
# source but src0) over the q290 probe tokens, written PARTITIONED
# BY TOKEN (the token-bucketed layout q290's docstring names — each
# query reads one directory), read back; the src0 delta's postings
# APPEND (postings are immutable per (doc, pos) — append IS the
# merge, no rewrite of existing token partitions); the read-back
# gen-2 must be content-identical to rebuilding postings over the
# full corpus, graded as a per-token digest: distinct docs, posting
# rows, bit_xor of md5-60(doc_id:pos) (order-independent,
# overflow-free, md5-family — the oracle recomputes the same
# BIGINTs from `documents`). Scale: the merge writes |delta
# postings| rows; existing partitions are untouched files — the
# append-only property every log-structured index build relies on.
# ---------------------------------------------------------------------------


def q294_incremental_postings_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ai_data_pipeline_spark.functions.text import ws_tokens

    needed = sorted(
        {w for _, p in _Q290_PHRASES for w in p.split()}
        | {w for _, ts in _Q290_ANDS for w in ts}
    )

    def postings(df):
        return (
            df.select(
                "doc_id", F.posexplode(ws_tokens(F.col("text"))).alias("pos", "token")
            )
            .filter(F.col("token").isin(needed))
            .select("doc_id", "pos", "token")
        )

    docs = spread(_t(spark, sf_dir, "documents"))
    tmp = tempfile.mkdtemp(prefix="q294_")
    path = tmp + "/postings_by_token"
    try:
        postings(docs.filter(F.col("source") != "src0")).repartition(
            "token"
        ).write.mode("overwrite").partitionBy("token").parquet(path)
        # delta merge = APPEND of the new batch's postings
        postings(docs.filter(F.col("source") == "src0")).repartition(
            "token"
        ).write.mode("append").partitionBy("token").parquet(path)
        store = spark.read.parquet(path)
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
        out = (
            store.select("token", "doc_id", ph.alias("ph"))
            .groupBy("token")
            .agg(
                F.count_distinct("doc_id").cast("long").alias("n_docs"),
                F.count(F.lit(1)).cast("long").alias("n_postings"),
                F.bit_xor("ph").cast("long").alias("postings_xor"),
            )
            .orderBy("token")
            .collect()  # ≤ |probe tokens| rows, before temp-dir cleanup
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        out, "token string, n_docs long, n_postings long, postings_xor long"
    ).orderBy("token")


QUERIES["q294_incremental_postings_merge"] = q294_incremental_postings_merge


def _q294_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    needed = sorted(
        {w for _, p in _Q290_PHRASES for w in p.split()}
        | {w for _, ts in _Q290_ANDS for w in ts}
    )
    lits = ", ".join(f"'{w}'" for w in needed)
    toks = sql_word_ngrams("text", 1)
    return f"""
    WITH post AS (
        SELECT doc_id, u.pos - 1 AS pos, u.token
        FROM documents,
             LATERAL (SELECT unnest({toks}) AS token,
                             generate_subscripts({toks}, 1) AS pos) u
        WHERE u.token IN ({lits})
    )
    SELECT token,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_postings,
           CAST(bit_xor((('0x' || substr(md5(doc_id || ':' || pos), 1, 15))::BIGINT))
                AS BIGINT) AS postings_xor
    FROM post
    GROUP BY token
    ORDER BY token
    """


ORACLE["q294_incremental_postings_merge"] = _q294_oracle()


# ---------------------------------------------------------------------------
# Q295 — cross-modality dedup AGREEMENT audit (the dedup family's
# capstone ablation: a production multimodal pipeline runs text,
# image, and video near-dup mechanisms side by side — which docs do
# they AGREE on?): text = the capped 4-gram Jaccard ≥ 0.6 pairs
# (q263 constants, freq CTE mirrored), image = q284's dHash pairs,
# video = q291's frame-overlap pairs — each mechanism flags every
# doc appearing in one of its pairs; per (has_text, has_image,
# has_video) combination: doc count (8 rows — including the
# untouched-by-all-three row, the LEFT join keeps it). Divergence is
# the audit's point: the mechanisms key on different granularities
# (shingle sets vs token-local grids vs window runs), so a doc
# flagged by one but not another localizes WHERE the edit lives.
# Scale: three pair stages each already scale-audited (q284/q291
# probes, the q107 pair law); the mask agg is one scan + an 8-row
# group.
# ---------------------------------------------------------------------------


def q295_cross_modality_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators import dedup
    from ai_data_pipeline_spark.plans.frontier2_queries import (
        _Q263_JACCARD_F,
        _Q263_MAXF,
        _Q263_N,
    )

    docs = spread(_t(spark, sf_dir, "documents"))
    text_pairs = dedup.ngram_jaccard_pairs(
        docs,
        "doc_id",
        "text",
        n=_Q263_N,
        min_jaccard=_Q263_JACCARD_F,
        max_shingle_freq=_Q263_MAXF,
    ).select("id_a", "id_b")

    def flagged(pairs, name):
        # checkpoint: the two-sided union references the pair frame
        # twice — without it the WHOLE pair stage re-executes per
        # side (measured 26.8 s vs ~7 s at sf0.1; the q84 class)
        p = pairs.localCheckpoint()
        ids = (
            p.select(F.col("id_a").alias("doc_id"))
            .unionByName(p.select(F.col("id_b").alias("doc_id")))
            .distinct()
        )
        return ids.withColumn(name, F.lit(1))

    # the three modality pair pipelines are independent and each
    # construction runs an eager checkpoint job — overlap them from a
    # thread pool (guide §2.6; the q314/q303 r13 idiom)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_text = pool.submit(flagged, text_pairs, "has_text")
        f_img = pool.submit(lambda: flagged(_q284_pairs(docs), "has_image"))
        f_vid = pool.submit(lambda: flagged(_q291_pairs(docs), "has_video"))
        flag_text, flag_img, flag_vid = (
            f_text.result(), f_img.result(), f_vid.result()
        )
    combined = (
        docs.select("doc_id")
        .join(flag_text, "doc_id", "left")
        .join(flag_img, "doc_id", "left")
        .join(flag_vid, "doc_id", "left")
        .select(
            F.coalesce(F.col("has_text"), F.lit(0)).cast("long").alias("has_text"),
            F.coalesce(F.col("has_image"), F.lit(0)).cast("long").alias("has_image"),
            F.coalesce(F.col("has_video"), F.lit(0)).cast("long").alias("has_video"),
        )
    )
    return (
        combined.groupBy("has_text", "has_image", "has_video")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("has_text", "has_image", "has_video")
    )


QUERIES["q295_cross_modality_agreement"] = q295_cross_modality_agreement


def _q295_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams
    from ai_data_pipeline_spark.plans.frontier2_queries import (
        _Q263_JACCARD,
        _Q263_MAXF,
        _Q263_N,
    )

    grams = sql_word_ngrams("text", _Q263_N)
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
    return f"""
    WITH sh0 AS (
        SELECT DISTINCT doc_id AS id, unnest({grams}) AS shingle FROM documents
    ), tfreq AS (
        SELECT shingle, COUNT(*) AS f FROM sh0 GROUP BY shingle
    ), sh AS MATERIALIZED (
        SELECT id, sh0.shingle FROM sh0 JOIN tfreq ON sh0.shingle = tfreq.shingle
        WHERE f <= {_Q263_MAXF}
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
    ), tinter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ), text_ids AS (
        SELECT DISTINCT u AS doc_id FROM (
            SELECT unnest([id_a, id_b]) AS u FROM tinter
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE inter / (sa.n_sh + sb.n_sh - inter) >= '{_Q263_JACCARD}'::DOUBLE)
    ), grids AS (
        SELECT doc_id AS id,
               list_transform(range(0, {cells}), k -> {lum}) AS lums
        FROM (SELECT doc_id, {toks} AS ws FROM documents)
    ), fp AS MATERIALIZED (
        SELECT id, ({bits}) AS simhash FROM grids
    ), image_ids AS (
        SELECT DISTINCT u AS doc_id FROM (
            SELECT unnest([a.id, b.id]) AS u
            FROM fp a JOIN fp b ON a.id < b.id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= {_Q284_MAX_HAMMING})
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
    ), video_ids AS (
        SELECT DISTINCT u AS doc_id FROM (
            SELECT unnest([id_a, id_b]) AS u FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
                FROM fcapped a JOIN fcapped b
                  ON a.fh = b.fh AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
            WHERE n_shared >= {_Q291_MIN_SHARED})
    )
    SELECT CAST(CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS has_text,
           CAST(CASE WHEN i.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS has_image,
           CAST(CASE WHEN v.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS has_video,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents d
    LEFT JOIN text_ids t ON t.doc_id = d.doc_id
    LEFT JOIN image_ids i ON i.doc_id = d.doc_id
    LEFT JOIN video_ids v ON v.doc_id = d.doc_id
    GROUP BY 1, 2, 3
    ORDER BY has_text, has_image, has_video
    """


ORACLE["q295_cross_modality_agreement"] = _q295_oracle()


# ---------------------------------------------------------------------------
# Q296 — ranked keyword retrieval over the postings index (the
# TF-IDF/BM25 read q290's boolean/phrase search stops short of —
# together they complete the keyword half of a RAG retrieval stack):
# score(q, d) = Σ_{t ∈ q} tf(t, d) · idf_int(t) with idf_int =
# lb(N+1) − lb(df_t+1) on the exact-integer log2 CASE ladder (q242's
# discipline — float idf replaced by a rank-preserving BIGINT at
# log2 granularity, bit-identical both engines; df_t ≤ N keeps it
# ≥ 0). OR semantics over the query terms (BM25's), top-5 per query
# by (score DESC, doc_id). N enters as a 1-row broadcast agg — no
# driver collect. Scale: the scoring join touches only the queried
# tokens' postings lists (q290's pruning posture); df is a ≤
# |probe tokens| aggregate; the rank window partitions by query
# over candidate docs only. The log2 granularity is a DOCUMENTED
# trade (q242's): on this near-uniform vocabulary every common term
# lands at idf 0 and only rare terms ('dup', df ≈ N/20) separate —
# so the rank key is (score, total tf, doc_id): idf separates rare
# hits, exact term MASS ranks within an idf tier, never a bare
# doc_id tie on content-free zeros.
# ---------------------------------------------------------------------------

_Q296_QUERIES = [
    ("r1", ["dup", "stream"]),
    ("r2", ["dup", "merge"]),
    ("r3", ["the", "fast", "key"]),
]
_Q296_TOPK = 5


def q296_ranked_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.buckets import log2_bucket_case as lb
    from ai_data_pipeline_spark.functions.text import ws_tokens

    needed = sorted({w for _, ts in _Q296_QUERIES for w in ts})
    docs = spread(_t(spark, sf_dir, "documents"))
    postings = (
        docs.select(
            "doc_id", F.explode(ws_tokens(F.col("text"))).alias("token")
        )
        .filter(F.col("token").isin(needed))
        .localCheckpoint()  # df agg + the scoring join
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n")).withColumn("j", F.lit(1))
    df_t = (
        postings.groupBy("token")
        .agg(F.count_distinct("doc_id").alias("df"))
        .withColumn("j", F.lit(1))
        .join(F.broadcast(n_docs), "j")
        .select(
            "token",
            (lb(F.col("n") + 1) - lb(F.col("df") + 1)).alias("idf"),
        )
    )
    qterms = spark.createDataFrame(
        [(qid, t) for qid, ts in _Q296_QUERIES for t in ts], "qid string, token string"
    )
    scored = (
        postings.join(F.broadcast(qterms), "token")
        .groupBy("qid", "doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(F.broadcast(df_t), "token")
        .groupBy("qid", "doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("idf")).cast("long").alias("score"),
            F.sum("tf").cast("long").alias("tf_total"),
        )
    )
    return (
        scored.withColumn(
            "rank",
            F.row_number()
            .over(
                Window.partitionBy("qid").orderBy(
                    F.desc("score"), F.desc("tf_total"), F.asc("doc_id")
                )
            )
            .cast("long"),
        )
        .filter(F.col("rank") <= _Q296_TOPK)
        .select("qid", "rank", "doc_id", "score", "tf_total")
        .orderBy("qid", "rank")
    )


QUERIES["q296_ranked_retrieval"] = q296_ranked_retrieval


def _q296_oracle() -> str:
    from ai_data_pipeline_spark.functions.buckets import sql_log2_bucket_case
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams

    needed = sorted({w for _, ts in _Q296_QUERIES for w in ts})
    lits = ", ".join(f"'{w}'" for w in needed)
    qvals = ", ".join(
        f"('{qid}', '{t}')" for qid, ts in _Q296_QUERIES for t in ts
    )
    toks = sql_word_ngrams("text", 1)
    return f"""
    WITH post AS MATERIALIZED (
        SELECT doc_id, u.token
        FROM documents, LATERAL (SELECT unnest({toks}) AS token) u
        WHERE u.token IN ({lits})
    ), nn AS (
        SELECT COUNT(*) AS n FROM documents
    ), dfs AS (
        SELECT token,
               {sql_log2_bucket_case("(nn.n + 1)")}
                 - {sql_log2_bucket_case("(COUNT(DISTINCT doc_id) + 1)")} AS idf
        FROM post CROSS JOIN nn
        GROUP BY token, nn.n
    ), tfs AS (
        SELECT q.qid, p.doc_id, p.token, COUNT(*) AS tf
        FROM post p JOIN (VALUES {qvals}) AS q(qid, token)
          ON q.token = p.token
        GROUP BY 1, 2, 3
    ), scored AS (
        SELECT qid, doc_id, CAST(SUM(tf * idf) AS BIGINT) AS score,
               CAST(SUM(tf) AS BIGINT) AS tf_total
        FROM tfs JOIN dfs ON dfs.token = tfs.token
        GROUP BY qid, doc_id
    )
    SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id, score, tf_total
    FROM (
        SELECT qid, doc_id, score, tf_total,
               ROW_NUMBER() OVER (
                   PARTITION BY qid
                   ORDER BY score DESC, tf_total DESC, doc_id) AS rank
        FROM scored)
    WHERE rank <= {_Q296_TOPK}
    ORDER BY qid, rank
    """


ORACLE["q296_ranked_retrieval"] = _q296_oracle()


# ---------------------------------------------------------------------------
# Q297 — streaming tombstone-driven store deletes (q293's erasure
# path AT INGEST: a GDPR pipeline receives delete requests as a
# STREAM and applies each micro-batch as a partition-pruned rewrite
# — foreachBatch is exactly the Spark idiom for transactional sinks
# the built-in writers don't cover): the q293 delete set splits
# into 3 tombstone files replayed one per micro-batch
# (maxFilesPerTrigger=1); each batch joins its ids against the
# store read-back, collects the ≤ |centroids| affected cells
# (count-gated by construction), rewrites ONLY those cells via
# dynamic partition overwrite minus the batch's ids, and drops any
# cell the batch emptied. The graded claim: the FINAL store after
# three incremental micro-batch rewrites is value-identical to
# q293's one-shot batch delete AND to searching the never-deleted
# source rows — the oracle is the same recompute, so stream-of-
# deletes ≡ batch-delete ≡ no-store-at-all. Output: q293's 15
# search rows + audit constants (n_deleted, n_cells_rewritten =
# distinct cells across all batches).
# ---------------------------------------------------------------------------


def q297_streaming_tombstone_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os as _os
    import shutil
    import tempfile

    from ai_data_pipeline_spark.functions.vector import cosine
    from ai_data_pipeline_spark.operators import similarity
    from ai_data_pipeline_spark.operators.vectorized import ivf_assign_np
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS, Q28_CENTROIDS

    emb = _t(spark, sf_dir, "embeddings")
    corpus = ivf_assign_np(emb, Q28_CENTROIDS).select("vec_id", "embedding", "cell")
    u40 = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    is_del = F.pmod(u40, F.lit(_Q293_MOD)) == _Q293_PICK

    tmp = tempfile.mkdtemp(prefix="q297_")
    path = tmp + "/vectors_by_cell"
    tomb_dir = tmp + "/tombstones"
    ckpt = tmp + "/ckpt"
    _os.makedirs(tomb_dir)
    rewritten: set[int] = set()
    try:
        # r14 opt (guide §2.6): the store write and the tombstone-set
        # collect are independent job chains — overlap them; the
        # write pins its partition count (user-specified repartition
        # is not AQE-coalesced → parallel write tasks, still one file
        # per cell since each cell lives in exactly one task).
        from concurrent.futures import ThreadPoolExecutor

        def build_store():
            corpus.repartition(
                spark.sparkContext.defaultParallelism, "cell"
            ).write.mode("overwrite").partitionBy("cell").parquet(path)

        # tombstone batches: the delete set dealt into 3 files by
        # vec_id mod 3 (non-negative) — one micro-batch each. This
        # collect is TEST-HARNESS setup, not engine work: in
        # production the tombstone feed arrives from outside (a
        # Kafka topic, an erasure-request table) — the engine's own
        # driver-side state is only the ≤ |centroids| per-batch
        # affected-cell list inside apply_batch.
        def collect_dels():
            return [
                int(r["vec_id"])
                for r in emb.select("vec_id").filter(is_del).collect()
            ]

        with ThreadPoolExecutor(max_workers=2) as pool:
            fs, fd = pool.submit(build_store), pool.submit(collect_dels)
            fs.result()
            del_ids = fd.result()
        n_deleted = len(del_ids)
        for b in range(3):
            with open(f"{tomb_dir}/batch{b}.json", "w") as f:
                for vid in del_ids:
                    if vid % 3 == b:
                        f.write(_json.dumps({"vec_id": vid}) + "\n")

        # dynamic overwrite via per-write option (vanilla-session parity)
        def apply_batch(batch_df, epoch_id):
            store = spark.read.parquet(path)
            hits = store.join(batch_df.select("vec_id"), "vec_id", "semi")
            hit_cells = hits.groupBy("cell").agg(F.count(F.lit(1)).alias("n_hit"))
            # per affected cell: total vs hit rows — BEFORE the write
            # (remaining's lineage scans `path`; evaluating it after
            # the overwrite would read the rewritten store)
            per_cell = (
                store.groupBy("cell")
                .agg(F.count(F.lit(1)).alias("n_total"))
                .join(hit_cells, "cell")
                .collect()  # ≤ |centroids| rows by construction
            )
            affected = sorted(int(r["cell"]) for r in per_cell)
            if not affected:
                return
            emptied = [int(r["cell"]) for r in per_cell if r["n_hit"] == r["n_total"]]
            remaining = (
                store.filter(F.col("cell").cast("int").isin(affected))
                .join(batch_df.select("vec_id"), "vec_id", "anti")
                .localCheckpoint()  # pin content before the path is overwritten
            )
            remaining.repartition("cell").write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("cell").parquet(path)
            rewritten.update(affected)
            for c in emptied:
                shutil.rmtree(f"{path}/cell={c}", ignore_errors=True)

        q = (
            spark.readStream.schema("vec_id long")
            .option("maxFilesPerTrigger", 1)
            .json(tomb_dir)
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        store2 = spark.read.parquet(path)
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
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    out = spark.createDataFrame(top, "qid long, rk long, vec_id long, sim double")
    return (
        out.withColumn("n_deleted", F.lit(n_deleted).cast("long"))
        .withColumn("n_cells_rewritten", F.lit(len(rewritten)).cast("long"))
        .orderBy("qid", "rk")
    )


QUERIES["q297_streaming_tombstone_deletes"] = q297_streaming_tombstone_deletes

# Oracle: IDENTICAL to q293's — the graded claim is exactly that the
# three micro-batch rewrites land on the same final state as the
# one-shot batch delete (and as never storing the deleted rows).
ORACLE["q297_streaming_tombstone_deletes"] = _q293_oracle()


# ---------------------------------------------------------------------------
# Q298 — end-to-end MULTIMODAL curation funnel (the capstone
# composing q281's quality-first ordering with q295's three dedup
# mechanisms into ONE keeper policy — the pass a multimodal corpus
# release actually runs): stage 1 gates on Gopher rules_passed ≥ 6
# (q281's shared gate — the full 7-rule AND keeps zero docs on this
# corpus, measured there); stage 2 computes text (capped 4-gram),
# image (dHash), and video (frame-overlap) pairs over the quality
# SURVIVORS only (the q281 lesson: quality-first cuts every pair
# stage's input), unions the edge sets, runs ONE star-contraction
# components pass over the union (cross-modality clusters — a text
# edge and a video edge chain through a shared doc), and keeps each
# cluster's min id. Per source: docs, quality-failed, dedup-removed,
# kept, kept_rate (one IEEE division of exact BIGINTs). Scale:
# the gate is a scan-stage projection; each pair stage carries its
# own audited law on a strictly smaller input; the union adds no
# shuffle (components symmetrize anyway).
# ---------------------------------------------------------------------------

_Q298_MIN_RULES = 6


def q298_multimodal_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators import dedup
    from ai_data_pipeline_spark.operators.curation import gopher_quality_flags
    from ai_data_pipeline_spark.plans.frontier2_queries import (
        _Q263_JACCARD_F,
        _Q263_MAXF,
        _Q263_N,
    )

    docs = spread(_t(spark, sf_dir, "documents"))
    rules = [
        "r_word_count", "r_mean_word_len", "r_symbol_ratio",
        "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words",
        "r_stopwords",
    ]
    gated = gopher_quality_flags(docs.select("doc_id", "text")).select(
        "doc_id",
        (
            sum(F.col(r).cast("int") for r in rules) >= _Q298_MIN_RULES
        ).alias("passed"),
    )
    # spread before the checkpoint: the semi-join output AQE-coalesces
    # to ~1 partition and all three pair stages would serialize on it
    # (the q216/q288 r13 parallelism finding)
    surv = spread(
        docs.join(gated.filter(F.col("passed")).select("doc_id"), "doc_id", "semi")
    ).localCheckpoint()  # three pair stages + the keeper join consume it
    # the three modality pair constructions are independent and the
    # dHash/frame ones run eager checkpoint jobs — overlap them
    # (guide §2.6; the q314/q303 r13 idiom)
    from concurrent.futures import ThreadPoolExecutor

    def build_text():
        return dedup.ngram_jaccard_pairs(
            surv,
            "doc_id",
            "text",
            n=_Q263_N,
            min_jaccard=_Q263_JACCARD_F,
            max_shingle_freq=_Q263_MAXF,
        ).select("id_a", "id_b")

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_text = pool.submit(build_text)
        f_img = pool.submit(_q284_pairs, surv)
        f_vid = pool.submit(_q291_pairs, surv)
        edges = (
            f_text.result().unionByName(f_img.result())
            .unionByName(f_vid.result())
            .distinct()
        )
    clusters = dedup.dedup_clusters_star(edges)
    keyed = (
        docs.select("doc_id", "source")
        .join(gated, "doc_id")
        .join(clusters.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")))
    )
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    keep = F.col("passed") & (F.col("doc_id") == F.col("cluster_id"))
    agg = keyed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        flag(~F.col("passed")).alias("n_quality_failed"),
        flag(F.col("passed") & (F.col("doc_id") != F.col("cluster_id"))).alias(
            "n_dedup_removed"
        ),
        flag(keep).alias("n_kept"),
    )
    return (
        agg.withColumn(
            "kept_rate",
            F.col("n_kept").cast("double") / F.col("n_docs").cast("double"),
        )
        .orderBy("source")
    )


QUERIES["q298_multimodal_funnel"] = q298_multimodal_funnel


def _q298_oracle() -> str:
    from ai_data_pipeline_spark.functions.text import sql_word_ngrams
    from ai_data_pipeline_spark.plans.frontier2_queries import (
        _Q263_JACCARD,
        _Q263_MAXF,
        _Q263_N,
    )

    grams = sql_word_ngrams("text", _Q263_N)
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
    return f"""
    WITH RECURSIVE d AS (
        SELECT doc_id,
               coalesce(text, '') AS t,
               list_filter(string_split_regex(coalesce(text, ''), '[ \\t\\r\\n]+'),
                           w -> w != '') AS words,
               list_filter(string_split(coalesce(text, ''), chr(10)),
                           l -> NOT regexp_full_match(l, '[ \\t\\r]*')) AS lines
        FROM documents
    ), m AS (
        SELECT doc_id,
               len(words) AS n_words,
               coalesce(list_sum(list_transform(words, w -> len(w))), 0) AS word_chars,
               len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
               len(lines) AS n_lines,
               len(list_filter(lines, l -> regexp_matches(l, '^[ \\t]*[-*\u2022]'))) AS n_bullet,
               len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|\u2026)[ \\t\\r]*$'))) AS n_ell,
               length(t) - length(replace(t, '#', ''))
                 + len(regexp_extract_all(t, '(\\.\\.\\.|\u2026)')) AS n_sym,
               len(list_intersect(list_distinct(list_transform(words, w -> lower(w))),
                   ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS n_stop
        FROM d
    ), rp AS (
        SELECT doc_id,
               ((CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END)
              + (CASE WHEN 3 * n_words <= word_chars
                       AND word_chars <= 10 * n_words THEN 1 ELSE 0 END)
              + (CASE WHEN 10 * n_sym <= n_words THEN 1 ELSE 0 END)
              + (CASE WHEN 10 * n_bullet <= 9 * n_lines THEN 1 ELSE 0 END)
              + (CASE WHEN 10 * n_ell <= 3 * n_lines THEN 1 ELSE 0 END)
              + (CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END)
              + (CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END))
                 >= {_Q298_MIN_RULES} AS passed
        FROM m
    ), surv AS MATERIALIZED (
        SELECT dd.doc_id, dd.text FROM documents dd
        JOIN rp ON rp.doc_id = dd.doc_id AND rp.passed
    ), sh0 AS (
        SELECT DISTINCT doc_id AS id, unnest({grams}) AS shingle FROM surv
    ), tfreq AS (
        SELECT shingle, COUNT(*) AS f FROM sh0 GROUP BY shingle
    ), sh AS MATERIALIZED (
        SELECT id, sh0.shingle FROM sh0 JOIN tfreq ON sh0.shingle = tfreq.shingle
        WHERE f <= {_Q263_MAXF}
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
    ), tinter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ), text_pairs AS (
        SELECT id_a, id_b FROM tinter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE inter / (sa.n_sh + sb.n_sh - inter) >= '{_Q263_JACCARD}'::DOUBLE
    ), grids AS (
        SELECT doc_id AS id,
               list_transform(range(0, {cells}), k -> {lum}) AS lums
        FROM (SELECT doc_id, {toks} AS ws FROM surv)
    ), fp AS MATERIALIZED (
        SELECT id, ({bits}) AS simhash FROM grids
    ), image_pairs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM fp a JOIN fp b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {_Q284_MAX_HAMMING}
    ), framed AS MATERIALIZED (
        SELECT DISTINCT doc_id, (('0x' || substr(md5(fs), 1, 15))::BIGINT) AS fh
        FROM (
            SELECT doc_id, unnest(list_filter([{frames}], s -> s != '')) AS fs
            FROM surv)
    ), ffreq AS (
        SELECT fh, COUNT(*) AS df FROM framed GROUP BY fh
    ), fcapped AS MATERIALIZED (
        SELECT doc_id, framed.fh FROM framed
        JOIN ffreq ON ffreq.fh = framed.fh
        WHERE df <= {_Q291_MAXF}
    ), video_pairs AS (
        SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
            FROM fcapped a JOIN fcapped b
              ON a.fh = b.fh AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        WHERE n_shared >= {_Q291_MIN_SHARED}
    ), all_pairs AS (
        SELECT id_a, id_b FROM text_pairs
        UNION
        SELECT id_a, id_b FROM image_pairs
        UNION
        SELECT id_a, id_b FROM video_pairs
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM all_pairs
        UNION
        SELECT id_b AS a, id_a AS b FROM all_pairs
    ), reach AS (
        SELECT a AS id, a AS lab FROM edges
        UNION
        SELECT e.a AS id, r.lab AS lab FROM edges e JOIN reach r ON r.id = e.b
    ), comp AS (
        SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id
    ), keyed AS (
        SELECT dd.source, dd.doc_id, rp.passed,
               COALESCE(c.cluster_id, dd.doc_id) AS cluster_id
        FROM documents dd
        JOIN rp ON rp.doc_id = dd.doc_id
        LEFT JOIN comp c ON c.id = dd.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN NOT passed THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quality_failed,
           CAST(SUM(CASE WHEN passed AND doc_id != cluster_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup_removed,
           CAST(SUM(CASE WHEN passed AND doc_id = cluster_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN passed AND doc_id = cluster_id
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS kept_rate
    FROM keyed
    GROUP BY source
    ORDER BY source
    """


ORACLE["q298_multimodal_funnel"] = _q298_oracle()


# ---------------------------------------------------------------------------
# Q299 — incremental vector ADMISSION into the cell-partitioned
# store (the ingest side completing the storage lifecycle: q250
# builds, q299 adds, q289 merges signatures, q293/q297 delete):
# a new batch (40-bit md5 uniform of vec_id mod 5 == 0, ~20%)
# assigns cells with the SAME fixed centroids the store was built
# with (assignment is corpus-independent — the property that makes
# append-only ingest correct without reclustering) and APPENDS to
# the store: only the batch's cells gain files, existing files are
# untouched (the log-structured property q294 grades for postings).
# Graded end-to-end: top-3 cosine search over the read-back gen-2
# store ≡ searching the full source table (the oracle never splits);
# audit constants: n_base, n_added, n_cells_touched. Scale: ingest
# cost is |batch| rows shuffled to its ≤ K cells — never a store
# rewrite, never a recluster.
# ---------------------------------------------------------------------------

_Q299_MOD = 5
_Q299_PICK = 0


def q299_vector_store_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ai_data_pipeline_spark.functions.vector import cosine
    from ai_data_pipeline_spark.operators import similarity
    from ai_data_pipeline_spark.operators.vectorized import ivf_assign_np
    from ai_data_pipeline_spark.plans.constants import Q27_QUERY_VECS, Q28_CENTROIDS

    emb = _t(spark, sf_dir, "embeddings")
    corpus = ivf_assign_np(emb, Q28_CENTROIDS).select("vec_id", "embedding", "cell")
    u40 = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    is_new = F.pmod(u40, F.lit(_Q299_MOD)) == _Q299_PICK

    tmp = tempfile.mkdtemp(prefix="q299_")
    path = tmp + "/vectors_by_cell"
    try:
        base = corpus.filter(~is_new)
        batch = corpus.filter(is_new)
        base.repartition("cell").write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(path)
        # the admission: append-only — existing cell files untouched
        batch.repartition("cell").write.mode("append").partitionBy(
            "cell"
        ).parquet(path)
        store = spark.read.parquet(path)

        audit = (
            corpus.agg(
                F.sum((~is_new).cast("int")).cast("long").alias("n_base"),
                F.sum(is_new.cast("int")).cast("long").alias("n_added"),
                F.count_distinct(F.when(is_new, F.col("cell"))).cast("long")
                .alias("n_cells_touched"),
            )
            .collect()[0]
        )
        queries = similarity.queries_df(spark, Q27_QUERY_VECS)
        cand = store.crossJoin(F.broadcast(queries)).select(
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
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    out = spark.createDataFrame(top, "qid long, rk long, vec_id long, sim double")
    return (
        out.withColumn("n_base", F.lit(int(audit["n_base"])).cast("long"))
        .withColumn("n_added", F.lit(int(audit["n_added"])).cast("long"))
        .withColumn(
            "n_cells_touched", F.lit(int(audit["n_cells_touched"])).cast("long")
        )
        .orderBy("qid", "rk")
    )


QUERIES["q299_vector_store_admission"] = q299_vector_store_admission


# Oracle: the full-table search — the split, both writes, and the
# append must be value-invisible; audit recomputed from the same
# md5 split + centroid assignment.
def _q299_oracle() -> str:
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
                    % {_Q299_MOD} = {_Q299_PICK}) AS is_new,
               struct_extract((list_sort([{cells}]))[1], 'c') AS cell
        FROM embeddings
    ), audit AS (
        SELECT CAST(SUM(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
               CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
               CAST(COUNT(DISTINCT CASE WHEN is_new THEN cell END) AS BIGINT)
                   AS n_cells_touched
        FROM flags
    ), ranked AS (
        SELECT q.qid, a.vec_id, {cos} AS sim,
               ROW_NUMBER() OVER (
                   PARTITION BY q.qid
                   ORDER BY {cos} DESC, a.vec_id) AS rk
        FROM flags a CROSS JOIN (VALUES {qrows}) AS q(qid, qvec)
    )
    SELECT CAST(qid AS BIGINT) AS qid, CAST(rk AS BIGINT) AS rk,
           vec_id, sim, d.n_base, d.n_added, d.n_cells_touched
    FROM ranked CROSS JOIN audit d
    WHERE rk <= 3
    ORDER BY qid, rk
    """


ORACLE["q299_vector_store_admission"] = _q299_oracle()
