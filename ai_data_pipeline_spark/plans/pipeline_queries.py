"""LLM-data-pipeline query set: SURVEY.md §2B Q19–Q22 plus the
scale-path operator family (dedup, similarity search, text analysis,
as-of/session/streaming-shaped analytics, multimodal plumbing).

Same oracle-parity discipline as relational.py: identical aliases,
identical per-row arithmetic (doubles emitted raw — see the policy
header there), integer aggregation where accumulation order could
matter. Queries with no SQL-expressible twin (custom hash families,
pandas-UDF pipelines) have no ORACLE entry — the driver records a
rows-only check and the pytest goldens pin their semantics instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import (
    load_events,
    load_table,
    normalize_event_time,
    spread,
)
from ai_data_pipeline_spark.functions.text import (
    BPE_ISH_PATTERN,
    WS,
    normalized_text,
    token_count_bpe_ish,
    token_count_ws,
    word_ngrams,
    ws_tokens,
)
from ai_data_pipeline_spark.functions.vector import (
    array_lit,
    cosine,
    sql_dot,
    sql_lit_list,
    sql_norm,
    sql_squared_l2,
    squared_l2,
)
from ai_data_pipeline_spark.operators import dedup, similarity
from ai_data_pipeline_spark.operators.curation import (
    PII_EMAIL as _PII_EMAIL,
    PII_PHONE as _PII_PHONE,
    assign_split,
    gap_fill_hourly,
    mask_pii,
    pii_counts,
    rolling_median_int,
    segment_dedup_stats,
    url_domain,
)
from ai_data_pipeline_spark.operators.asof import asof_join_union, sessionize
from ai_data_pipeline_spark.operators.chunker import chunk_documents, chunk_pipeline_python
from ai_data_pipeline_spark.operators.multimodal import extract_blob_meta, to_blob_table
from ai_data_pipeline_spark.operators.text_analysis import LANG_STOPWORDS
from ai_data_pipeline_spark.plans.constants import (
    EMBED_DIM,
    Q19_QUERY_VEC,
    Q22_QUERY_VECS,
    Q22_SENTINEL,
    Q22_THRESHOLD,
    Q27_QUERY_VECS,
    Q28_CENTROIDS,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _drain_memory_sink(df: DataFrame, name: str) -> DataFrame:
    """Materialize a post-sink frame and DROP the uuid-named memory
    sink view it reads from.

    The streaming oracle queries (q41/q52/q73/q74/q95) replay a finite
    corpus into a ``format("memory")`` sink; that sink table is
    SESSION-GLOBAL, so returning a frame that lazily reads it would
    leak one in-memory table per invocation in a long-lived session.
    Memory sinks are driver-resident by construction, so the collect
    here moves rows the driver already holds — it does not change the
    scale class. Production streaming goes through the
    ``streaming/pipelines.py`` file/foreachBatch sinks, never this
    shape.
    """
    spark = df.sparkSession
    rows = df.collect()
    schema = df.schema
    spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# Q19 — exact squared-L2 distance to a constant query vector, top-5
# (R17 semantics over the embeddings table).
# ---------------------------------------------------------------------------

def q19_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.withColumn("dist", squared_l2("embedding", array_lit(Q19_QUERY_VEC)))
        .orderBy(F.asc("dist"), F.asc("vec_id"))
        .select("vec_id", "label", "dist")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# Q20 — exact-duplicate profile of the documents table (hash groupBy;
# the shuffle carries 16-byte digests, not documents).
# ---------------------------------------------------------------------------

def q20_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        dedup.exact_dup_stats(docs, "text", "source")
        .withColumnRenamed("grp", "source")
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q21 — chunker parity (R2→R3→R4). The recursive greedy merge is not
# SQL-expressible, so the oracle twin is the PURE-PYTHON golden
# (chunk_pipeline_python — the same function the Spark pipeline is
# golden+property-tested against in tests/test_chunker.py) evaluated
# over the graded corpora and emitted as a VALUES table, branch-
# selected by a corpus content signature. See q21_oracle() below —
# same driver-side-math precedent as q28/q38's rows-only→oracle
# upgrade in r02.
# ---------------------------------------------------------------------------

def q21_chunker(spark: SparkSession, sf_dir: str) -> DataFrame:
    # chunking is CPU-bound per row; rebalance the 1-row-group scan
    docs = spread(_t(spark, sf_dir, "documents"))
    chunks = chunk_documents(docs, "doc_id", "text", page_chars=200, chunk_size=300, chunk_overlap=60)
    return (
        chunks.select(
            "doc_id",
            "window_index",
            "subchunk_index",
            F.length("chunk_text").cast("long").alias("n_chars"),
            F.md5(F.col("chunk_text").cast("binary")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "window_index", "subchunk_index")
    )


# The graded sf dirs (driver oracle runs at sf0.01; the local sweep
# also runs sf0.001). sf0.1 is bench-only — bench never evaluates
# oracles, so its golden isn't materialized (it would add ~6 s and
# ~700 KB of VALUES to every oracle_sql() call for nothing).
_Q21_GOLDEN_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")
_q21_oracle_cache: str | None = None


def q21_oracle() -> str | None:
    """Golden-VALUES oracle twin for q21_chunker.

    Runs the pure-Python golden pipeline over each graded corpus and
    emits one VALUES CTE per corpus; the live branch is selected by a
    content signature (``SUM(length(text))``) computed by DuckDB
    itself, so a single static SQL string is correct at every graded
    sf dir even though the dirs share a row count. Returns None when
    no graded corpus is present (foreign environments) — the query
    then stays rows-only instead of erroring.
    """
    global _q21_oracle_cache
    if _q21_oracle_cache is not None:
        return _q21_oracle_cache
    import hashlib
    import os

    import duckdb

    branches: list[tuple[int, list[str]]] = []
    for d in _Q21_GOLDEN_DIRS:
        path = os.path.join(d, "documents.parquet")
        if not os.path.exists(path):
            continue
        con = duckdb.connect()
        sig = con.sql(
            f"SELECT COALESCE(SUM(length(text)), 0) FROM read_parquet('{path}')"
        ).fetchone()[0]
        rows = con.sql(f"SELECT doc_id, text FROM read_parquet('{path}')").fetchall()
        con.close()
        vals = []
        for doc_id, text in rows:
            for w, s, chunk in chunk_pipeline_python(
                text or "", page_chars=200, chunk_size=300, chunk_overlap=60
            ):
                digest = hashlib.md5(chunk.encode("utf-8")).hexdigest()
                vals.append(f"({doc_id}, {w}, {s}, {len(chunk)}, '{digest}')")
        if vals:
            branches.append((int(sig), vals))
    if not branches:
        return None
    sigs = [s for s, _ in branches]
    if len(set(sigs)) != len(sigs):
        raise ValueError(f"q21 oracle: corpora share a content signature: {sigs}")
    ctes = ["sig AS (SELECT COALESCE(SUM(length(text)), 0) AS s FROM documents)"]
    selects = []
    cols = "doc_id, window_index, subchunk_index, n_chars, chunk_md5"
    for i, (s, vals) in enumerate(branches):
        ctes.append(f"g{i}({cols}) AS (VALUES {', '.join(vals)})")
        selects.append(f"SELECT {cols} FROM g{i} WHERE (SELECT s FROM sig) = {s}")
    _q21_oracle_cache = (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY doc_id, window_index, subchunk_index"
    )
    return _q21_oracle_cache


# ---------------------------------------------------------------------------
# Q22 — the reference's retrieval query (R15→R17→R18→R19): 1-NN per
# query vector with threshold rejection; answer = label (string) or
# the sentinel. Strict > rejects; == threshold accepted
# (rag_chatbot/main.py:42).
# ---------------------------------------------------------------------------

def q22_knn_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = similarity.queries_df(spark, Q22_QUERY_VECS)
    return (
        similarity.knn_l2_with_threshold(
            emb, queries, threshold=Q22_THRESHOLD, sentinel=Q22_SENTINEL, answer_col="label"
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# Q23 — n-gram Jaccard near-dup: top-20 most similar document pairs
# by word-4-gram Jaccard. Join key is the shingle hash (content-
# derived colocation); pairs deterministic via (jaccard desc, ids).
# n=4 matters at scale: short shingles on a small vocabulary make
# nearly every doc pair collide (measured: bigrams at sf0.1 → 10M
# candidate pairs ≈ all-pairs; 4-grams only pair docs with real
# shared phrases — the standard near-dup shingle length).
# ---------------------------------------------------------------------------

# A shingle occurring in f docs contributes f² rows to the self-join;
# at 100× scale one boilerplate phrase is a skew bomb. Cap engaged here
# (and mirrored in the oracle SQL): shingles in > Q23_MAX_SHINGLE_FREQ
# docs are dropped before the join. Near-dup pairs share RARE shingles,
# so recall on true near-dups is unaffected; the candidate-pair bound
# becomes Σ min(f, cap)² instead of Σ f².
Q23_MAX_SHINGLE_FREQ = 50


def q23_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shingling (tokenize + slide + hash) is the CPU hot spot and runs
    # in the scan stage — rebalance so it parallelizes
    docs = spread(_t(spark, sf_dir, "documents"))
    return (
        dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=4, max_shingle_freq=Q23_MAX_SHINGLE_FREQ
        )
        .orderBy(F.desc("jaccard"), F.asc("id_a"), F.asc("id_b"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q24 — MinHash+LSH near-dup candidates. The hash family is
# md5-derived (md5_hash60(shingle, seed)), so the ENTIRE pipeline —
# per-seed MIN signatures, banding, candidate join, exact-Jaccard
# verification — is recomputed by the DuckDB oracle twin below: the
# hashed driver row checks LSH's false negatives too, not just the
# surviving pairs. Output is the LSH-verified pair list at 3-gram
# Jaccard ≥ 0.6.
# ---------------------------------------------------------------------------

def q24_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # word-3-gram shingles, 32 hashes in 8 bands of 4: the banding
    # threshold (1/b)^(1/r) ≈ 0.59 sits AT the 0.6 verification
    # cutoff. Unigram shingles are a trap here — common vocabulary
    # makes typical cross-doc Jaccard ~0.4, so banding passes
    # O(corpus²) candidates; 3-grams push unrelated pairs toward 0
    # and the candidate set collapses to near-dups + ε.
    docs = spread(_t(spark, sf_dir, "documents"))
    return (
        dedup.minhash_neardup_pairs(docs, "doc_id", "text", n=3, num_hashes=32, bands=8, min_jaccard=0.6)
        .orderBy(F.desc("jaccard"), F.asc("id_a"), F.asc("id_b"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Q25 — SimHash near-dup (md5_hash60 bit family → full SQL twin: the
# oracle rebuilds the 60 per-bit weighted sums and verifies by exact
# all-pairs popcount, which equals the blocked output because segment
# blocking has exact recall by pigeonhole). max_hamming=3 is the
# sound blocking regime (4×15-bit segments); looser bounds make
# segment blocking degenerate toward all-pairs — see
# simhash_neardup_pairs.
# ---------------------------------------------------------------------------

def q25_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(_t(spark, sf_dir, "documents"))
    sims = dedup.simhash(docs, "doc_id", "text")
    pairs = dedup.simhash_neardup_pairs(sims, max_hamming=3)
    return pairs.orderBy(F.asc("hamming"), F.asc("id_a"), F.asc("id_b")).limit(50)


# ---------------------------------------------------------------------------
# Q26 — embedding-cosine near-dup: top-20 most similar embedding
# pairs via the blocked numpy all-pairs kernel with per-block-pair
# top-k pushdown (operators/vectorized.py). Expression-based pair
# evaluation falls out of codegen at d=64 and interprets (~40 µs per
# pair — measured 82 s for 2M pairs); the kernel is bit-exact with it
# and with the SQL twin (left-to-right accumulation), parity-tested.
# ---------------------------------------------------------------------------

def q26_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.vectorized import cosine_pairs_np

    emb = _t(spark, sf_dir, "embeddings")
    return (
        cosine_pairs_np(emb, id_col="vec_id", pair_topk=20)
        .orderBy(F.desc("sim"), F.asc("id_a"), F.asc("id_b"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q27 — similarity search baseline: brute-force cosine top-3 for 5
# fixed query vectors (broadcast query side, corpus stays put).
# ---------------------------------------------------------------------------

def q27_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.vectorized import cosine_topk_np

    emb = _t(spark, sf_dir, "embeddings")
    queries = similarity.queries_df(spark, Q27_QUERY_VECS)
    return cosine_topk_np(emb, queries, k=3).orderBy("qid", "rk")


# ---------------------------------------------------------------------------
# Q28 — IVF ANN: deterministic 8-centroid inverted file, probe 2
# cells, exact cosine top-3 within probed cells. The scale path for
# Q27 (prunes the corpus scan to nprobe/n_cells).
# ---------------------------------------------------------------------------

def q28_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.vectorized import (
        ivf_assign_np,
        ivf_search_cosine_np,
    )

    emb = _t(spark, sf_dir, "embeddings")
    corpus = ivf_assign_np(emb, Q28_CENTROIDS)
    queries = similarity.queries_df(spark, Q27_QUERY_VECS)
    return ivf_search_cosine_np(corpus, queries, Q28_CENTROIDS, k=3, nprobe=2).orderBy(
        "qid", "rk"
    )


# ---------------------------------------------------------------------------
# Q29 — language/text profile per lang: ratio-of-sums (exact integer
# sums → order-independent), not avg-of-ratios.
# ---------------------------------------------------------------------------

def q29_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(_t(spark, sf_dir, "documents"))
    toks = ws_tokens("text")
    en = LANG_STOPWORDS["en"]
    per_doc = docs.select(
        "lang",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.filter(toks, lambda w: w.isin(*en))).cast("long").alias("n_stop"),
        F.length("text").cast("long").alias("n_chars"),
        (F.length("text") - F.length(F.regexp_replace(F.col("text"), rf"[^\w{WS}]", "")))
        .cast("long")
        .alias("n_punct"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tokens"),
            F.sum("n_stop").alias("stop_hits"),
            F.sum("n_chars").alias("chars"),
            F.sum("n_punct").alias("punct"),
        )
        .select(
            "lang",
            "n_docs",
            "tokens",
            (F.col("stop_hits") / F.col("tokens")).alias("stop_ratio"),
            (F.col("punct") / F.col("chars")).alias("punct_ratio"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Q30 — quality scoring: per-document features and a composite score,
# top-20. All per-row arithmetic (identical on both engines).
# ---------------------------------------------------------------------------

def q30_quality_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    n_tok = F.size(toks).cast("long")
    tok_chars = F.aggregate(
        F.transform(toks, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    en = LANG_STOPWORDS["en"]
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*en))).cast("long")
    scored = docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.when(n_tok > 0, tok_chars / n_tok).otherwise(F.lit(0.0)).alias("avg_token_len"),
        F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0)).alias("stop_ratio"),
    ).withColumn(
        "quality",
        F.col("n_tokens") * 0.01 + F.col("avg_token_len") * 1.0 + F.col("stop_ratio") * 5.0,
    )
    return scored.orderBy(F.desc("quality"), F.asc("doc_id")).limit(20)


# ---------------------------------------------------------------------------
# Q31 — token counting per source: whitespace + BPE-ish regex.
# ---------------------------------------------------------------------------

def q31_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "source",
            token_count_ws("text").alias("t_ws"),
            token_count_bpe_ish("text").alias("t_bpe"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("t_ws").alias("tokens_ws"),
            F.sum("t_bpe").alias("tokens_bpe"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q32 — document fingerprinting: md5 of normalized text + 16-way
# shard bucket (the partitioned-dedup key at scale).
# ---------------------------------------------------------------------------

def q32_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(normalized_text("text").cast("binary"))
    return (
        docs.select(
            "doc_id",
            fp.alias("fp"),
            F.conv(F.substring(fp, 1, 1), 16, 10).cast("long").alias("bucket"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q33 — as-of join: each purchase matched to the user's latest
# preceding view (exact ns-epoch comparison; DuckDB twin uses its
# native ASOF JOIN). Uses the union-then-window recipe
# (operators/asof.py:asof_join_union): strictly linear — one shuffle of
# |purchases|+|views| rows on user_id, no |purchases|×|views-per-user|
# join blowup for hot users (the join-based form is quadratic per key).
# ---------------------------------------------------------------------------

def q33_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_ns"
    )
    views = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"), F.col("user_id"), F.col("ts_ns")
    )
    out = asof_join_union(
        purchases,
        views,
        key="user_id",
        left_time="ts_ns",
        right_time="ts_ns",
    )
    return out.select("event_id", "user_id", F.col("r_view_event_id").alias("view_event_id")).orderBy(
        "event_id"
    )


# ---------------------------------------------------------------------------
# Q34 — sessionization (batch): 30-minute gap sessions per user on
# exact ns timestamps; one window pass, one shuffle on user_id.
# ---------------------------------------------------------------------------

def q34_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    s = sessionize(e, key="user_id", time_col="ts_ns", gap=30 * 60 * 1_000_000_000)
    return (
        s.groupBy("user_id")
        .agg(
            F.max("session_id").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Q35 — tumbling-window aggregation (the batch twin of the streaming
# windowed count; see streaming/pipelines.py for the readStream
# version with watermarking). Window start emitted as epoch seconds —
# timezone-proof on both engines.
# ---------------------------------------------------------------------------

def q35_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    v4 = F.round(F.col("value") * 10000, 0).cast("long")  # exact 4-dec units
    return (
        e.withColumn("v4", v4)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v4").alias("sv4"))
        .select(
            F.col("w.start").cast("long").alias("wstart_s"),
            "event_type",
            "n",
            (F.col("sv4") / 10000.0).alias("sum_value"),
        )
        .orderBy("wstart_s", "event_type")
    )


# ---------------------------------------------------------------------------
# Q36 — multimodal plumbing: documents as opaque blobs → mapInPandas
# metadata extraction (byte length, digest, fake-decoded dimensions).
# The oracle reproduces the fake decode arithmetic in SQL, proving
# the Arrow round-trip is byte-exact.
# ---------------------------------------------------------------------------

def q36_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(_t(spark, sf_dir, "documents"))
    blobs = to_blob_table(docs, "doc_id", "text", "image")
    return (
        extract_blob_meta(blobs)
        .select("id", "n_bytes", "digest", "width", "height", "status")
        .orderBy("id")
    )


# ---------------------------------------------------------------------------
# Q37 — language identification: the lang_id heuristic (argmax
# stopword hits, ties → first language code alphabetically, 'und' on
# zero hits) against the table's labeled lang, as a confusion count.
# ---------------------------------------------------------------------------

def q37_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.text_analysis import lang_id

    # lang_id evaluates 5 stopword filters per row — CPU-bound
    docs = spread(_t(spark, sf_dir, "documents"))
    return (
        docs.select("lang", lang_id("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


# ---------------------------------------------------------------------------
# Q38 — random-hyperplane LSH ANN (approximate by construction → no
# SQL twin; bucket/probe semantics unit-tested, driver rows-only).
# ---------------------------------------------------------------------------

def q38_rp_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.vectorized import rp_lsh_ann
    from ai_data_pipeline_spark.plans.constants import Q38_PLANES

    emb = _t(spark, sf_dir, "embeddings")
    queries = similarity.queries_df(spark, Q27_QUERY_VECS)
    return rp_lsh_ann(emb, queries, Q38_PLANES, k=3).orderBy("qid", "rk")


# ---------------------------------------------------------------------------
# Q40 — audio-modality plumbing: documents as opaque audio blobs →
# mapInPandas feature extraction (deterministic fake decode, integer
# features). The oracle reproduces the md5 arithmetic in SQL exactly
# like q36 does for image dimensions.
# ---------------------------------------------------------------------------

def q40_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.multimodal import extract_audio_features

    docs = spread(_t(spark, sf_dir, "documents"))
    blobs = to_blob_table(docs, "doc_id", "text", "audio")
    return (
        extract_audio_features(blobs)
        .select("id", "duration_ms", "sample_rate", "n_channels", "n_bytes")
        .orderBy("id")
    )


# ---------------------------------------------------------------------------
# Q41 — Structured Streaming tumbling windows, oracle-checked: the
# events table replayed through a file-source STREAM (readStream →
# windowed agg → memory sink, complete mode), then compared against
# the same DuckDB SQL as the batch twin q35. Proves the streaming
# engine computes the identical result, not just a plausible one.
# Complete mode (no watermark) because the input is finite history —
# the watermarked production shape is streaming.tumbling_event_counts
# (golden-tested with late data in tests/test_streaming.py).
# ---------------------------------------------------------------------------

def q41_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # file streams take a directory; the glob narrows it to events
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    e = normalize_event_time(raw)
    agg = (
        e.withColumn("v4", F.round(F.col("value") * 10000, 0).cast("long"))
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v4").alias("sv4"))
        .select(
            F.col("w.start").cast("long").alias("wstart_s"),
            "event_type",
            "n",
            (F.col("sv4") / 10000.0).alias("sum_value"),
        )
    )
    name = f"q41_{_uuid.uuid4().hex[:8]}"
    q = agg.writeStream.format("memory").queryName(name).outputMode("complete").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return _drain_memory_sink(spark.table(name), name).orderBy(
        "wstart_s", "event_type"
    )


# ---------------------------------------------------------------------------
# Q46 — deterministic hash sampling: keep documents whose md5 first
# hex digit is 0 (a stable 1/16 sample). Content-derived, so the
# sample is identical across runs, partition layouts, and cluster
# sizes — unlike df.sample(), which depends on partition seeds. At
# 100 TB this is the recipe for "develop on 1/16th, then flip the
# predicate off": a narrow filter evaluated at the scan, no shuffle.
# ---------------------------------------------------------------------------

def q46_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    h = F.md5(F.col("text").cast("binary"))
    return (
        docs.filter(F.substring(h, 1, 1) == F.lit("0"))
        .select("doc_id", "source", "lang", "n_chars")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q61 — stratified deterministic sampling: per-language rates (en is
# over-represented → keep 1/4; others keep 1/2) via the md5 first
# byte against a per-stratum threshold. Content-derived like q46, so
# reproducible anywhere; unlike df.sampleBy, independent of
# partitioning and seed plumbing. Output: per-lang kept counts.
# ---------------------------------------------------------------------------

def q61_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    b0 = (
        F.conv(F.substring(F.md5(F.col("text").cast("binary")), 1, 2), 16, 10)
        .cast("long")
    )
    threshold = F.when(F.col("lang") == "en", 64).otherwise(128)
    return (
        docs.withColumn("_b0", b0)
        .withColumn("kept", (F.col("_b0") < threshold).cast("int"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").cast("long").alias("n_kept"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Q48 — keep-first exact dedup (the policy variant of q20's profile):
# one survivor per normalized-text digest, lowest doc_id wins, via
# operators/dedup.exact_dedup. The oracle reproduces the row_number
# tie-break over the same digest. Scale: the shuffle carries 16-byte
# digests + ids; survivors join back by position-free key, so the
# full text never moves twice.
# ---------------------------------------------------------------------------

def q48_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").withColumn("_norm", normalized_text("text"))
    from ai_data_pipeline_spark.operators.dedup import exact_dedup

    kept = exact_dedup(docs, ["_norm"], "doc_id")
    return kept.select("doc_id", "source", "lang").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Q62 — the composed training pipeline, hash-checked end-to-end:
# documents → LATERAL chunk (native Python UDTF, 200-char windows,
# 40 overlap) → per-chunk embedding (pandas-UDF encoder) → cosine vs
# an embedded query → per-doc chunk count + best-chunk similarity.
# The oracle recomputes chunking (substr arithmetic mirroring the
# UDTF's early-stop: a chunk that reaches the end is the last), the
# md5-derived embeddings AND the cosine in SQL — one hash checks the
# whole chunk→embed→score path. Scale: UDTF fan-out and encode are
# the two Python stages, both Arrow-batched; scoring and the agg are
# JVM expressions; shuffle carries (doc_id, scalar) only.
# ---------------------------------------------------------------------------

def q62_chunk_embed_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    from ai_data_pipeline_spark.operators.embedding import embed_text, fake_text_encoder
    from ai_data_pipeline_spark.operators.udtf_ops import register_udtfs
    from ai_data_pipeline_spark.plans.constants import Q49_QUERY_TEXT

    register_udtfs(spark)
    view = f"q62_docs_{_uuid.uuid4().hex[:8]}"
    spread(_t(spark, sf_dir, "documents")).createOrReplaceTempView(view)
    chunks = spark.sql(
        f"""
        SELECT doc_id, c.chunk_index, c.chunk_text
        FROM {view}, LATERAL fixed_window_chunks(text, 200, 40) c
        """
    )
    emb = embed_text(chunks, "chunk_text")
    qvec = fake_text_encoder([Q49_QUERY_TEXT])[0]
    # HOF cosine: per-chunk scoring (see q49's note on the codegen
    # compile cost of the unrolled form in UDF stages)
    scored = emb.withColumn(
        "cos", cosine(F.col("embedding"), array_lit(qvec), None)
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_chunks"), F.max("cos").alias("best_cos"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q63 — sliding windows (batch): hourly windows sliding every 30
# minutes over events — each event lands in exactly 2 overlapping
# windows (window/slide). Spark explodes window instances before the
# agg; the oracle generates the same 2 starts per event explicitly.
# Same shape as the streaming sliding_event_counts (golden-tested);
# this pins the window-instance arithmetic against DuckDB.
# ---------------------------------------------------------------------------

def q63_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    ev = e.withColumn("ts_us", F.timestamp_micros(F.expr("ts_ns div 1000")))
    return (
        ev.groupBy(
            F.window("ts_us", "1 hour", "30 minutes").alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("long").alias("wstart_s"),
            "event_type",
            "n",
        )
        .orderBy("wstart_s", "event_type")
    )


# ---------------------------------------------------------------------------
# Q64 — higher-order array functions over embeddings: transform /
# filter / exists / aggregate in one pass per row (component count
# above zero, clipped-sum via transform+aggregate, any-negative
# flag). Everything stays inside codegen'd array expressions; the
# agg shuffle carries four scalars per row group.
# ---------------------------------------------------------------------------

def q64_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    n_pos = F.size(F.filter(v, lambda x: x > 0)).cast("long")
    clipped_sum = F.aggregate(
        F.transform(v, lambda x: F.greatest(x.cast("double"), F.lit(0.0))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    has_neg = F.exists(v, lambda x: x < 0)
    return (
        emb.select("label", n_pos.alias("n_pos"), clipped_sum.alias("cs"), has_neg.alias("hn"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("n_pos").alias("total_pos"),
            F.max("cs").alias("max_clipped_sum"),
            F.sum(F.when(F.col("hn"), 1).otherwise(0)).cast("long").alias("n_with_neg"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Q67 — sessionized conversion: 30-min-gap sessions (the q34
# operator) × funnel semantics (q59) — a session converts if it
# contains a view followed by a purchase. Two shuffles total: the
# session window on user_id, then the per-session agg reuses the
# same partitioning (no extra exchange — session_id nests in
# user_id).
# ---------------------------------------------------------------------------

def q67_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    s = sessionize(e, key="user_id", time_col="ts_ns", gap=30 * 60 * 1_000_000_000)
    per_sess = s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts_ns"))).alias("t_view"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts_ns"))).alias("t_purch"),
    )
    conv = (
        F.col("t_view").isNotNull()
        & F.col("t_purch").isNotNull()
        & (F.col("t_purch") > F.col("t_view"))
    )
    return per_sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(conv, 1).otherwise(0)).cast("long").alias("n_converted"),
        F.max("n_events").alias("max_events"),
    )


# ---------------------------------------------------------------------------
# Q74 — streaming sessionization, oracle-checked: stream replay →
# session_window(30 min gap) per user → memory sink (complete mode),
# then per-user session/event counts batch-side — hash-matched
# against q34's batch SQL. Boundary note: session_window treats an
# event at exactly last+gap as a NEW session while the batch oracle
# uses strict >; they agree unless a consecutive pair lands within
# 1µs of exactly 30min (absent in the testdata, and vanishingly rare
# on real ns timestamps).
# ---------------------------------------------------------------------------

def q74_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    e = normalize_event_time(raw)
    sess = (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_ev"))
    )
    name = f"q74_{_uuid.uuid4().hex[:8]}"
    q = sess.writeStream.format("memory").queryName(name).outputMode("complete").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    agg = (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("n_ev").alias("n_events"),
        )
    )
    return _drain_memory_sink(agg, name).orderBy("user_id")


# ---------------------------------------------------------------------------
# Q73 — streaming SLIDING windows, oracle-checked (q41's tumbling
# twin): file-source stream replay → 1h windows every 30min → memory
# sink, complete mode — hash-matched against the same DuckDB SQL as
# batch q63. Proves overlapping window-instance assignment is
# identical in the micro-batch engine.
# ---------------------------------------------------------------------------

def q73_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    e = normalize_event_time(raw)
    agg = (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("long").alias("wstart_s"), "event_type", "n")
    )
    name = f"q73_{_uuid.uuid4().hex[:8]}"
    q = agg.writeStream.format("memory").queryName(name).outputMode("complete").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return _drain_memory_sink(spark.table(name), name).orderBy(
        "wstart_s", "event_type"
    )


# ---------------------------------------------------------------------------
# Q72 — video-modality plumbing (completing the modality triple with
# q36 image / q40 audio): blob table → frame-sample plan (explode of
# the sampling schedule — every 30th frame, 8 frames) → per-frame
# fake luminance from md5(text:frame_no), aggregated per doc. The
# oracle regenerates the schedule and the md5 arithmetic in SQL.
# Scale: the fan-out is an explode (narrow); per-frame decode would
# be the mapInPandas seam (resize_blobs) — the schedule and agg
# shapes are what's pinned here.
# ---------------------------------------------------------------------------

def q72_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.multimodal import frame_sample_plan

    docs = _t(spark, sf_dir, "documents")
    blobs = to_blob_table(docs, "doc_id", "text", "video")
    frames = frame_sample_plan(blobs, every_n=30, max_frames=8)
    keyed = frames.join(docs.select(F.col("doc_id").alias("id"), "text"), "id")
    # fake per-frame luminance: first md5 byte of "text:frame_no"
    h = F.md5(F.concat(F.col("text"), F.lit(":"), F.col("frame_no").cast("string")))
    lum = F.conv(F.substring(h, 1, 2), 16, 10).cast("long")
    return (
        keyed.withColumn("lum", lum)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.min("lum").alias("min_lum"),
            F.max("lum").alias("max_lum"),
            F.sum("lum").alias("sum_lum"),
        )
        .orderBy("id")
    )


# ---------------------------------------------------------------------------
# Q71 — char-n-gram language-ID (the second heuristic next to q37's
# stopword argmax): occurrence counts of characteristic character
# n-grams, confusion matrix vs the labeled lang. Catches no-space
# scripts and stopword-free text; same zero-shuffle scan-stage
# profile as q37.
# ---------------------------------------------------------------------------

def q71_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.text_analysis import lang_id_ngram

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", lang_id_ngram("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


# ---------------------------------------------------------------------------
# Q59 — funnel analysis: per-user ordered signup → view → purchase
# progression (a stage counts only if its first occurrence is after
# the previous stage's). One shuffle on user_id; conditional MIN
# aggregates are map-side combinable, so the exchange carries three
# ns-longs per user regardless of event volume.
# ---------------------------------------------------------------------------

def q59_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    first_ts = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts_ns")))  # noqa: E731
    per_user = e.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("view").alias("t_view"),
        first_ts("purchase").alias("t_purchase"),
    )
    s1 = F.col("t_signup").isNotNull()
    s2 = s1 & F.col("t_view").isNotNull() & (F.col("t_view") > F.col("t_signup"))
    s3 = s2 & F.col("t_purchase").isNotNull() & (F.col("t_purchase") > F.col("t_view"))
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        cnt(s1).alias("n_signup"),
        cnt(s2).alias("n_signup_view"),
        cnt(s3).alias("n_signup_view_purchase"),
    )


# ---------------------------------------------------------------------------
# Q60 — cohort retention: users grouped by first-seen week, count of
# users from each cohort active in each later week. Two aggregations
# (first-seen per user, then cohort × week) — both shuffle narrow
# (user_id, then (cohort, week) longs). The week arithmetic is pure
# integer division on ns-epochs — identical on both engines.
# ---------------------------------------------------------------------------

def q60_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    week_ns = 7 * 86400 * 1_000_000_000
    weeks = e.select(
        "user_id", (F.col("ts_ns") - F.col("ts_ns") % week_ns).alias("week")
    ).distinct()
    cohort = weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        weeks.join(cohort, "user_id")
        .withColumn(
            "weeks_since",
            ((F.col("week") - F.col("cohort_week")) / F.lit(week_ns)).cast("long"),
        )
        .groupBy("cohort_week", "weeks_since")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_week", "weeks_since")
    )


# ---------------------------------------------------------------------------
# Q58 — VariantType JSON path (Spark 4): parse_json → variant_get,
# the shredded-JSON successor to q18's get_json_object. Variant
# parses once into a binary form; repeated path extraction doesn't
# re-parse the string — at 100 TB of semi-structured events that is
# the difference between one parse and one parse per extracted path.
# Aggregation identical to q18's oracle arithmetic.
# ---------------------------------------------------------------------------

def q58_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q57 — rule-based corpus filters (the regex side of quality/PII
# filtering; the scoring side is q30): per-source counts of docs
# matching each rule. Patterns are restricted to the RE2 ∩ Java
# common dialect (no backreferences/lookahead) so both engines
# compile them identically. Narrow scan + one agg shuffle.
# ---------------------------------------------------------------------------

def q57_rule_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            flag(F.col("text").rlike("[a-z]{8,}")).alias("n_longword"),
            flag(F.col("text").rlike("(^| )spark( |$)")).alias("n_has_spark"),
            flag(F.size(F.split(F.col("text"), " ")) > 60).alias("n_long_doc"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q56 — benchmark contamination: corpus docs (source ≠ src0) sharing
# ≥3 distinct word-4-grams with the synthetic benchmark set
# (source = src0). The benchmark shingle set broadcasts; the corpus
# is scanned once and never shuffled on content — the decontamination
# pass a training-data pipeline runs before every release.
# ---------------------------------------------------------------------------

def q56_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(_t(spark, sf_dir, "documents"))
    corpus = docs.filter(F.col("source") != "src0")
    benchmark = docs.filter(F.col("source") == "src0")
    return (
        dedup.shingle_overlap(corpus, benchmark, "doc_id", "text", n=4, min_overlap=3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q55 — map-type scalar functions: props JSON → map<string,bigint>,
# then map_keys/size/element_at, aggregated per event type. The
# map-typed twin of q18's get_json_object path — pins the map
# function family (§2B scalar fns — array/map). All JVM expressions;
# one agg shuffle.
# ---------------------------------------------------------------------------

def q55_map_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    m = F.from_json(F.col("props"), "map<string,bigint>")
    return (
        e.select(
            "event_type",
            F.size(F.map_keys(m)).cast("long").alias("n_keys"),
            F.element_at(m, "k").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("n_keys").alias("max_keys"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q54 — vocabulary stats: corpus-wide top-30 tokens by frequency
# (lowercased whitespace tokens), with doc-frequency alongside term
# frequency. Scale: explode → two-phase hash agg; the shuffle
# carries (token, partial counts) — partial aggregation collapses
# each executor's token multiset before the exchange, which for
# Zipf-distributed text shrinks the payload by orders of magnitude.
# Ties broken by token for a total order.
# ---------------------------------------------------------------------------

def q54_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("tf"), F.asc("tok"))
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Q52 — streaming dedup, oracle-checked: replay events through a
# file-source STREAM, dropDuplicates on (user_id, event_type) keeps
# the first-arriving row per pair (append mode), then the
# materialized sink is aggregated batch-side. The oracle is the
# batch COUNT(DISTINCT user_id) — equal because dedup keeps exactly
# one row per pair regardless of arrival order. Kept as one stateful
# op per stream (dedup); the count runs on the sink table — chaining
# stateful dedup+agg in one streaming query is restricted.
# Production shape: dropDuplicatesWithinWatermark bounds the state
# (tests/test_streaming.py); unbounded state is fine only for a
# finite replay like this.
# ---------------------------------------------------------------------------

def q52_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    dd = raw.select("user_id", "event_type").dropDuplicates(["user_id", "event_type"])
    name = f"q52_{_uuid.uuid4().hex[:8]}"
    q = dd.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    agg = (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    return _drain_memory_sink(agg, name).orderBy("event_type")


# ---------------------------------------------------------------------------
# Q49 — embedding transform + retrieval, end-to-end (R15→R17): embed
# every document with the pandas-UDF encoder (deterministic fake —
# real model plugs into the same seam), embed a fixed query text the
# same way, cosine top-10. The oracle recomputes the IDENTICAL
# vectors from the text via md5 arithmetic in SQL, so this
# hash-checks the whole embed→distance→top-k path, not just the
# distance math. Scale: encode is the compute-bound stage (spread
# upstream); the distance is codegen'd JVM expression — Python only
# touches the encode batch.
# ---------------------------------------------------------------------------

def q49_embed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.embedding import embed_text, fake_text_encoder
    from ai_data_pipeline_spark.plans.constants import Q49_QUERY_TEXT

    docs = spread(_t(spark, sf_dir, "documents"))
    emb = embed_text(docs, "text")
    qvec = fake_text_encoder([Q49_QUERY_TEXT])[0]
    # dim=None → zip_with/aggregate (interpreted fold, identical
    # summation order → bit-equal to the unrolled form). One cosine
    # per DOCUMENT, so the fold cost is negligible while the unrolled
    # expression's per-invocation codegen compile (~2.5s stacked on
    # the UDF stage) dominates. Use dim=<n> (unrolled, codegen) in
    # per-PAIR regimes — q22/q26/q27 — where rows × dim is large.
    return (
        emb.withColumn("cos", cosine(F.col("embedding"), array_lit(qvec), None))
        .select("doc_id", "cos")
        .orderBy(F.desc("cos"), F.asc("doc_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q51 — grouped-map (applyInPandas) with an exactly-checkable kernel:
# per-source min-max normalization of document length. The kernel's
# arithmetic (one IEEE division of exact integer-valued doubles) is
# bit-identical to the SQL window formulation, so the oracle
# hash-checks the applyInPandas plumbing itself. Scale: one shuffle
# on the group key; each group is one Arrow batch on one executor.
# ---------------------------------------------------------------------------

def q51_group_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.grouped import group_min_max_normalize

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return (
        group_min_max_normalize(docs, ["source"], "n_chars", "norm_len")
        .select("doc_id", "source", "n_chars", "norm_len")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q78 — array set functions over token arrays: array_distinct,
# filter-count against a stopword set, array_min/array_max — all
# per-row codegen'd expressions (zero shuffle until the per-source
# agg, which moves five scalars per doc). The set-function twin of
# q64's numeric higher-order functions.
# ---------------------------------------------------------------------------

def q78_array_set_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = ws_tokens(F.lower(F.col("text")))
    is_stop = lambda w: (w == "a") | (w == "the")  # noqa: E731
    per_doc = docs.select(
        "source",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.size(F.filter(toks, is_stop)).cast("long").alias("n_stop"),
        F.array_min(toks).alias("min_tok"),
        F.array_max(toks).alias("max_tok"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.sum("n_tok").alias("tokens"),
            F.sum("n_distinct").alias("distinct_tokens"),
            F.sum("n_stop").alias("stop_tokens"),
            F.min("min_tok").alias("first_tok"),
            F.max("max_tok").alias("last_tok"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q80 — Gopher-style repetition quality metrics: per-doc top-bigram
# mass fraction and duplicate-token fraction, the classic corpus
# repetition filters for LLM training data. Shape: SINGLE documents
# scan — the doc-level token stats (n_tok, n_distinct) ride through
# the bigram exchange as first()-carried columns instead of a
# join-back onto a second scan (the groupBy+join-back shape
# CLAUDE.md's q23 rule warns about: the join branch re-executes the
# upstream scan). Bigram counts partial-aggregate map-side on
# (doc_id, gram), so the exchange carries one row per distinct gram
# plus 16 bytes of carried stats, not per occurrence. Fractions are
# a single IEEE division of exact integers — bit-identical
# cross-engine (policy header, relational.py).
# ---------------------------------------------------------------------------

def q80_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the lower+tokenize+bigram pass is map-side CPU work on
    # the one-row-group documents scan — profiled 1.06 s on ONE task
    # warm (r14; the q288/minhash_signatures parallelism class)
    docs = spread(_t(spark, sf_dir, "documents"))
    low = F.lower(F.col("text"))
    toks = ws_tokens(low)
    base = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        word_ngrams(low, 2).alias("grams"),
    )
    gcnt = (
        base.select("doc_id", "n_tok", "n_distinct", F.explode("grams").alias("g"))
        .groupBy("doc_id", "g")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.first("n_tok").alias("n_tok"),
            F.first("n_distinct").alias("n_distinct"),
        )
    )
    per_doc = gcnt.groupBy("doc_id").agg(
        F.max("c").alias("top_bigram_n"),
        F.sum("c").alias("n_bigrams"),
        F.first("n_tok").alias("n_tok"),
        F.first("n_distinct").alias("n_distinct"),
    )
    return (
        per_doc
        .select(
            "doc_id",
            (
                F.col("top_bigram_n").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("top_bigram_frac"),
            (
                (F.col("n_tok") - F.col("n_distinct")).cast("double")
                / F.col("n_tok").cast("double")
            ).alias("dup_tok_frac"),
            "n_tok",
        )
        .orderBy(F.desc("top_bigram_frac"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q82 — blocked near-dup: the PRODUCTION composition of q26's exact
# all-pairs anchor. Multi-band RP-LSH blocking (2 bands × 4 planes,
# OR-of-ANDs) + exact cosine verification inside each (band, bucket)
# group — work is Σ|bucket|², not n². Precision 1.0 by construction
# (every emitted sim is exact); recall is the LSH banding curve. The
# oracle twin reproduces the sign-bit buckets and the OR-join in SQL,
# so candidate generation AND verification are both driver-checked.
# ---------------------------------------------------------------------------

def q82_blocked_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.vectorized import blocked_neardup_pairs
    from ai_data_pipeline_spark.plans.constants import Q82_BANDS

    emb = _t(spark, sf_dir, "embeddings")
    return (
        blocked_neardup_pairs(emb, Q82_BANDS, id_col="vec_id", pair_topk=20)
        .orderBy(F.desc("sim"), F.asc("id_a"), F.asc("id_b"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q84 — pair→cluster resolution (connected components) as a registered
# query: near-dup pairs (q23 semantics, jaccard ≥ 0.6) resolved into
# clusters labeled by minimum member id — the dedup-POLICY step that
# every pair-producing family needs. Oracle: DuckDB recursive CTE
# transitive closure (UNION set semantics terminate it); Spark:
# alternating large-star/small-star contraction
# (operators/dedup.py dedup_clusters_star, Kiveris et al. SoCC'14).
# Scale: O(log n) rounds regardless of component diameter — the
# 100 TB recipe for web-graph-shaped dup structure with long
# transitive chains, where min-label propagation would pay one round
# per hop of diameter; edge sets under a computed count solve in a
# driver union-find instead.
# ---------------------------------------------------------------------------

def q84_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(_t(spark, sf_dir, "documents"))
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=4, min_jaccard=0.6,
        max_shingle_freq=Q23_MAX_SHINGLE_FREQ,
    )
    return (
        dedup.dedup_clusters_star(pairs.select("id_a", "id_b"))
        .select(F.col("id").alias("doc_id"), "cluster_id")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q85 — outer explode semantics: posexplode_outer over a
# filtered-token array keeps empty-array docs as a (null pos, null
# token) row — the lateral-view shape where dropping empty docs
# (plain explode) silently biases corpus stats. One-row summary so
# the null-preservation is what's hashed.
# ---------------------------------------------------------------------------

def q85_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    long_toks = F.filter(ws_tokens(F.lower(F.col("text"))), lambda t: F.length(t) > 9)
    ex = docs.select(
        "doc_id", F.posexplode_outer(long_toks).alias("pos", "token")
    )
    return ex.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("token").alias("n_tokens"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum(F.when(F.col("token").isNull(), 1).otherwise(0)).cast("long").alias("n_empty_docs"),
    )


# ---------------------------------------------------------------------------
# Q86 — FORWARD as-of join: each view matched to the user's NEXT
# purchase at-or-after it (time-to-conversion). Same linear
# union-then-window recipe as q33 via direction="forward" (the
# operator runs the backward recipe under time negation — one code
# path for both directions). Oracle: DuckDB ASOF with the inequality
# flipped.
# ---------------------------------------------------------------------------

def q86_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    views = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts_ns"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.col("ts_ns").alias("p_ts_ns"),
    )
    out = asof_join_union(
        views,
        purchases,
        key="user_id",
        left_time="ts_ns",
        right_time="p_ts_ns",
        right_cols=["purchase_event_id", "p_ts_ns"],
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("r_purchase_event_id").alias("purchase_event_id"),
        (F.col("r_p_ts_ns") - F.col("ts_ns")).alias("wait_ns"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Q87 — sequence-packing accounting (concat-and-chunk, the GPT-style
# packing strategy): per source, documents concatenate in doc_id
# order and cut into 512-token sequences; report sequences needed and
# boundary-spanning docs. Pure integer window arithmetic (cumsum +
# floor div) — identical on both engines. Scale: one shuffle on
# source; the running sum is a single window pass. CAVEAT at 100 TB:
# `source` is low-cardinality, so one giant source serializes its
# ordered cumsum into one task — the scale recipe is the classic
# two-pass distributed prefix sum (range-partition within source by
# doc_id, per-partition partial sums, broadcast the per-partition
# offsets, add). Same declared semantics, one extra tiny exchange.
# ---------------------------------------------------------------------------

Q87_BUDGET = 512


def q87_concat_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = docs.select(
        "source",
        "doc_id",
        token_count_ws(F.col("text")).cast("long").alias("n_tok"),
    ).withColumn("cum", F.sum("n_tok").over(w))
    t = t.select(
        "source",
        "n_tok",
        F.expr(f"(cum - n_tok) div {Q87_BUDGET}").alias("start_seq"),
        F.expr(f"greatest(cum - 1, cum - n_tok) div {Q87_BUDGET}").alias("end_seq"),
        "cum",
    )
    return (
        t.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tok"),
            F.expr(f"(max(cum) + {Q87_BUDGET} - 1) div {Q87_BUDGET}")
            .cast("long")
            .alias("n_seqs"),
            F.sum(F.when(F.col("end_seq") > F.col("start_seq"), 1).otherwise(0))
            .cast("long")
            .alias("n_spanning"),
            F.max(F.col("end_seq") - F.col("start_seq")).cast("long").alias("max_span"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q88 — exact-quantile length-band trim (corpus curation): per source,
# compute nearest-rank p10/p90 of token length (q45's pinned
# discrete-percentile semantics) and count docs surviving the
# [p10, p90] band — the "drop the shortest and longest tails" rule
# every training-data pipeline applies. Single shuffle on source: the
# rank/count windows, the percentile-pick windows and the final agg
# all share one partitioning (no join back onto the corpus). At
# 100 TB the per-source ordered rank has the same giant-group caveat
# as q87; the scale swap is approx_percentile per source (one pass,
# no global order) once exact nearest-rank is no longer the contract.
# ---------------------------------------------------------------------------

def q88_length_band_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "source", "doc_id", token_count_ws(F.col("text")).alias("n_tok")
    )
    w = Window.partitionBy("source").orderBy("n_tok", "doc_id")
    wn = Window.partitionBy("source")
    ranked = base.select(
        "source",
        "n_tok",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    pick = lambda f: F.max(  # noqa: E731
        F.when(F.col("rn") == F.ceil(F.col("n") * f).cast("long"), F.col("n_tok"))
    ).over(wn)
    marked = ranked.select(
        "source", "n_tok", "n", pick(0.1).alias("p10"), pick(0.9).alias("p90")
    )
    kept = F.col("n_tok").between(F.col("p10"), F.col("p90"))
    return (
        marked.groupBy("source")
        .agg(
            F.max("n").alias("n_docs"),
            F.max("p10").alias("p10"),
            F.max("p90").alias("p90"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(kept, 0).otherwise(1)).cast("long").alias("n_dropped"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q89 — shingle containment (asymmetric near-dup): |A∩B| / |A| over
# word-4-gram sets, both orientations — catches a short doc wholly
# quoted inside a long one (containment 1.0) that symmetric Jaccard
# (q23) scores low. Same hashed-shingle join + frequency cap levers.
# ---------------------------------------------------------------------------

def q89_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(_t(spark, sf_dir, "documents"))
    return (
        dedup.shingle_containment_pairs(
            docs, "doc_id", "text", n=4, max_shingle_freq=Q23_MAX_SHINGLE_FREQ
        )
        .orderBy(F.desc("containment"), F.asc("id_a"), F.asc("id_b"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q90 — tokenizer vocabulary coverage: build the corpus top-500 token
# vocabulary (frequency desc, token asc — total order, so the vocab
# is deterministic), then per-source fraction of token occurrences
# covered — the coverage check run before committing to a tokenizer.
# Scale: the vocab is tiny by construction → broadcast; the corpus is
# scanned once and never shuffled on content (the flag join is a
# map-side hash probe; only per-source counts cross the exchange).
# ---------------------------------------------------------------------------

def q90_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(ws_tokens(F.lower(F.col("text")))).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(500)
        .select("tok", F.lit(1).alias("in_v"))
    )
    flagged = toks.join(F.broadcast(vocab), "tok", "left")
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(F.coalesce(F.col("in_v"), F.lit(0))).cast("long").alias("n_in_vocab"),
        )
        .withColumn("coverage", F.col("n_in_vocab") / F.col("n_tok"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q91 — end-to-end curation funnel: the training-data story as ONE
# query. Per source: raw docs → exact dedup (normalized-text digest,
# keep lowest id) → quality gate (≥10 tokens, avg token length in
# [2, 15]) → exact-quantile length-band trim (q88 semantics on the
# survivors) → concat-packing sequence count (q87 semantics on the
# kept tokens). Every stage reuses an already-oracle-verified recipe;
# the funnel proves they COMPOSE.
#
# SINGLE-PASS plan: each stage is a FLAG on one annotated frame, not
# a separate DataFrame — the naive stage-per-frame form re-derived
# the tokenization DAG for every per-stage aggregate (4 corpus scans;
# at 100 TB, 4× the scan bill). Here: one scan, one digest-window
# shuffle, one source-window shuffle (rank-among-quality via a
# conditional running count — a window can't filter rows, but
# sum(when(quality,1)) over the ordered frame IS the subset rank),
# and the final agg reuses the source partitioning.
# ---------------------------------------------------------------------------

def q91_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    n_tok = F.size(toks).cast("long")
    tok_chars = F.aggregate(
        F.transform(toks, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    base = docs.select(
        "source",
        "doc_id",
        F.md5(normalized_text("text").cast("binary")).alias("digest"),
        n_tok.alias("n_tok"),
        tok_chars.alias("tok_chars"),
    )
    wd = Window.partitionBy("digest").orderBy("doc_id")
    avg_len = F.when(
        F.col("n_tok") > 0, F.col("tok_chars") / F.col("n_tok")
    ).otherwise(F.lit(0.0))
    flagged = base.withColumn(
        "keeper", F.row_number().over(wd) == 1
    ).withColumn(
        "quality",
        F.col("keeper") & (F.col("n_tok") >= 10) & (avg_len >= 2.0) & (avg_len <= 15.0),
    )
    w_ord = (
        Window.partitionBy("source")
        .orderBy("n_tok", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("source")
    q1 = F.when(F.col("quality"), 1).otherwise(0)
    marked = flagged.withColumn("rnq", F.sum(q1).over(w_ord).cast("long")).withColumn(
        "nq", F.sum(q1).over(wn).cast("long")
    )
    pick = lambda f: F.max(  # noqa: E731
        F.when(
            F.col("quality")
            & (F.col("rnq") == F.ceil(F.col("nq") * f).cast("long")),
            F.col("n_tok"),
        )
    ).over(wn)
    marked = marked.withColumn("p10", pick(0.1)).withColumn("p90", pick(0.9))
    kept = F.col("quality") & F.col("n_tok").between(F.col("p10"), F.col("p90"))
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.sum(F.when(F.col("keeper"), 1).otherwise(0)).cast("long").alias("n_dedup"),
            F.sum(q1).cast("long").alias("n_quality"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(kept, F.col("n_tok")).otherwise(0)).cast("long").alias("tok_kept"),
        )
        .select(
            "source",
            "n_raw",
            "n_dedup",
            "n_quality",
            "n_kept",
            F.expr(f"(tok_kept + {Q87_BUDGET} - 1) div {Q87_BUDGET}")
            .cast("long")
            .alias("n_seqs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q92 — token Zipf profile: frequency-of-frequency histogram. Token
# counts bucket by floor(log2) — computed as a generated CASE ladder
# of pure integer comparisons (floor(log2(double)) can disagree
# cross-engine by one ulp near powers of two; integer thresholds
# cannot). The classic corpus-health check: a healthy Zipf tail vs a
# boilerplate-dominated spike. Two-phase agg; map-side combine
# collapses the token stream before either exchange.
# ---------------------------------------------------------------------------

# Shared public home: functions/buckets.py (consumers in BOTH plan
# modules); the underscore names stay importable for compatibility.
from ai_data_pipeline_spark.functions.buckets import (  # noqa: E402
    log2_bucket_case as _log2_bucket_case,
    sql_log2_bucket_case as _sql_log2_bucket_case,
)


def q92_token_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(ws_tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        tf.select(_log2_bucket_case("c").alias("freq_bucket"), "c")
        .groupBy("freq_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("c").cast("long").alias("n_occurrences"),
        )
        .orderBy("freq_bucket")
    )


# ---------------------------------------------------------------------------
# Q93 — co-occurrence (market-basket): top-20 part pairs appearing in
# the same order. Baskets are bounded per order (≤7 lineitems in
# TPC-H shape → ≤21 pairs), so pairs generate NARROWLY from a
# per-order collect_set (map-side partial) and the plan has exactly
# two shuffles (basket groupBy + pair agg) — the earlier
# distinct+self-join form paid four (distinct, two join sides, agg)
# and measured 1.5x slower. The per-key cap on basket size is the
# lever if baskets were power-law instead of bounded.
# ---------------------------------------------------------------------------

def q93_part_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    m = F.size("ps")
    pairs_arr = F.flatten(
        F.transform(
            "ps",
            lambda x, i: F.transform(
                F.slice("ps", i + 2, F.greatest(m - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pairs_arr).alias("p"))
        .groupBy(
            F.col("p.a").alias("part_a"), F.col("p.b").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q95 — streaming curation, oracle-checked: the documents table
# replayed through the file-source micro-batch engine →
# stream_curation_pipeline (watermarked digest dedup + quality gate)
# → per-source survivor counts. dropDuplicatesWithinWatermark keeps
# an ARBITRARY first-arrival per key, so the dedup scope is (source,
# digest) and the hashed outputs are per-source counts + token sums —
# duplicates share identical text, so survivor choice cannot move
# either number. Oracle: batch DISTINCT over (source, digest-input)
# + the same quality predicate.
# ---------------------------------------------------------------------------

def q95_streaming_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    from ai_data_pipeline_spark.streaming.pipelines import stream_curation_pipeline

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    # synthetic arrival clock from doc_id, offset away from epoch 0 —
    # a row AT the initial watermark (epoch zero) is dropped as late
    docs = raw.withColumn(
        "ingest_ts",
        F.timestamp_micros(F.col("doc_id") * 1000 + F.lit(1_700_000_000_000_000)),
    )
    # raw-text digests: survivors are byte-identical to their
    # duplicates, so the per-source counts/sums below are invariant
    # to which duplicate the stateful dedup keeps
    curated = stream_curation_pipeline(docs, scope_cols=["source"], normalize=False)
    name = f"q95_{_uuid.uuid4().hex[:8]}"
    q = (
        curated.select("source", "n_tok")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    agg = (
        spark.table(name)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_curated"),
            F.sum("n_tok").cast("long").alias("tok_curated"),
        )
    )
    return _drain_memory_sink(agg, name).orderBy("source")


# ---------------------------------------------------------------------------
# Q96 — prefix-filtered EXACT similarity join (PPJoin family): same
# result set as a full q23-style join at jaccard ≥ 0.6, but candidate
# generation keys only on each doc's ⌈(1−t)·|d|⌉+1 globally RAREST
# shingles — complete by the prefix-filter theorem, so this is exact,
# not approximate. The oracle computes the FULL exact join (no
# prefix), so a hash match proves candidate completeness end to end.
# ---------------------------------------------------------------------------

def q96_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(_t(spark, sf_dir, "documents"))
    return (
        dedup.prefix_jaccard_pairs(docs, "doc_id", "text", n=4, min_jaccard=0.6)
        .orderBy(F.desc("jaccard"), F.asc("id_a"), F.asc("id_b"))
    )


# ---------------------------------------------------------------------------
# Q97 — watermarked STREAM-STREAM interval join, oracle-checked (the
# last streaming primitive without a driver row): purchases and views
# replayed as two file-source streams, joined on user within a 1-hour
# lookback through streaming/pipelines.interval_join_streams (both
# sides watermarked, so per-key state is bounded by the lookback —
# the production-shape join), then per-purchase view stats batch-
# aggregated from the drained sink. Oracle: the same interval join
# as a batch SQL self-join — a hash match proves the micro-batch
# engine's join emits exactly the batch-semantics pair set. Both
# engines compare the identical µs instants (ns→µs floor division on
# each side), so the interval boundary cannot diverge.
# ---------------------------------------------------------------------------

def q97_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    from ai_data_pipeline_spark.streaming.pipelines import interval_join_streams

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def _stream(event_type: str) -> DataFrame:
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        return (
            normalize_event_time(raw)
            .filter(F.col("event_type") == event_type)
            .select("event_id", "user_id", "ts")
        )

    joined = interval_join_streams(
        _stream("purchase"),
        _stream("view"),
        key="user_id",
        lookback="1 hour",
        watermark="2 hours",
    ).select(
        F.col("event_id").alias("purchase_id"),
        F.col("r_event_id").alias("view_id"),
    )
    name = f"q97_{_uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    agg = (
        spark.table(name)
        .groupBy("purchase_id")
        .agg(
            F.count(F.lit(1)).alias("n_views"),
            F.min("view_id").alias("first_view_id"),
            F.max("view_id").alias("last_view_id"),
        )
    )
    return _drain_memory_sink(agg, name).orderBy("purchase_id")


# ---------------------------------------------------------------------------
# Q98 — PII detection + masking: regex email/phone spans replaced
# with typed placeholders, per-source hit counts and masked-length
# audit — the redaction pass every release pipeline runs. The corpus
# is synthetic word-salad, so deterministic PII spans are INJECTED
# from doc_id first (both engines build the identical augmented
# text); the regexes use the Java∩RE2-portable subset (char classes,
# +, {n} — no lookaround), so Spark and DuckDB match identical
# spans. Scale: narrow per-row regex at the scan, one agg shuffle of
# per-source scalars; masking is where a UDF would be tempting and
# is NOT needed.
# ---------------------------------------------------------------------------

def q98_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    masked = mask_pii(aug)
    n_email, n_phone = pii_counts(aug)
    per_doc = docs.select(
        "source",
        n_email.alias("n_email"),
        n_phone.alias("n_phone"),
        F.length(masked).cast("long").alias("masked_len"),
        F.length(aug).cast("long").alias("raw_len"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_email").alias("emails_masked"),
            F.sum("n_phone").alias("phones_masked"),
            F.sum(F.when(F.col("n_email") + F.col("n_phone") > 0, 1).otherwise(0))
            .cast("long")
            .alias("docs_with_pii"),
            F.sum(F.col("raw_len") - F.col("masked_len")).alias("chars_delta"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q99 — URL extraction + domain blocklist filtering: deterministic
# URLs injected from doc_id (word-salad corpus), domain pulled with
# one portable regex, blocklisted domains dropped, per-domain reach
# stats — the domain-level curation pass (spam/low-quality domain
# removal) of a web-scale pipeline. Scale: narrow extract at the
# scan; the blocklist is a literal IN-filter (broadcast semantics by
# construction); one agg shuffle keyed on domain.
# ---------------------------------------------------------------------------

def q99_url_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" see https://site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.org/p/"),
        (F.col("doc_id") % 13).cast("string"),
        F.lit(" for more"),
    )
    domain = url_domain(aug)
    blocked = ["site0.example.org", "site1.example.org"]
    return (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", "source", "n_chars", domain.alias("domain"))
        .filter(~F.col("domain").isin(blocked))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("domain")
    )


# ---------------------------------------------------------------------------
# Q100 — deterministic train/val/test split: content-hash bucket
# (md5 of the raw text, first 4 hex digits mod 100) → 90/5/5 split,
# per (split, lang) counts — the split must be content-derived so it
# is identical across runs, partition layouts, and cluster sizes
# (df.randomSplit is none of those), and so exact dups land in the
# SAME split (no train→test leakage through duplicates). Scale: a
# narrow expression at the scan, one agg shuffle.
# ---------------------------------------------------------------------------

def q100_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(assign_split("text").alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split", "lang")
    )


# ---------------------------------------------------------------------------
# Q101 — temperature-scaled source mixing (the multilingual/multi-
# source sampling recipe: upweight small sources by p^α, α = 1/4):
# per-source char share p_s, raw weight p_s^0.25 computed as
# sqrt(sqrt(p_s)) — IEEE sqrt is correctly rounded, so the double is
# bit-identical cross-engine, unlike pow(x, 0.25) which is libm-
# dependent. Normalization divides by a sum of FLOOR-quantized
# integer weights (order-independent BIGINT sum), never a sum of
# doubles — the float-parity policy's recipe for "normalize by a
# total". Scale: one agg to per-source scalars, then window math on
# a handful of rows.
# ---------------------------------------------------------------------------

def q101_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars_s"),
    )
    total = F.sum("chars_s").over(Window.partitionBy())
    w = F.sqrt(F.sqrt(F.col("chars_s").cast("double") / total.cast("double")))
    wi = F.floor(w * F.lit(1_000_000_000_000.0)).cast("long")
    enriched = per_src.select("source", "n_docs", "chars_s", wi.alias("wi"))
    denom = F.sum("wi").over(Window.partitionBy())
    return (
        enriched.select(
            "source",
            "n_docs",
            "chars_s",
            (F.col("wi").cast("double") / denom.cast("double")).alias("mix_frac"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q102 — TF-IDF-family keyword extraction: per-source term frequency
# weighted by reciprocal document(source)-frequency, top-5 terms per
# source. The weight is integer-exact ((tf·10⁶) div df — production
# swaps a real ln() idf, which can't cross-engine-hash). The df
# enrichment is a COUNT window over the token, NOT a groupBy+join-
# back (CLAUDE.md's q23 rule: the window's exchange is reused; the
# join form re-executes the explode and pays a second shuffle).
# ---------------------------------------------------------------------------

def q102_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(ws_tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_w = F.count(F.lit(1)).over(Window.partitionBy("tok"))
    scored = tf.withColumn("df", df_w.cast("long")).withColumn(
        "score", F.expr("(tf * 1000000) div df").cast("long")
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.desc("score"), F.asc("tok"))
    )
    return (
        scored.withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= 5)
        .orderBy("source", "rk")
    )


# ---------------------------------------------------------------------------
# Q103 — corpus-frequency fluency scoring (the CCNet/KenLM-perplexity
# filter's integer-exact proxy): every doc bigram is scored by the
# log2-bucket of its CORPUS frequency (integer CASE ladder — q92's
# cross-engine-safe floor(log2)), and a doc's fluency is its mean
# bucket — low mean = mostly rare/unseen bigrams = disfluent or
# novel; high mean = boilerplate. A real KenLM scores through the
# mapInPandas seam; the plan shape (explode → frequency window →
# per-doc mean) is identical. The frequency enrichment is a COUNT
# window over the bigram, not a groupBy+join-back — one exchange.
# ---------------------------------------------------------------------------

def q103_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(word_ngrams(F.lower(F.col("text")), 2)).alias("g")
    )
    cnt = F.count(F.lit(1)).over(Window.partitionBy("g"))
    bucketed = grams.select(
        "doc_id", _log2_bucket_case(cnt.cast("long")).alias("bucket")
    )
    per_doc = bucketed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("bucket").alias("sum_bucket"),
    )
    return (
        per_doc.select(
            "doc_id",
            "n_bigrams",
            (
                F.col("sum_bucket").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("fluency"),
        )
        .orderBy(F.asc("fluency"), F.asc("doc_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q104 — embedding fixed-point int8 quantization audit: q_i =
# clamp(floor(v_i·64), −128, 127) (per-tensor fixed-point; the
# per-channel-scale variant changes only the literal), with exact
# per-vector audit metrics — clip count, |q|₁ (integer), and max
# absolute reconstruction error. max is order-INDEPENDENT and every
# per-element double (float→double widening, q/64.0 dyadic rational,
# one subtraction) is bit-identical cross-engine, so the doubles
# hash — a sum of squares would not (order-dependent accumulation;
# float-parity policy). Scale: pure per-row HOF arithmetic, zero
# shuffle before the top-k.
# ---------------------------------------------------------------------------

def q104_embed_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    raw_q = lambda e: F.floor(e.cast("double") * 64)  # noqa: E731
    qarr = F.transform(
        "embedding",
        lambda e: F.greatest(F.least(raw_q(e), F.lit(127)), F.lit(-128)).cast("long"),
    )
    n_clipped = F.size(
        F.filter("embedding", lambda e: (raw_q(e) > 127) | (raw_q(e) < -128))
    ).cast("long")
    with_q = emb.select("vec_id", "embedding", qarr.alias("q"), n_clipped.alias("n_clipped"))
    l1_q = F.aggregate(
        "q", F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
    )
    max_abs_err = F.array_max(
        F.zip_with(
            "embedding", "q", lambda e, q: F.abs(e.cast("double") - q / F.lit(64.0))
        )
    )
    return (
        with_q.select(
            "vec_id",
            "n_clipped",
            l1_q.alias("l1_q"),
            max_abs_err.alias("max_abs_err"),
        )
        .orderBy(F.desc("max_abs_err"), F.asc("vec_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q105 — sketch-quality audit: MinHash-estimated Jaccard vs the exact
# value on real near-dup pairs. The deploy-a-sketch question is "how
# tight is the estimate at my k" — this measures it in-engine:
# signature agreement k_match/16 against the exact shingle Jaccard,
# per pair. All doubles are exact rationals from integer counts
# (k/16 is dyadic; jaccard is one division; the error one
# subtraction — identical trees both engines). Scale: the exact-pair
# join runs CAPPED (max_shingle_freq — uncapped, the 16x scale probe
# measured 9.7x wall growth from hot n=3 shingles; capped it is
# linear like q23); signatures are over the FULL shingle set, as a
# deployed sketch would be, and add H=16 map-side MIN aggregates;
# the audit join touches pairs only.
# ---------------------------------------------------------------------------

def q105_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(_t(spark, sf_dir, "documents"))
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, min_jaccard=0.5,
        max_shingle_freq=Q23_MAX_SHINGLE_FREQ,
    ).select("id_a", "id_b", "jaccard")
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", n=3, num_hashes=16)
    j = pairs.join(
        sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a"
    ).join(
        sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b"
    )
    k_match = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    ).cast("long")
    return (
        j.select("id_a", "id_b", "jaccard", k_match.alias("k_match"))
        .withColumn("mh_est", F.col("k_match") / F.lit(16.0))
        .withColumn("est_err", F.abs(F.col("mh_est") - F.col("jaccard")))
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Q106 — k-means centroid UPDATE step (the iterative-ML primitive —
# q28's IVF does assignment; this is the other half): assign every
# embedding to its nearest of 4 fixed centroids, then recompute each
# centroid as the per-dimension mean.  The assignment argmin is a
# DECISION, so it runs on EXACT fixed-point integers: embeddings
# quantize to v6 micro-unit BIGINTs, centroid literals quantize once
# in Python (quantize_q6_py) and inline into both engines, and the
# distance is a pure-BIGINT HOF fold (squared_l2_q6; the dim=None
# path per the per-document-scoring rule — 4 unrolled 64-term
# expressions cost ~3s codegen; ties go to the lowest index).  This
# replaced the r03 IEEE-double fold after the driver's q131 hash
# flake: an all-integer-output query must not let doubles pick its
# branches.  Means of doubles are order-DEPENDENT, so components
# aggregate as the same v6 BIGINTs and only the final exact integers
# divide as doubles — the float-parity recipe for "aggregate a
# vector". Scale: one narrow assignment pass + one agg shuffle
# carrying (cluster, dim) partial sums — 4×64 cells regardless of
# corpus size.
# ---------------------------------------------------------------------------

Q106_K = 4
Q106_CENTROIDS = [
    [((k * 31 + i * 17) % 13 - 6) / 10.0 for i in range(EMBED_DIM)]
    for k in range(Q106_K)
]


def _q106_c6() -> list[list[int]]:
    from ai_data_pipeline_spark.functions.vector import quantize_q6_py

    return [quantize_q6_py(c) for c in Q106_CENTROIDS]


Q106_C6 = _q106_c6()


def _kmeans_assign_exact(emb: DataFrame, *id_cols: str) -> DataFrame:
    """(ids…, cluster_id, v6) — exact integer argmin assignment shared
    by q106 (update step) and q131 (reassignment churn) so the two
    queries cannot disagree."""
    from ai_data_pipeline_spark.functions.vector import quantize_q6, squared_l2_q6

    base = emb.select(*id_cols, quantize_q6("embedding").alias("v6"))
    with_d = base.select(
        *id_cols,
        "v6",
        *[squared_l2_q6("v6", Q106_C6[k]).alias(f"d{k}") for k in range(Q106_K)],
    )
    d = [F.col(f"d{k}") for k in range(Q106_K)]
    cluster = (
        F.when((d[0] <= d[1]) & (d[0] <= d[2]) & (d[0] <= d[3]), 0)
        .when((d[1] <= d[2]) & (d[1] <= d[3]), 1)
        .when(d[2] <= d[3], 2)
        .otherwise(3)
        .cast("long")
    )
    return with_d.select(*id_cols, cluster.alias("cluster_id"), "v6")


def q106_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    assigned = _kmeans_assign_exact(emb)
    expl = assigned.select("cluster_id", F.posexplode("v6").alias("dim", "v6v"))
    agg = (
        expl.select(
            "cluster_id", F.col("dim").cast("long").alias("dim"), F.col("v6v").alias("v6")
        )
        .groupBy("cluster_id", "dim")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v6").alias("s6"))
    )
    return (
        agg.select(
            "cluster_id",
            "dim",
            "n",
            (
                F.col("s6").cast("double")
                / F.col("n").cast("double")
                / F.lit(1_000_000.0)
            ).alias("centroid_val"),
        )
        .orderBy("cluster_id", "dim")
    )


# ---------------------------------------------------------------------------
# Q107 — canonical-document selection per dup cluster (the dedup
# POLICY completing q84: q84 labels members; this picks the KEEPER):
# near-dup clusters resolved with the star contraction, then the
# longest member (chars, doc_id tiebreak) wins via one row_number
# window; per-cluster audit of kept vs dropped bytes. min-id keeper
# policies bias toward crawl order — argmax-quality is the
# production choice, and the window shape swaps in any quality
# score. Scale: clusters are tiny relative to the corpus; the
# doc-stats join is keyed on doc_id and the window partitions by
# cluster_id — both bounded by dup volume, not corpus size.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Q108 — incremental ingest dedup (the daily-batch admission pass):
# today's batch (source src0) is admitted only if its content digest
# is absent from the historical corpus AND it is the first holder of
# that digest within the batch (keep-first by doc_id). One left join
# on digests classifies every batch doc into admitted /
# dropped-vs-history / dropped-within-batch. Scale: the join carries
# 16-byte digests, never text; history >> batch, so this is a
# shuffle join keyed on digest with the batch side tiny per
# partition — or a broadcast of the BATCH digest set flipped around
# when history is the probe side.
# ---------------------------------------------------------------------------

def q108_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    digest = F.md5(F.col("text").cast("binary"))
    hist = (
        docs.filter(F.col("source") != "src0")
        .select(digest.alias("digest"))
        .distinct()
        .withColumn("in_hist", F.lit(1))
    )
    batch = docs.filter(F.col("source") == "src0").select(
        "doc_id", "lang", digest.alias("digest")
    )
    rk = F.row_number().over(
        Window.partitionBy("digest").orderBy(F.asc("doc_id"))
    )
    j = batch.withColumn("rk", rk).join(hist, "digest", "left")
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return (
        j.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            flag(F.col("in_hist").isNull() & (F.col("rk") == 1)).alias("n_admitted"),
            flag(F.col("in_hist").isNotNull()).alias("n_dropped_history"),
            flag(F.col("in_hist").isNull() & (F.col("rk") > 1)).alias(
                "n_dropped_batch"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Q109 — segment-level dedup (the exact-substring-dedup proxy of
# RefinedWeb/Falcon: repeated SPANS are removed, not whole docs):
# each doc splits into consecutive 10-token segments; a segment seen
# > 2 times corpus-wide is boilerplate and its tokens are dropped;
# per-doc audit of segments kept vs dropped. The global frequency is
# a COUNT window over the segment text (exchange reused — no join-
# back), and the shuffle carries segments, not documents. Top-20
# most-trimmed docs.
# ---------------------------------------------------------------------------

def q109_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        segment_dedup_stats(docs, "doc_id", "text", seg_tokens=10, max_freq=2)
        .withColumnRenamed("id", "doc_id")
        .orderBy(F.desc("n_dropped"), F.asc("doc_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q110 — per-label embedding dispersion WITHOUT pairwise distances:
# E‖x−c‖² = E‖x‖² − ‖c‖² (the moment identity), so corpus diversity
# per label costs one linear pass + a 64-cell agg instead of the
# O(n²) pairwise mean. Per-row squared norms and per-dimension means
# quantize to fixed-point BIGINTs before any cross-row sum (doubles
# are never accumulated — float-parity policy); the only doubles are
# per-row HOF folds and final divisions of exact integers, identical
# trees both engines. The production diversity-filter shape for
# "is this source collapsing to one mode?".
# ---------------------------------------------------------------------------

def q110_label_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.functions.vector import dot

    emb = _t(spark, sf_dir, "embeddings")
    q2 = F.floor(dot("embedding", "embedding") * F.lit(1_000_000.0)).cast("long")
    norms = emb.select("label", q2.alias("q2")).groupBy("label").agg(
        F.count(F.lit(1)).alias("n"), F.sum("q2").alias("s_q2")
    )
    dims = emb.select("label", F.posexplode("embedding").alias("dim", "v")).select(
        "label",
        "dim",
        F.floor(F.col("v").cast("double") * 1_000_000).cast("long").alias("v6"),
    )
    per_dim = dims.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_d"), F.sum("v6").alias("s6")
    )
    mean_d = (
        F.col("s6").cast("double") / F.col("n_d").cast("double") / F.lit(1_000_000.0)
    )
    m12 = F.floor(mean_d * mean_d * F.lit(1_000_000_000_000.0)).cast("long")
    cent = per_dim.select("label", m12.alias("m12")).groupBy("label").agg(
        F.sum("m12").alias("s_m12")
    )
    joined = norms.join(cent, "label")
    mean_sq = (
        F.col("s_q2").cast("double") / F.col("n").cast("double") / F.lit(1_000_000.0)
    )
    cent_sq = F.col("s_m12").cast("double") / F.lit(1_000_000_000_000.0)
    return (
        joined.select(
            F.col("label").cast("long").alias("label"),
            "n",
            mean_sq.alias("mean_sq_norm"),
            cent_sq.alias("centroid_sq_norm"),
            (mean_sq - cent_sq).alias("dispersion"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Q111 — dup-graph degree histogram (the graph-health check before
# any cluster resolution: a fat-tailed degree distribution predicts
# giant components and motivates the star contraction): q23-shape
# capped near-dup pairs → per-node degree → log2-bucket histogram
# (integer CASE ladder). Shuffles carry (node, degree) scalars.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Q112 — time-series gap fill: the hourly event-type spine (min..max
# observed hour × distinct types) left-joined with observed counts,
# missing cells zero-filled and flagged — the resample/asfreq step
# every monitoring and feature pipeline needs, built from
# sequence+explode instead of a UDF calendar. Scale: the spine is
# hours×types (tiny, broadcast side); the fact side aggregates
# map-side before its one exchange.
# ---------------------------------------------------------------------------

def q112_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    return (
        gap_fill_hourly(e, "ts", "event_type")
        .select(
            "event_type",
            F.col("hour").cast("long").alias("hour_s"),
            "n",
            "is_gap",
        )
        .orderBy("event_type", "hour_s")
    )


# ---------------------------------------------------------------------------
# Q113 — rolling median (robust smoothing): per-user 5-event moving
# median of the event value over a TOTAL order (ts, event_id) — the
# robust-statistics window primitive (moving averages are q13; a
# median survives outliers). Values ride as exact 4-decimal integer
# units, so the median is an integer or a .5 midpoint — both exact
# dyadic doubles cross-engine. Scale: one window shuffle on user_id,
# frame bounded at 5 rows.
# ---------------------------------------------------------------------------

def q113_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    v4 = F.round(F.col("value") * 10000, 0).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-4, 0)
    )
    return (
        e.select("event_id", "user_id", "ts", v4.alias("v4"))
        .withColumn("med4", rolling_median_int("v4", w))
        .select(
            "event_id",
            "user_id",
            (F.col("v4") / 10000.0).alias("value"),
            (F.col("med4") / 10000.0).alias("moving_median"),
        )
        .orderBy("event_id")
    )


def q111_dupgraph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(_t(spark, sf_dir, "documents"))
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=4, min_jaccard=0.6,
        max_shingle_freq=Q23_MAX_SHINGLE_FREQ,
    ).select("id_a", "id_b")
    sym = pairs.union(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    deg = sym.groupBy("id_a").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.select(_log2_bucket_case("degree").alias("deg_bucket"))
        .groupBy("deg_bucket")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("deg_bucket")
    )


def q107_canonical_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(_t(spark, sf_dir, "documents"))
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=4, min_jaccard=0.6,
        max_shingle_freq=Q23_MAX_SHINGLE_FREQ,
    )
    clusters = dedup.dedup_clusters_star(pairs.select("id_a", "id_b")).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    members = clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
    rk = F.row_number().over(
        Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    )
    ranked = members.withColumn("rk", rk)
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.max(F.when(F.col("rk") == 1, F.col("n_chars"))).alias("chars_kept"),
            F.sum(F.when(F.col("rk") > 1, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("chars_dropped"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Q152 — the composed reference-parity E2E pipeline as ONE graded row
# (R1→R9, the full shape of `/root/reference/app/main.py:65-117`):
#   R1  directory of real PDFs (fixture-materialized from documents —
#       sources/fixtures.py) scanned via binaryFile + *.pdf glob;
#   R2  per-page text extraction (minipdf ISO-32000 subset — the same
#       seam pypdf plugs into when importable);
#   R3  odd-page ±2 sliding windows;  R4 recursive 300/60 split;
#   R5  LLM map (deterministic StubLLM — the injectable-client seam,
#       exercising every R6 fallback mode);
#   R6  3-stage JSON fallback parse;  R7 valid/invalid side-split;
#   R8  lineage (source_file carried through);
#   R9-adjacent: per-file counts + an order-insensitive content digest
#       of the valid (question, answer) records.
# Oracle: the pure-Python twins (paginate_text → strip-roundtrip →
# _q152_chunks_python mirror of parse_pages+sliding_windows+split →
# StubLLM → extract_json_python), emitted as a VALUES table branch-
# selected by corpus signature (same technique as q21_oracle).
# ---------------------------------------------------------------------------

_Q152_PAGE_CHARS = 200
_Q152_CHUNK_SIZE = 300
_Q152_CHUNK_OVERLAP = 60
_Q152_SEP_QA = "\x1f"
_Q152_SEP_REC = "\x1e"


def q152_e2e_pdf_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.operators.json_fallback import validate_qa
    from ai_data_pipeline_spark.operators.llm_map import StubLLM, llm_map
    from ai_data_pipeline_spark.sources.fixtures import materialize_pdf_corpus
    from ai_data_pipeline_spark.sources.readers import parse_pages

    corpus = materialize_pdf_corpus(sf_dir, page_chars=_Q152_PAGE_CHARS)
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pdf")
        .load(corpus)
    )  # R1
    pages = parse_pages(raw)  # R2
    from ai_data_pipeline_spark.operators.chunker import sliding_windows, split_chunks

    windows = sliding_windows(pages.withColumnRenamed("source_file", "doc_id"))  # R3
    # spread: AQE coalesces the small post-window shuffle to ONE
    # partition, serializing the CPU-bound split/LLM python stages —
    # rebalance to all cores before them (catalog.spread rationale).
    chunks = split_chunks(  # R4
        spread(windows), chunk_size=_Q152_CHUNK_SIZE, chunk_overlap=_Q152_CHUNK_OVERLAP
    ).withColumnRenamed("doc_id", "source_file")
    # The repartition below separates the R4 split pandas UDF and the
    # R5 MapInPandas into different STAGES — same-stage chained
    # ArrowEvalPython can deadlock on pipe buffering (chunker.py) —
    # while keeping one pass over the data (no checkpoint re-run).
    enriched = llm_map(spread(chunks), StubLLM, text_col="chunk_text")  # R5
    v = validate_qa(enriched)  # R6 + R7 (source_file lineage = R8)
    return (
        v.groupBy("source_file")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("is_valid"), 1).otherwise(0)).alias("n_valid"),
            F.sum(F.when(F.col("is_valid"), 0).otherwise(1)).alias("n_invalid"),
            F.md5(
                F.array_join(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("is_valid"),
                                F.concat_ws(
                                    _Q152_SEP_QA,
                                    F.col("qa.question"),
                                    F.col("qa.answer"),
                                ),
                            )
                        )
                    ),
                    _Q152_SEP_REC,
                ).cast("binary")
            ).alias("qa_digest"),
        )
        .orderBy("source_file")
    )


def _q152_chunks_python(pages_all: list[str]) -> list[str]:
    """Pure-Python mirror of the q152 Spark half R2→R4: parse_pages
    keeps pages with non-space content but page_no stays the ORIGINAL
    1-based position (posexplode index), the R3 odd-page filter tests
    that original parity, while the ±2 window spans ROW positions in
    the kept sequence (rowsBetween). Coincides with
    chunk_pages_python whenever no page is dropped (unit-pinned);
    diverges exactly as the Spark plan does when one is."""
    from ai_data_pipeline_spark.operators.chunker import split_recursive

    kept = [
        (i + 1, p) for i, p in enumerate(pages_all) if p.strip(" ") != ""
    ]
    chunks: list[str] = []
    for pos, (pno, _p) in enumerate(kept):
        if pno % 2 != 1:
            continue
        lo = max(0, pos - 2)
        hi = min(len(kept), pos + 3)
        window_text = "\n\n".join(p for _, p in kept[lo:hi])
        chunks.extend(
            split_recursive(window_text, _Q152_CHUNK_SIZE, _Q152_CHUNK_OVERLAP)
        )
    return chunks


def _q152_golden_rows(parquet_path: str) -> list[str]:
    import hashlib as _hashlib

    import duckdb

    from ai_data_pipeline_spark.operators.chunker import paginate_text
    from ai_data_pipeline_spark.operators.json_fallback import extract_json_python
    from ai_data_pipeline_spark.operators.llm_map import PROMPT_TEMPLATE, StubLLM

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT doc_id, text FROM read_parquet('{parquet_path}') ORDER BY doc_id"
    ).fetchall()
    con.close()
    stub = StubLLM()
    vals: list[str] = []
    for doc_id, text in rows:
        # render_pdf → extract_pages round-trips each page modulo the
        # reader's strip("\n") (property-tested in test_minipdf.py)
        pages_all = [p.strip("\n") for p in paginate_text(text or "", _Q152_PAGE_CHARS)]
        chunks = _q152_chunks_python(pages_all)
        if not chunks:
            continue
        qa: list[str] = []
        for chunk in chunks:
            resp = stub.generate([PROMPT_TEMPLATE.format(chunk=chunk)])[0]
            d = extract_json_python(resp)
            if (
                d is not None
                and d.get("question") is not None
                and d.get("answer") is not None
            ):
                qa.append(f"{d['question']}{_Q152_SEP_QA}{d['answer']}")
        digest = _hashlib.md5(
            _Q152_SEP_REC.join(sorted(qa)).encode("utf-8")
        ).hexdigest()
        vals.append(
            f"('doc_{int(doc_id):06d}.pdf', {len(chunks)}, {len(qa)}, "
            f"{len(chunks) - len(qa)}, '{digest}')"
        )
    return vals


_Q152_GOLDEN_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")
_q152_oracle_cache: str | None = None


def q152_oracle() -> str | None:
    """Golden-VALUES oracle twin for q152_e2e_pdf_qa (see q21_oracle
    for the branch-selection technique). None when no graded corpus
    is present (foreign environments) — the query then stays
    rows-only instead of erroring."""
    global _q152_oracle_cache
    if _q152_oracle_cache is not None:
        return _q152_oracle_cache
    import os as _os

    import duckdb

    branches: list[tuple[int, list[str]]] = []
    for d in _Q152_GOLDEN_DIRS:
        path = _os.path.join(d, "documents.parquet")
        if not _os.path.exists(path):
            continue
        con = duckdb.connect()
        sig = con.sql(
            f"SELECT COALESCE(SUM(length(text)), 0) FROM read_parquet('{path}')"
        ).fetchone()[0]
        con.close()
        vals = _q152_golden_rows(path)
        if vals:
            branches.append((int(sig), vals))
    if not branches:
        return None
    sigs = [s for s, _ in branches]
    if len(set(sigs)) != len(sigs):
        raise ValueError(f"q152 oracle: corpora share a content signature: {sigs}")
    cols = "source_file, n_chunks, n_valid, n_invalid, qa_digest"
    ctes = ["sig AS (SELECT COALESCE(SUM(length(text)), 0) AS s FROM documents)"]
    selects = []
    for i, (s, vals) in enumerate(branches):
        ctes.append(f"e{i}({cols}) AS (VALUES {', '.join(vals)})")
        selects.append(
            "SELECT source_file, CAST(n_chunks AS BIGINT) AS n_chunks, "
            "CAST(n_valid AS BIGINT) AS n_valid, "
            "CAST(n_invalid AS BIGINT) AS n_invalid, qa_digest "
            f"FROM e{i} WHERE (SELECT s FROM sig) = {s}"
        )
    _q152_oracle_cache = (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY source_file"
    )
    return _q152_oracle_cache


# ---------------------------------------------------------------------------
# Q153 — custom STATEFUL streaming (applyInPandasWithState) graded
# against a batch oracle: running_user_stats (streaming/stateful.py)
# maintains per-user (count, sum, last-event-type) in the state store
# across micro-batches. The replay is deterministic: the event
# history is split into 3 contiguous ts-ordered files (fixture) and
# streamed with maxFilesPerTrigger=1 (oldest-first), so arrival order
# == event-time order and the processing-time running profile equals
# the batch aggregate. Values ride as round(value*10000) exact-int
# doubles (order-independent float sums — q41's money discipline);
# the final state per key is the update-mode row with max n_events
# (strictly increasing per key per batch it appears in).
# ---------------------------------------------------------------------------

def q153_stateful_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    from ai_data_pipeline_spark.sources.fixtures import materialize_event_stream
    from ai_data_pipeline_spark.streaming.stateful import running_user_stats

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream_dir = materialize_event_stream(sf_dir, n_files=3)
    schema = spark.read.parquet(f"{stream_dir}/batch_000.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )
    e = normalize_event_time(raw).withColumn(
        "v4", F.round(F.col("value") * 10000, 0)
    )
    stats = running_user_stats(
        e, key="user_id", value_col="v4", type_col="event_type", time_col="ts"
    )
    name = f"q153_{_uuid.uuid4().hex[:8]}"
    # The state-store shuffle width is captured at query start from
    # spark.sql.shuffle.partitions; under the driver's vanilla session
    # that is 200, and each of the 3 micro-batches pays 200 pandas
    # state tasks for 150 keys (26 s measured). Pin to the core count
    # for the stream and restore after — partition count is
    # non-semantic for per-key state.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    try:
        q = (
            stats.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    final = (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_events", "total_value", "last_event_type"), "n_events"
            ).alias("s")
        )
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            (F.col("s.total_value") / 10000.0).alias("sum_value"),
            F.col("s.last_event_type").alias("last_event_type"),
        )
    )
    return _drain_memory_sink(final, name).orderBy("user_id")


# ---------------------------------------------------------------------------
# Q154 — the Python DataSource seam E2E: the customer table scanned
# through format("pqrowgroup") (sources/pyds.py — one InputPartition
# per parquet row group, pyarrow read on the executor, Arrow-batch
# transfer) feeding a normal Catalyst aggregate, hash-matched against
# DuckDB reading the SAME parquet file. Proves the Spark 4 DataSource
# extension API end-to-end under the driver's vanilla session —
# registration happens inside the query (session-scoped).
# ---------------------------------------------------------------------------

def q154_pyds_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_data_pipeline_spark.sources.pyds import register_pqrowgroup

    register_pqrowgroup(spark)
    cust = (
        spark.read.format("pqrowgroup")
        .option("path", f"{sf_dir}/customer.parquet")
        .load()
    )
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (
                F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("long")) / 100.0
            ).alias("sum_acctbal"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
            F.countDistinct("c_nationkey").cast("long").alias("n_nations"),
        )
        .orderBy("c_mktsegment")
    )


QUERIES = {
    "q19_l2_topk": q19_l2_topk,
    "q20_exact_dedup": q20_exact_dedup,
    "q21_chunker": q21_chunker,
    "q22_knn_threshold": q22_knn_threshold,
    "q23_ngram_jaccard": q23_ngram_jaccard,
    "q24_minhash_lsh": q24_minhash_lsh,
    "q25_simhash": q25_simhash,
    "q26_cosine_neardup": q26_cosine_neardup,
    "q27_cosine_topk": q27_cosine_topk,
    "q28_ivf_ann": q28_ivf_ann,
    "q29_lang_profile": q29_lang_profile,
    "q30_quality_topk": q30_quality_topk,
    "q31_token_counts": q31_token_counts,
    "q32_fingerprint": q32_fingerprint,
    "q33_asof_join": q33_asof_join,
    "q34_sessionize": q34_sessionize,
    "q35_tumbling_window": q35_tumbling_window,
    "q36_multimodal_meta": q36_multimodal_meta,
    "q37_lang_id": q37_lang_id,
    "q38_rp_lsh_ann": q38_rp_lsh_ann,
    "q40_audio_meta": q40_audio_meta,
    "q41_streaming_tumbling": q41_streaming_tumbling,
    "q46_hash_sample": q46_hash_sample,
    "q48_dedup_keep_first": q48_dedup_keep_first,
    "q49_embed_knn": q49_embed_knn,
    "q51_group_normalize": q51_group_normalize,
    "q52_streaming_dedup": q52_streaming_dedup,
    "q54_top_tokens": q54_top_tokens,
    "q55_map_fns": q55_map_fns,
    "q56_contamination": q56_contamination,
    "q57_rule_filters": q57_rule_filters,
    "q58_variant_json": q58_variant_json,
    "q59_funnel": q59_funnel,
    "q60_cohort_retention": q60_cohort_retention,
    "q61_stratified_sample": q61_stratified_sample,
    "q62_chunk_embed_sim": q62_chunk_embed_sim,
    "q63_sliding_window": q63_sliding_window,
    "q64_array_hof": q64_array_hof,
    "q67_session_conversion": q67_session_conversion,
    "q71_lang_id_ngram": q71_lang_id_ngram,
    "q72_video_frames": q72_video_frames,
    "q73_streaming_sliding": q73_streaming_sliding,
    "q74_streaming_sessionize": q74_streaming_sessionize,
    "q78_array_set_fns": q78_array_set_fns,
    "q80_repetition_quality": q80_repetition_quality,
    "q82_blocked_neardup": q82_blocked_neardup,
    "q84_dedup_clusters": q84_dedup_clusters,
    "q85_explode_outer": q85_explode_outer,
    "q86_asof_forward": q86_asof_forward,
    "q87_concat_packing": q87_concat_packing,
    "q88_length_band_trim": q88_length_band_trim,
    "q89_shingle_containment": q89_shingle_containment,
    "q90_vocab_coverage": q90_vocab_coverage,
    "q91_curation_funnel": q91_curation_funnel,
    "q92_token_zipf": q92_token_zipf,
    "q93_part_cooccurrence": q93_part_cooccurrence,
    "q95_streaming_curation": q95_streaming_curation,
    "q96_prefix_jaccard": q96_prefix_jaccard,
    "q97_streaming_join": q97_streaming_join,
    "q98_pii_mask": q98_pii_mask,
    "q99_url_extract": q99_url_extract,
    "q100_split_assign": q100_split_assign,
    "q101_source_mixing": q101_source_mixing,
    "q102_tfidf_topk": q102_tfidf_topk,
    "q103_bigram_fluency": q103_bigram_fluency,
    "q104_embed_quant": q104_embed_quant,
    "q105_minhash_estimate": q105_minhash_estimate,
    "q106_kmeans_update": q106_kmeans_update,
    "q107_canonical_keeper": q107_canonical_keeper,
    "q108_incremental_dedup": q108_incremental_dedup,
    "q109_segment_dedup": q109_segment_dedup,
    "q110_label_dispersion": q110_label_dispersion,
    "q111_dupgraph_degree": q111_dupgraph_degree,
    "q112_gap_fill": q112_gap_fill,
    "q113_moving_median": q113_moving_median,
    "q152_e2e_pdf_qa": q152_e2e_pdf_qa,
    "q153_stateful_running_stats": q153_stateful_running_stats,
    "q154_pyds_scan": q154_pyds_scan,
}


# --- DuckDB oracle twins ----------------------------------------------------

_Q19_VEC = sql_lit_list(Q19_QUERY_VEC)
_L2_Q19 = sql_squared_l2("embedding", _Q19_VEC, EMBED_DIM)

from ai_data_pipeline_spark.functions.text import WS, WS_RUN, sql_word_ngrams

_SQL_WS = f"list_filter(string_split_regex(trim({{x}}), '{WS_RUN}'), w -> len(w) > 0)"
_SQL_NORM = (
    f"trim(regexp_replace(regexp_replace(lower({{x}}), '[^a-z0-9{WS}]', '', 'g'),"
    f" '{WS_RUN}', ' ', 'g'))"
)

_SQL_4GRAMS = sql_word_ngrams("text", 4)
_SQL_3GRAMS = sql_word_ngrams("text", 3)

# q24/q25 twins: DuckDB recomputes the md5_hash60 family bit-for-bit
# (see operators/dedup.py:md5_hash60).
_SQL_H60_SEEDED = "(('0x' || substr(md5(shingle || ':' || j), 1, 15))::BIGINT)"
_SQL_H60_TOK = "(('0x' || substr(md5(tok), 1, 15))::BIGINT)"
_Q25_BIT_SUMS = ", ".join(
    f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(60)
)
_Q25_SIMHASH = " + ".join(
    f"(CASE WHEN b{i} > 0 THEN (1::BIGINT << {i}) ELSE 0::BIGINT END)" for i in range(60)
)

_EN_STOP = "('en' IN ('en')) AND w IN ('the', 'a', 'of', 'and', 'to')"  # unused; kept simple below


def _q22_values() -> str:
    rows = ", ".join(
        f"({i}, {sql_lit_list(v)})" for i, v in enumerate(Q22_QUERY_VECS)
    )
    return f"(VALUES {rows}) AS q(qid, qvec)"


_L2_Q22 = sql_squared_l2("embedding", "qvec", EMBED_DIM)


def _q27_values() -> str:
    rows = ", ".join(
        f"({i}, {sql_lit_list(v)})" for i, v in enumerate(Q27_QUERY_VECS)
    )
    return f"(VALUES {rows}) AS q(qid, qvec)"


_COS_Q27 = (
    f"({sql_dot('embedding', 'qvec', EMBED_DIM)}) / "
    f"(({sql_norm('embedding', EMBED_DIM)}) * ({sql_norm('qvec', EMBED_DIM)}))"
)

_COS_PAIR = (
    f"({sql_dot('a.embedding', 'b.embedding', EMBED_DIM)}) / "
    f"(({sql_norm('a.embedding', EMBED_DIM)}) * ({sql_norm('b.embedding', EMBED_DIM)}))"
)

# fake_image_meta twin: byte k of md5 digest from hex chars (1-based
# positions 2k+1, 2k+2); strpos over the hex alphabet gives the nibble.
_HEXPOS = "(strpos('0123456789abcdef', substr(md5(text), {p}, 1)) - 1)"


def _md5_byte(k: int) -> str:
    return f"(16 * {_HEXPOS.format(p=2 * k + 1)} + {_HEXPOS.format(p=2 * k + 2)})"


_BYTE0 = _md5_byte(0)
_BYTE1 = _md5_byte(1)

# q37 twin: per-language stopword hit counts; argmax with the same
# tie-break (first code in sorted order wins — CASE checks equality
# against the max in sorted order). Built from LANG_STOPWORDS so the
# two engines can never drift.
_LANG_CODES = sorted(LANG_STOPWORDS)
_LANG_HITS = {
    code: (
        "len(list_filter("
        + _SQL_WS.format(x="text")
        + ", w -> w IN ("
        + ", ".join("'" + w.replace("'", "''") + "'" for w in LANG_STOPWORDS[code])
        + ")))"
    )
    for code in _LANG_CODES
}
_LANG_MAX = "greatest(" + ", ".join(f"h_{c}" for c in _LANG_CODES) + ")"
_LANG_ARGMAX = (
    f"CASE WHEN {_LANG_MAX} = 0 THEN 'und' "
    + " ".join(f"WHEN h_{c} = {_LANG_MAX} THEN '{c}'" for c in _LANG_CODES)
    + " END"
)

# q40 twin: fake_audio_features arithmetic from md5 bytes 0..5.
_B03 = f"((({_md5_byte(0)} * 256 + {_md5_byte(1)}) * 256 + {_md5_byte(2)}) * 256 + {_md5_byte(3)})"


ORACLE = {
    "q19_l2_topk": f"""
        SELECT vec_id, label, {_L2_Q19} AS dist
        FROM embeddings
        ORDER BY dist, vec_id
        LIMIT 5
    """,
    "q20_exact_dedup": f"""
        SELECT source,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT md5(text)) AS n_distinct,
               COUNT(*) - COUNT(DISTINCT md5(text)) AS n_exact_dups,
               COUNT(*) - COUNT(DISTINCT md5({_SQL_NORM.format(x='text')})) AS n_norm_dups
        FROM documents
        GROUP BY source
        ORDER BY source
    """,
    "q22_knn_threshold": f"""
        WITH dists AS (
            SELECT qid, vec_id, label, {_L2_Q22} AS dist
            FROM embeddings, {_q22_values()}
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rk
            FROM dists
        )
        SELECT qid, vec_id, dist,
               dist <= {Q22_THRESHOLD} AS accepted,
               CASE WHEN dist > {Q22_THRESHOLD} THEN '{Q22_SENTINEL.replace("'", "''")}'
                    ELSE CAST(label AS VARCHAR) END AS answer
        FROM ranked WHERE rk = 1
        ORDER BY qid
    """,
    "q23_ngram_jaccard": f"""
        WITH sh0 AS (
            SELECT DISTINCT doc_id AS id, unnest({_SQL_4GRAMS}) AS shingle
            FROM documents
        ), freq AS (
            SELECT shingle, COUNT(*) AS f FROM sh0 GROUP BY shingle
        ), sh AS (
            SELECT id, sh0.shingle
            FROM sh0 JOIN freq ON sh0.shingle = freq.shingle
            WHERE f <= {Q23_MAX_SHINGLE_FREQ}
        ), sizes AS (
            SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
        ), inter AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b, inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
               inter / (sa.n_sh + sb.n_sh - inter) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        ORDER BY jaccard DESC, id_a, id_b
        LIMIT 20
    """,
    # q24: the full MinHash+LSH pipeline in SQL — per-seed MIN
    # signatures over the md5_hash60 family, 8 bands × 4 rows keyed on
    # the in-band value list (digest equality ⇔ value-list equality),
    # exact-Jaccard verification over candidates only. Matching the
    # Spark output pins banding's false NEGATIVES as well as the
    # surviving pairs.
    "q24_minhash_lsh": f"""
        WITH sh AS (
            SELECT DISTINCT doc_id AS id, unnest({_SQL_3GRAMS}) AS shingle
            FROM documents
        ), sig AS (
            SELECT id, j, MIN({_SQL_H60_SEEDED}) AS mh
            FROM sh CROSS JOIN range(32) AS t(j)
            GROUP BY id, j
        ), bandkey AS (
            SELECT id, j // 4 AS band, string_agg(mh::VARCHAR, ',' ORDER BY j) AS bk
            FROM sig GROUP BY id, j // 4
        ), cand AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM bandkey a
            JOIN bandkey b ON a.band = b.band AND a.bk = b.bk AND a.id < b.id
        ), sizes AS (
            SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
        ), inter AS (
            SELECT id_a, id_b, COUNT(*) AS inter
            FROM cand
            JOIN sh sa ON sa.id = cand.id_a
            JOIN sh sb ON sb.id = cand.id_b AND sb.shingle = sa.shingle
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               inter / (sa.n_sh + sb.n_sh - inter) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE inter / (sa.n_sh + sb.n_sh - inter) >= '0.6'::DOUBLE
        ORDER BY jaccard DESC, id_a, id_b
        LIMIT 50
    """,
    # q25: 60 per-bit weighted sums over the md5_hash60 token family,
    # then exact all-pairs popcount — equal to the segment-blocked
    # Spark output because blocking has exact recall by pigeonhole.
    "q25_simhash": f"""
        WITH toks AS (
            SELECT doc_id AS id, unnest(string_split_regex(trim(text), '{WS_RUN}')) AS tok
            FROM documents
        ), tk AS (
            SELECT id, {_SQL_H60_TOK} AS h FROM toks WHERE len(tok) > 0
        ), bits AS (
            SELECT id, {_Q25_BIT_SUMS}
            FROM tk GROUP BY id
        ), sim AS (
            SELECT id, ({_Q25_SIMHASH}) AS simhash FROM bits
        )
        SELECT a.id AS id_a, b.id AS id_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM sim a JOIN sim b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        ORDER BY hamming, id_a, id_b
        LIMIT 50
    """,
    "q26_cosine_neardup": f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_PAIR} AS sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        ORDER BY sim DESC, id_a, id_b
        LIMIT 20
    """,
    "q27_cosine_topk": f"""
        WITH sims AS (
            SELECT qid, vec_id, {_COS_Q27} AS sim
            FROM embeddings, {_q27_values()}
        ), ranked AS (
            SELECT qid, vec_id, sim,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rk
            FROM sims
        )
        SELECT qid, vec_id, sim, rk FROM ranked WHERE rk <= 3
        ORDER BY qid, rk
    """,
    "q29_lang_profile": f"""
        WITH per_doc AS (
            SELECT lang,
                   len({_SQL_WS.format(x='text')}) AS n_tok,
                   len(list_filter({_SQL_WS.format(x='text')},
                       w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop,
                   length(text) AS n_chars,
                   length(text) - length(regexp_replace(text, '[^\\w{WS}]', '', 'g')) AS n_punct
            FROM documents
        )
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS tokens,
               CAST(SUM(n_stop) AS BIGINT) / CAST(SUM(n_tok) AS BIGINT) AS stop_ratio,
               CAST(SUM(n_punct) AS BIGINT) / CAST(SUM(n_chars) AS BIGINT) AS punct_ratio
        FROM per_doc
        GROUP BY lang
        ORDER BY lang
    """,
    "q30_quality_topk": f"""
        WITH feats AS (
            SELECT doc_id,
                   len({_SQL_WS.format(x='text')}) AS n_tok,
                   list_sum(list_transform({_SQL_WS.format(x='text')}, w -> len(w))) AS tok_chars,
                   len(list_filter({_SQL_WS.format(x='text')},
                       w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop
            FROM documents
        ), scored AS (
            SELECT doc_id,
                   CAST(n_tok AS BIGINT) AS n_tokens,
                   CASE WHEN n_tok > 0 THEN CAST(tok_chars AS BIGINT) / CAST(n_tok AS BIGINT) ELSE 0.0 END AS avg_token_len,
                   CASE WHEN n_tok > 0 THEN CAST(n_stop AS BIGINT) / CAST(n_tok AS BIGINT) ELSE 0.0 END AS stop_ratio
            FROM feats
        )
        SELECT doc_id, n_tokens, avg_token_len, stop_ratio,
               n_tokens * '0.01'::DOUBLE + avg_token_len * '1.0'::DOUBLE
                 + stop_ratio * '5.0'::DOUBLE AS quality
        FROM scored
        ORDER BY quality DESC, doc_id
        LIMIT 20
    """,
    "q31_token_counts": f"""
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(len({_SQL_WS.format(x='text')})) AS BIGINT) AS tokens_ws,
               CAST(SUM(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}'))) AS BIGINT) AS tokens_bpe
        FROM documents
        GROUP BY source
        ORDER BY source
    """,
    "q32_fingerprint": f"""
        SELECT doc_id,
               md5({_SQL_NORM.format(x='text')}) AS fp,
               CAST(strpos('0123456789abcdef', substr(md5({_SQL_NORM.format(x='text')}), 1, 1)) - 1 AS BIGINT) AS bucket
        FROM documents
        ORDER BY doc_id
    """,
    "q33_asof_join": """
        SELECT p.event_id AS event_id, p.user_id AS user_id, v.event_id AS view_event_id
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
          ON p.user_id = v.user_id AND v.ts <= p.ts
        ORDER BY event_id
    """,
    "q34_sessionize": """
        WITH flagged AS (
            SELECT user_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_ns(ts) - epoch_ns(lag(ts) OVER w) > 1800000000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        )
        SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        FROM flagged
        GROUP BY user_id
        ORDER BY user_id
    """,
    "q35_tumbling_window": """
        SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) // 1000 AS wstart_s,
               event_type, COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_value
        FROM events
        GROUP BY wstart_s, event_type
        ORDER BY wstart_s, event_type
    """,
    # identical to q35: the streaming replay must reproduce the batch
    # result exactly
    "q41_streaming_tumbling": """
        SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) // 1000 AS wstart_s,
               event_type, COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_value
        FROM events
        GROUP BY wstart_s, event_type
        ORDER BY wstart_s, event_type
    """,
    # q154 twin: DuckDB reads the same parquet file the pqrowgroup
    # DataSource ships through the Python extension seam.
    "q154_pyds_scan": """
        SELECT c_mktsegment,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_acctbal,
               MIN(c_custkey) AS min_key,
               MAX(c_custkey) AS max_key,
               CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations
        FROM customer
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    # q153 twin: the ts-ordered replay makes the processing-time
    # running state equal the batch aggregate; last_event_type =
    # arg_max over ts ((user_id, ts) is unique in the testdata —
    # verified before grading).
    "q153_stateful_running_stats": """
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(ROUND(COALESCE(value, 0) * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_value,
               arg_max(event_type, ts) AS last_event_type
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
    "q36_multimodal_meta": f"""
        SELECT doc_id AS id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS digest,
               CAST(64 + {_BYTE0} % 192 AS INTEGER) AS width,
               CAST(64 + {_BYTE1} % 192 AS INTEGER) AS height,
               CASE WHEN octet_length(encode(text)) > 0 THEN 'decoded' ELSE 'empty' END AS status
        FROM documents
        ORDER BY id
    """,
    "q37_lang_id": f"""
        WITH h AS (
            SELECT lang,
                   {", ".join(f"{_LANG_HITS[c]} AS h_{c}" for c in _LANG_CODES)}
            FROM documents
        )
        SELECT lang, {_LANG_ARGMAX} AS predicted, COUNT(*) AS n
        FROM h
        GROUP BY lang, predicted
        ORDER BY lang, predicted
    """,
    "q40_audio_meta": f"""
        SELECT doc_id AS id,
               CAST(500 + {_B03} % 60000 AS BIGINT) AS duration_ms,
               CAST(CASE {_md5_byte(4)} % 4
                    WHEN 0 THEN 8000 WHEN 1 THEN 16000
                    WHEN 2 THEN 22050 ELSE 44100 END AS INTEGER) AS sample_rate,
               CAST(1 + {_md5_byte(5)} % 2 AS INTEGER) AS n_channels,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents
        ORDER BY id
    """,
    "q46_hash_sample": """
        SELECT doc_id, source, lang, n_chars
        FROM documents
        WHERE substr(md5(text), 1, 1) = '0'
        ORDER BY doc_id
    """,
    "q48_dedup_keep_first": f"""
        WITH ranked AS (
            SELECT doc_id, source, lang,
                   ROW_NUMBER() OVER (
                       PARTITION BY md5({_SQL_NORM.format(x='text')})
                       ORDER BY doc_id
                   ) AS rn
            FROM documents
        )
        SELECT doc_id, source, lang FROM ranked WHERE rn = 1
        ORDER BY doc_id
    """,
    "q49_embed_knn": None,  # generated below (needs the encoder twin)
    "q67_session_conversion": """
        WITH ordered AS (
            SELECT user_id, epoch_ns(ts) AS t, event_type,
                   CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
                          OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w > 1800000000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts))
        ),
        sess AS (
            SELECT user_id, t, event_type,
                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM ordered
        ),
        per_sess AS (
            SELECT user_id, session_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   MIN(CASE WHEN event_type = 'view' THEN t END) AS t_view,
                   MAX(CASE WHEN event_type = 'purchase' THEN t END) AS t_purch
            FROM sess
            GROUP BY user_id, session_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_purch IS NOT NULL
                              AND t_purch > t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
               MAX(n_events) AS max_events
        FROM per_sess
    """,
    "q63_sliding_window": """
        WITH wins AS (
            SELECT event_type,
                   unnest([
                       epoch_ms(time_bucket(INTERVAL 30 MINUTES, ts)) // 1000,
                       epoch_ms(time_bucket(INTERVAL 30 MINUTES, ts)) // 1000 - 1800
                   ]) AS wstart_s
            FROM events
        )
        SELECT wstart_s, event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM wins
        GROUP BY wstart_s, event_type
        ORDER BY wstart_s, event_type
    """,
    "q64_array_hof": """
        WITH per_row AS (
            SELECT label,
                   CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
                   list_sum(list_transform(range(1, 65),
                            i -> greatest(CAST(embedding[i] AS DOUBLE), 0.0))) AS cs,
                   len(list_filter(embedding, x -> x < 0)) > 0 AS hn
            FROM embeddings
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(n_pos) AS BIGINT) AS total_pos,
               MAX(cs) AS max_clipped_sum,
               CAST(SUM(CASE WHEN hn THEN 1 ELSE 0 END) AS BIGINT) AS n_with_neg
        FROM per_row
        GROUP BY label
        ORDER BY label
    """,
    "q61_stratified_sample": """
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN (16 * (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1)
                                   + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1))
                                  < (CASE WHEN lang = 'en' THEN 64 ELSE 128 END)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    "q74_streaming_sessionize": """
        WITH flagged AS (
            SELECT user_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_ns(ts) - epoch_ns(lag(ts) OVER w) > 1800000000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        )
        SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        FROM flagged
        GROUP BY user_id
        ORDER BY user_id
    """,
    "q73_streaming_sliding": """
        WITH wins AS (
            SELECT event_type,
                   unnest([
                       epoch_ms(time_bucket(INTERVAL 30 MINUTES, ts)) // 1000,
                       epoch_ms(time_bucket(INTERVAL 30 MINUTES, ts)) // 1000 - 1800
                   ]) AS wstart_s
            FROM events
        )
        SELECT wstart_s, event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM wins
        GROUP BY wstart_s, event_type
        ORDER BY wstart_s, event_type
    """,
    "q72_video_frames": """
        WITH frames AS (
            SELECT doc_id AS id, text, unnest(range(0, 211, 30)) AS frame_no
            FROM documents
        )
        SELECT id,
               CAST(COUNT(*) AS BIGINT) AS n_frames,
               CAST(MIN(16 * (strpos('0123456789abcdef', substr(md5(text || ':' || CAST(frame_no AS VARCHAR)), 1, 1)) - 1)
                        + (strpos('0123456789abcdef', substr(md5(text || ':' || CAST(frame_no AS VARCHAR)), 2, 1)) - 1)) AS BIGINT) AS min_lum,
               CAST(MAX(16 * (strpos('0123456789abcdef', substr(md5(text || ':' || CAST(frame_no AS VARCHAR)), 1, 1)) - 1)
                        + (strpos('0123456789abcdef', substr(md5(text || ':' || CAST(frame_no AS VARCHAR)), 2, 1)) - 1)) AS BIGINT) AS max_lum,
               CAST(SUM(16 * (strpos('0123456789abcdef', substr(md5(text || ':' || CAST(frame_no AS VARCHAR)), 1, 1)) - 1)
                        + (strpos('0123456789abcdef', substr(md5(text || ':' || CAST(frame_no AS VARCHAR)), 2, 1)) - 1)) AS BIGINT) AS sum_lum
        FROM frames
        GROUP BY id
        ORDER BY id
    """,
    "q59_funnel": """
        WITH per_user AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'signup' THEN epoch_ns(ts) END) AS t_signup,
                   MIN(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END) AS t_view,
                   MIN(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END) AS t_purchase
            FROM events GROUP BY user_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
               CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_view IS NOT NULL
                              AND t_view > t_signup THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_view,
               CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_view IS NOT NULL
                              AND t_view > t_signup AND t_purchase IS NOT NULL
                              AND t_purchase > t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_view_purchase
        FROM per_user
    """,
    "q60_cohort_retention": """
        WITH weeks AS (
            SELECT DISTINCT user_id,
                   epoch_ns(ts) - epoch_ns(ts) % 604800000000000 AS week
            FROM events
        ),
        cohort AS (
            SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY user_id
        )
        SELECT cohort_week,
               CAST((week - cohort_week) // 604800000000000 AS BIGINT) AS weeks_since,
               CAST(COUNT(*) AS BIGINT) AS n_active
        FROM weeks JOIN cohort USING (user_id)
        GROUP BY cohort_week, weeks_since
        ORDER BY cohort_week, weeks_since
    """,
    "q58_variant_json": """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
               CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "q57_rule_filters": """
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN regexp_matches(text, '[a-z]{8,}') THEN 1 ELSE 0 END) AS BIGINT) AS n_longword,
               CAST(SUM(CASE WHEN regexp_matches(text, '(^| )spark( |$)') THEN 1 ELSE 0 END) AS BIGINT) AS n_has_spark,
               CAST(SUM(CASE WHEN len(string_split(text, ' ')) > 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_long_doc
        FROM documents
        GROUP BY source
        ORDER BY source
    """,
    "q56_contamination": f"""
        WITH b AS (
            SELECT DISTINCT unnest({sql_word_ngrams("text", 4)}) AS g
            FROM documents WHERE source = 'src0'
        ),
        c AS (
            SELECT doc_id, unnest(list_distinct({sql_word_ngrams("text", 4)})) AS g
            FROM documents WHERE source <> 'src0'
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM c JOIN b USING (g)
        GROUP BY doc_id
        HAVING COUNT(*) >= 3
        ORDER BY doc_id
    """,
    "q55_map_fns": """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               CAST(MAX(len(json_keys(props))) AS BIGINT) AS max_keys
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "q54_top_tokens": f"""
        WITH toks AS (
            SELECT doc_id, unnest({_SQL_WS.format(x='lower(text)')}) AS tok
            FROM documents
        )
        SELECT tok,
               CAST(COUNT(*) AS BIGINT) AS tf,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM toks
        GROUP BY tok
        ORDER BY tf DESC, tok
        LIMIT 30
    """,
    "q52_streaming_dedup": """
        SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "q51_group_normalize": """
        SELECT doc_id, source, n_chars,
               CASE WHEN MAX(n_chars) OVER w = MIN(n_chars) OVER w THEN 0.0
                    ELSE (n_chars - MIN(n_chars) OVER w)
                         / CAST(MAX(n_chars) OVER w - MIN(n_chars) OVER w AS DOUBLE)
               END AS norm_len
        FROM documents
        WINDOW w AS (PARTITION BY source)
        ORDER BY doc_id
    """,
}


def _q49_oracle() -> str:
    from ai_data_pipeline_spark.operators.embedding import (
        EMBED_DIM_DEFAULT,
        fake_text_encoder,
        sql_embed_components,
    )
    from ai_data_pipeline_spark.plans.constants import Q49_QUERY_TEXT

    emb = sql_embed_components("text", EMBED_DIM_DEFAULT)
    qvec = sql_lit_list(fake_text_encoder([Q49_QUERY_TEXT])[0])
    cos = (
        f"({sql_dot('emb', 'qvec', EMBED_DIM_DEFAULT)}) / "
        f"(({sql_norm('emb', EMBED_DIM_DEFAULT)}) * ({sql_norm('qvec', EMBED_DIM_DEFAULT)}))"
    )
    return f"""
        WITH e AS MATERIALIZED (SELECT doc_id, {emb} AS emb, {qvec} AS qvec FROM documents)
        SELECT doc_id, {cos} AS cos
        FROM e
        ORDER BY cos DESC, doc_id
        LIMIT 10
    """


ORACLE["q49_embed_knn"] = _q49_oracle()


def _q62_oracle() -> str:
    from ai_data_pipeline_spark.operators.embedding import (
        EMBED_DIM_DEFAULT,
        fake_text_encoder,
        sql_embed_components,
    )
    from ai_data_pipeline_spark.plans.constants import Q49_QUERY_TEXT

    size, overlap, stride = 200, 40, 160
    emb = sql_embed_components("chunk_text", EMBED_DIM_DEFAULT)
    qvec = sql_lit_list(fake_text_encoder([Q49_QUERY_TEXT])[0])
    cos = (
        f"({sql_dot('emb', 'qvec', EMBED_DIM_DEFAULT)}) / "
        f"(({sql_norm('emb', EMBED_DIM_DEFAULT)}) * ({sql_norm('qvec', EMBED_DIM_DEFAULT)}))"
    )
    # UDTF early-stop mirror: a start s is emitted iff s == 0 (and the
    # chunk is non-empty) or the PREVIOUS chunk did not reach the end
    # (s - stride + size < len ⇔ s < len - overlap).
    return f"""
        WITH chunks AS (
            SELECT doc_id, substr(text, s + 1, {size}) AS chunk_text
            FROM (
                SELECT doc_id, text,
                       unnest(range(0, greatest(len(text), 1), {stride})) AS s
                FROM documents
            )
            WHERE (s = 0 OR s < len(text) - {overlap})
              AND substr(text, s + 1, {size}) <> ''
        ),
        e AS MATERIALIZED (
            SELECT doc_id, {emb} AS emb, {qvec} AS qvec FROM chunks
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               MAX({cos}) AS best_cos
        FROM e
        GROUP BY doc_id
        ORDER BY doc_id
    """


ORACLE["q62_chunk_embed_sim"] = _q62_oracle()


def _q71_oracle() -> str:
    from ai_data_pipeline_spark.operators.text_analysis import LANG_CHAR_NGRAMS

    codes = sorted(LANG_CHAR_NGRAMS)
    t = "(' ' || lower(text) || ' ')"

    def count(g: str) -> str:
        esc = g.replace("'", "''")
        return f"((length({t}) - length(replace({t}, '{esc}', ''))) // {len(g)})"

    scores = {
        c: " + ".join(count(g) for g in LANG_CHAR_NGRAMS[c]) for c in codes
    }
    gmax = "greatest(" + ", ".join(f"h_{c}" for c in codes) + ")"
    argmax = (
        f"CASE WHEN {gmax} = 0 THEN 'und' "
        + " ".join(f"WHEN h_{c} = {gmax} THEN '{c}'" for c in codes)
        + " END"
    )
    return f"""
        WITH h AS (
            SELECT lang, {", ".join(f"({scores[c]}) AS h_{c}" for c in codes)}
            FROM documents
        )
        SELECT lang, {argmax} AS predicted, CAST(COUNT(*) AS BIGINT) AS n
        FROM h
        GROUP BY lang, predicted
        ORDER BY lang, predicted
    """


ORACLE["q71_lang_id_ngram"] = _q71_oracle()


_SQL_TOKS_LOWER = sql_word_ngrams("lower(text)", 1)
_SQL_BIGRAMS_LOWER = sql_word_ngrams("lower(text)", 2)

ORACLE["q78_array_set_fns"] = f"""
    WITH per_doc AS (
        SELECT source,
               len(t) AS n_tok,
               len(list_distinct(t)) AS n_distinct,
               len(list_filter(t, w -> w = 'a' OR w = 'the')) AS n_stop,
               list_min(t) AS min_tok,
               list_max(t) AS max_tok
        FROM (SELECT source, {_SQL_TOKS_LOWER} AS t FROM documents)
    )
    SELECT source,
           CAST(SUM(n_tok) AS BIGINT) AS tokens,
           CAST(SUM(n_distinct) AS BIGINT) AS distinct_tokens,
           CAST(SUM(n_stop) AS BIGINT) AS stop_tokens,
           MIN(min_tok) AS first_tok,
           MAX(max_tok) AS last_tok
    FROM per_doc
    GROUP BY source
    ORDER BY source
"""

ORACLE["q80_repetition_quality"] = f"""
    WITH toks AS (
        SELECT doc_id, {_SQL_TOKS_LOWER} AS t, {_SQL_BIGRAMS_LOWER} AS grams
        FROM documents
    ),
    base AS (
        SELECT doc_id, len(t) AS n_tok, len(list_distinct(t)) AS n_distinct
        FROM toks
    ),
    gcnt AS (
        SELECT doc_id, g, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(grams) AS g FROM toks)
        GROUP BY doc_id, g
    ),
    per_doc AS (
        SELECT doc_id, MAX(c) AS top_bigram_n, CAST(SUM(c) AS BIGINT) AS n_bigrams
        FROM gcnt GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(p.top_bigram_n AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE) AS top_bigram_frac,
           CAST(b.n_tok - b.n_distinct AS DOUBLE) / CAST(b.n_tok AS DOUBLE) AS dup_tok_frac,
           b.n_tok AS n_tok
    FROM base b JOIN per_doc p USING (doc_id)
    ORDER BY top_bigram_frac DESC, b.doc_id
    LIMIT 20
"""


def _q82_oracle() -> str:
    from ai_data_pipeline_spark.plans.constants import Q82_BANDS

    def bucket_expr(planes: list[list[float]]) -> str:
        terms = [
            f"(CASE WHEN ({sql_dot('embedding', sql_lit_list(p), EMBED_DIM)}) >= 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        ]
        return " + ".join(terms)

    b0 = bucket_expr(Q82_BANDS[0])
    b1 = bucket_expr(Q82_BANDS[1])
    return f"""
        WITH t AS (
            SELECT vec_id, embedding, ({b0}) AS b0, ({b1}) AS b1
            FROM embeddings
        ), cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM t a JOIN t b
              ON a.vec_id < b.vec_id AND (a.b0 = b.b0 OR a.b1 = b.b1)
        )
        SELECT id_a, id_b, {_COS_PAIR} AS sim
        FROM cand
        JOIN embeddings a ON a.vec_id = id_a
        JOIN embeddings b ON b.vec_id = id_b
        ORDER BY sim DESC, id_a, id_b
        LIMIT 20
    """


ORACLE["q82_blocked_neardup"] = _q82_oracle()

# q84: the q23 shingle/jaccard CTEs (same cap) feed a recursive-CTE
# transitive closure; UNION's set semantics terminate the recursion.
ORACLE["q84_dedup_clusters"] = f"""
    WITH RECURSIVE sh0 AS (
        SELECT DISTINCT doc_id AS id, unnest({_SQL_4GRAMS}) AS shingle
        FROM documents
    ), freq AS (
        SELECT shingle, COUNT(*) AS f FROM sh0 GROUP BY shingle
    ), sh AS (
        SELECT id, sh0.shingle
        FROM sh0 JOIN freq ON sh0.shingle = freq.shingle
        WHERE f <= {Q23_MAX_SHINGLE_FREQ}
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE inter / (sa.n_sh + sb.n_sh - inter) >= '0.6'::DOUBLE
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs
    ), reach AS (
        SELECT a AS id, a AS lab FROM edges
        UNION
        SELECT e.a AS id, r.lab AS lab FROM edges e JOIN reach r ON r.id = e.b
    )
    SELECT id AS doc_id, MIN(lab) AS cluster_id
    FROM reach GROUP BY id ORDER BY doc_id
"""

ORACLE["q85_explode_outer"] = f"""
    WITH per_doc AS (
        SELECT doc_id,
               len(list_filter({_SQL_WS.format(x='lower(text)')}, t -> len(t) > 9)) AS n_long
        FROM documents
    )
    SELECT CAST(SUM(CASE WHEN n_long = 0 THEN 1 ELSE n_long END) AS BIGINT) AS n_rows,
           CAST(SUM(n_long) AS BIGINT) AS n_tokens,
           COUNT(DISTINCT doc_id) AS n_docs,
           CAST(SUM(CASE WHEN n_long = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_docs
    FROM per_doc
"""

ORACLE["q86_asof_forward"] = """
    SELECT v.event_id AS event_id, v.user_id AS user_id,
           p.event_id AS purchase_event_id,
           epoch_ns(p.ts) - epoch_ns(v.ts) AS wait_ns
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id AND v.ts <= p.ts
    ORDER BY event_id
"""

# --- q28 / q38 twins: deterministic ANN paths are oracle-expressible --------
# Both "approximate" searches are exact arithmetic end-to-end: cell /
# bucket assignment is a deterministic expression over the same
# literals, and probe-set selection is driver-side math reproduced
# here in pure Python with the SAME left-to-right float accumulation
# as the numpy kernels (each CPython float op is the same correctly-
# rounded IEEE double op). So the whole search hash-matches.


def _sqdist_py(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for i in range(len(a)):
        d = a[i] - b[i]
        acc = acc + d * d
    return acc


def _dot_py(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for i in range(len(a)):
        acc = acc + a[i] * b[i]
    return acc


def _q28_oracle() -> str:
    # probe cells per query: the 2 nearest centroids (ties → lowest
    # index), mirroring ivf_search_cosine_np's lexsort selection
    probes = {}
    for qi, qv in enumerate(Q27_QUERY_VECS):
        cd = [_sqdist_py(c, qv) for c in Q28_CENTROIDS]
        probes[qi] = sorted(range(len(Q28_CENTROIDS)), key=lambda c: (cd[c], c))[:2]
    qrows = ", ".join(
        f"({qi}, {sql_lit_list(v)}, {list(probes[qi])})"
        for qi, v in enumerate(Q27_QUERY_VECS)
    )
    # cell = argmin centroid distance (ties → lowest index):
    # list_sort over (dist, idx) structs compares field-wise; element
    # 1 is the minimum (DuckDB's least() rejects structs)
    cells = ", ".join(
        f"struct_pack(d := {sql_squared_l2('embedding', sql_lit_list(c), EMBED_DIM)}, c := {ci})"
        for ci, c in enumerate(Q28_CENTROIDS)
    )
    cos = (
        f"({sql_dot('embedding', 'qvec', EMBED_DIM)}) / "
        f"(({sql_norm('embedding', EMBED_DIM)}) * ({sql_norm('qvec', EMBED_DIM)}))"
    )
    return f"""
        WITH assigned AS (
            SELECT vec_id, embedding,
                   struct_extract((list_sort([{cells}]))[1], 'c') AS cell
            FROM embeddings
        ), sims AS (
            SELECT q.qid, a.vec_id, {cos.replace('embedding', 'a.embedding')} AS sim
            FROM assigned a
            JOIN (VALUES {qrows}) AS q(qid, qvec, cells)
              ON list_contains(q.cells, a.cell)
        ), ranked AS (
            SELECT qid, vec_id, sim,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rk
            FROM sims
        )
        SELECT qid, vec_id, sim, rk FROM ranked WHERE rk <= 3
        ORDER BY qid, rk
    """


def _q38_oracle() -> str:
    from ai_data_pipeline_spark.plans.constants import Q38_PLANES

    # per-query probe set: own sign-bit bucket + all Hamming-1 buckets
    probes = {}
    nb = len(Q38_PLANES)
    for qi, qv in enumerate(Q27_QUERY_VECS):
        b = 0
        for i, p in enumerate(Q38_PLANES):
            b |= int(_dot_py(qv, p) >= 0.0) << i
        cells = {b} | {b ^ (1 << i) for i in range(nb)}
        probes[qi] = sorted(cells)
    qrows = ", ".join(
        f"({qi}, {sql_lit_list(v)}, {probes[qi]})"
        for qi, v in enumerate(Q27_QUERY_VECS)
    )
    bucket = " + ".join(
        f"(CASE WHEN ({sql_dot('embedding', sql_lit_list(p), EMBED_DIM)}) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(Q38_PLANES)
    )
    cos = (
        f"({sql_dot('embedding', 'qvec', EMBED_DIM)}) / "
        f"(({sql_norm('embedding', EMBED_DIM)}) * ({sql_norm('qvec', EMBED_DIM)}))"
    )
    return f"""
        WITH assigned AS (
            SELECT vec_id, embedding, ({bucket}) AS bucket
            FROM embeddings
        ), sims AS (
            SELECT q.qid, a.vec_id, {cos.replace('embedding', 'a.embedding')} AS sim
            FROM assigned a
            JOIN (VALUES {qrows}) AS q(qid, qvec, cells)
              ON list_contains(q.cells, a.bucket)
        ), ranked AS (
            SELECT qid, vec_id, sim,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rk
            FROM sims
        )
        SELECT qid, vec_id, sim, rk FROM ranked WHERE rk <= 3
        ORDER BY qid, rk
    """


ORACLE["q28_ivf_ann"] = _q28_oracle()
ORACLE["q38_rp_lsh_ann"] = _q38_oracle()


# q96 twin: the FULL exact jaccard join (no prefix filter) at the same
# threshold — matching it proves the prefix candidates are complete.
ORACLE["q96_prefix_jaccard"] = f"""
    WITH sh AS (
        SELECT DISTINCT doc_id AS id, unnest({_SQL_4GRAMS}) AS shingle
        FROM documents
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
           inter / (sa.n_sh + sb.n_sh - inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE inter / (sa.n_sh + sb.n_sh - inter) >= '0.6'::DOUBLE
    ORDER BY jaccard DESC, id_a, id_b
"""

# q98 twin: identical deterministic PII injection, the same portable
# regexes with DuckDB's 'g' flag matching Spark's replace-all default.
ORACLE["q98_pii_mask"] = f"""
    WITH aug AS (
        SELECT source,
               text ||
               CASE WHEN doc_id % 3 = 0
                    THEN ' contact user' || doc_id || '@mail.example.com'
                    ELSE '' END ||
               CASE WHEN doc_id % 5 = 0
                    THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    ELSE '' END AS t
        FROM documents
    ), per_doc AS (
        SELECT source,
               len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_email,
               len(regexp_extract_all(t, '{_PII_PHONE}')) AS n_phone,
               length(regexp_replace(
                   regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_PHONE}', '<PHONE>', 'g')) AS masked_len,
               length(t) AS raw_len
        FROM aug
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_email) AS BIGINT) AS emails_masked,
           CAST(SUM(n_phone) AS BIGINT) AS phones_masked,
           CAST(SUM(CASE WHEN n_email + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_with_pii,
           CAST(SUM(raw_len - masked_len) AS BIGINT) AS chars_delta
    FROM per_doc GROUP BY source ORDER BY source
"""

ORACLE["q99_url_extract"] = """
    WITH d AS (
        SELECT source, n_chars,
               regexp_extract(
                   text || ' see https://site' || (doc_id % 7)
                        || '.example.org/p/' || (doc_id % 13) || ' for more',
                   'https://([a-z0-9.]+)/', 1) AS domain
        FROM documents WHERE doc_id % 2 = 0
    )
    SELECT domain, COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM d
    WHERE domain NOT IN ('site0.example.org', 'site1.example.org')
    GROUP BY domain ORDER BY domain
"""

ORACLE["q100_split_assign"] = """
    WITH b AS (
        SELECT lang, n_chars,
               ('0x' || substr(md5(text), 1, 4))::BIGINT % 100 AS bucket
        FROM documents
    )
    SELECT CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split,
           lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM b GROUP BY split, lang ORDER BY split, lang
"""

ORACLE["q101_source_mixing"] = """
    WITH per_src AS (
        SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars_s
        FROM documents GROUP BY source
    ), w AS (
        SELECT source, n_docs, chars_s,
               CAST(floor(sqrt(sqrt(
                   CAST(chars_s AS DOUBLE) / CAST(SUM(chars_s) OVER () AS DOUBLE)
               )) * 1000000000000.0) AS BIGINT) AS wi
        FROM per_src
    )
    SELECT source, n_docs, chars_s,
           CAST(wi AS DOUBLE) / CAST(SUM(wi) OVER () AS DOUBLE) AS mix_frac
    FROM w ORDER BY source
"""

ORACLE["q102_tfidf_topk"] = f"""
    WITH tf AS (
        SELECT source, tok, COUNT(*) AS tf
        FROM (SELECT source, unnest({_SQL_WS.format(x='lower(text)')}) AS tok
              FROM documents)
        GROUP BY source, tok
    ), scored AS (
        SELECT source, tok, tf,
               COUNT(*) OVER (PARTITION BY tok) AS df,
               CAST((tf * 1000000) // COUNT(*) OVER (PARTITION BY tok) AS BIGINT)
                   AS score
        FROM tf
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY score DESC, tok) AS rk
        FROM scored
    )
    SELECT source, tok, tf, df, score, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5 ORDER BY source, rk
"""

_SQL_2GRAMS_LOWER = sql_word_ngrams("lower(text)", 2)
_Q103_LADDER = _sql_log2_bucket_case("c")

ORACLE["q103_bigram_fluency"] = f"""
    WITH grams AS (
        SELECT doc_id, unnest({_SQL_2GRAMS_LOWER}) AS g FROM documents
    ), c AS (
        SELECT doc_id, COUNT(*) OVER (PARTITION BY g) AS c FROM grams
    ), b AS (
        SELECT doc_id, {_Q103_LADDER} AS bucket FROM c
    ), per_doc AS (
        SELECT doc_id, COUNT(*) AS n_bigrams,
               CAST(SUM(bucket) AS BIGINT) AS sum_bucket
        FROM b GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams,
           CAST(sum_bucket AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS fluency
    FROM per_doc ORDER BY fluency ASC, doc_id LIMIT 20
"""

# q104 twin: q_i is a pure function of e_i, so the reconstruction
# error recomputes it inline instead of a list_zip (same values).
_Q104_RAWQ = "floor(CAST(e AS DOUBLE) * 64)"
_Q104_Q = f"greatest(least({_Q104_RAWQ}, 127), -128)"
ORACLE["q104_embed_quant"] = f"""
    SELECT vec_id,
           CAST(len(list_filter(embedding,
                e -> {_Q104_RAWQ} > 127 OR {_Q104_RAWQ} < -128)) AS BIGINT)
               AS n_clipped,
           CAST(list_sum(list_transform(embedding,
                e -> CAST(abs({_Q104_Q}) AS BIGINT))) AS BIGINT) AS l1_q,
           list_max(list_transform(embedding,
                e -> abs(CAST(e AS DOUBLE) - {_Q104_Q} / 64.0))) AS max_abs_err
    FROM embeddings
    ORDER BY max_abs_err DESC, vec_id LIMIT 20
"""

ORACLE["q112_gap_fill"] = """
    WITH bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS h0,
               date_trunc('hour', MAX(ts)) AS h1
        FROM events
    ), hours AS (
        SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        FROM bounds
    ), types AS (
        SELECT DISTINCT event_type FROM events
    ), spine AS (
        SELECT hour, event_type FROM hours CROSS JOIN types
    ), counts AS (
        SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n0
        FROM events GROUP BY 1, 2
    )
    SELECT s.event_type,
           epoch_ms(s.hour) // 1000 AS hour_s,
           CAST(COALESCE(c.n0, 0) AS BIGINT) AS n,
           c.n0 IS NULL AS is_gap
    FROM spine s
    LEFT JOIN counts c ON c.hour = s.hour AND c.event_type = s.event_type
    ORDER BY s.event_type, hour_s
"""

ORACLE["q113_moving_median"] = """
    WITH v AS (
        SELECT event_id, user_id,
               CAST(ROUND(value * 10000) AS BIGINT) AS v4, ts
        FROM events
    )
    SELECT event_id, user_id,
           v4 / 10000.0 AS value,
           median(v4) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
               / 10000.0 AS moving_median
    FROM v ORDER BY event_id
"""

ORACLE["q108_incremental_dedup"] = """
    WITH hist AS (
        SELECT DISTINCT md5(text) AS digest FROM documents WHERE source <> 'src0'
    ), batch AS (
        SELECT doc_id, lang, md5(text) AS digest,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
        FROM documents WHERE source = 'src0'
    ), j AS (
        SELECT b.lang, b.rk, (h.digest IS NOT NULL) AS in_hist
        FROM batch b LEFT JOIN hist h ON h.digest = b.digest
    )
    SELECT lang, COUNT(*) AS n_batch,
           CAST(SUM(CASE WHEN NOT in_hist AND rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_admitted,
           CAST(SUM(CASE WHEN in_hist THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped_history,
           CAST(SUM(CASE WHEN NOT in_hist AND rk > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped_batch
    FROM j GROUP BY lang ORDER BY lang
"""

_SQL_WS_LOWER = _SQL_WS.format(x="lower(text)")
ORACLE["q109_segment_dedup"] = f"""
    WITH base AS (
        SELECT doc_id, {_SQL_WS_LOWER} AS ws FROM documents
    ), segs AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(0, CAST(ceil(len(ws) / 10.0) AS INTEGER) - 1),
                   k -> array_to_string(ws[(k * 10 + 1):(k * 10 + 10)], ' ')
               )) AS seg
        FROM base
    ), flagged AS (
        SELECT doc_id,
               len(string_split(seg, ' ')) AS seg_len,
               COUNT(*) OVER (PARTITION BY seg) > 2 AS dropped
        FROM segs
    )
    SELECT doc_id, COUNT(*) AS n_segments,
           CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN NOT dropped THEN seg_len ELSE 0 END) AS BIGINT)
               AS retained_tok
    FROM flagged GROUP BY doc_id
    ORDER BY n_dropped DESC, doc_id LIMIT 20
"""

_Q110_DOT = sql_dot("embedding", "embedding", EMBED_DIM)
ORACLE["q110_label_dispersion"] = f"""
    WITH norms AS (
        SELECT label,
               CAST(floor(({_Q110_DOT}) * 1000000.0) AS BIGINT) AS q2
        FROM embeddings
    ), per_label AS (
        SELECT label, COUNT(*) AS n, CAST(SUM(q2) AS BIGINT) AS s_q2
        FROM norms GROUP BY label
    ), dims AS (
        SELECT label, j AS dim,
               CAST(floor(CAST(embedding[j + 1] AS DOUBLE) * 1000000) AS BIGINT) AS v6
        FROM embeddings CROSS JOIN range({EMBED_DIM}) AS t(j)
    ), per_dim AS (
        SELECT label, dim, COUNT(*) AS n_d, CAST(SUM(v6) AS BIGINT) AS s6
        FROM dims GROUP BY label, dim
    ), cent AS (
        SELECT label,
               CAST(SUM(CAST(floor(
                   (CAST(s6 AS DOUBLE) / CAST(n_d AS DOUBLE) / 1000000.0)
                   * (CAST(s6 AS DOUBLE) / CAST(n_d AS DOUBLE) / 1000000.0)
                   * 1000000000000.0) AS BIGINT)) AS BIGINT) AS s_m12
        FROM per_dim GROUP BY label
    )
    SELECT CAST(p.label AS BIGINT) AS label, p.n,
           CAST(s_q2 AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS mean_sq_norm,
           CAST(s_m12 AS DOUBLE) / 1000000000000.0 AS centroid_sq_norm,
           CAST(s_q2 AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0
               - CAST(s_m12 AS DOUBLE) / 1000000000000.0 AS dispersion
    FROM per_label p JOIN cent c ON c.label = p.label
    ORDER BY label
"""

_Q111_LADDER = _sql_log2_bucket_case("degree")
ORACLE["q111_dupgraph_degree"] = f"""
    WITH sh0 AS (
        SELECT DISTINCT doc_id AS id, unnest({_SQL_4GRAMS}) AS shingle
        FROM documents
    ), freq AS (
        SELECT shingle, COUNT(*) AS f FROM sh0 GROUP BY shingle
    ), sh AS (
        SELECT id, sh0.shingle
        FROM sh0 JOIN freq ON sh0.shingle = freq.shingle
        WHERE f <= {Q23_MAX_SHINGLE_FREQ}
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE inter / (sa.n_sh + sb.n_sh - inter) >= '0.6'::DOUBLE
    ), sym AS (
        SELECT id_a, id_b FROM pairs
        UNION ALL
        SELECT id_b, id_a FROM pairs
    ), deg AS (
        SELECT id_a, COUNT(*) AS degree FROM sym GROUP BY id_a
    )
    SELECT {_Q111_LADDER} AS deg_bucket, COUNT(*) AS n_nodes
    FROM deg GROUP BY deg_bucket ORDER BY deg_bucket
"""

# q105 twin: exact 3-gram jaccard pairs + the same md5_hash60 MinHash
# family recomputed per seed (q24's recipe, k=16), agreement counted
# in long format on the seed index.
ORACLE["q105_minhash_estimate"] = f"""
    WITH sh AS (
        SELECT DISTINCT doc_id AS id, unnest({_SQL_3GRAMS}) AS shingle
        FROM documents
    ), freq AS (
        SELECT shingle, COUNT(*) AS f FROM sh GROUP BY shingle
    ), shc AS (
        SELECT id, sh.shingle
        FROM sh JOIN freq ON sh.shingle = freq.shingle
        WHERE f <= {Q23_MAX_SHINGLE_FREQ}
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM shc GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b,
               inter / (sa.n_sh + sb.n_sh - inter) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE inter / (sa.n_sh + sb.n_sh - inter) >= '0.5'::DOUBLE
    ), sig AS (
        SELECT id, j, MIN({_SQL_H60_SEEDED}) AS mh
        FROM sh CROSS JOIN range(16) AS t(j)
        GROUP BY id, j
    ), m AS (
        SELECT p.id_a, p.id_b, p.jaccard,
               CAST(COUNT(CASE WHEN a.mh = b.mh THEN 1 END) AS BIGINT) AS k_match
        FROM pairs p
        JOIN sig a ON a.id = p.id_a
        JOIN sig b ON b.id = p.id_b AND b.j = a.j
        GROUP BY 1, 2, 3
    )
    SELECT id_a, id_b, jaccard, k_match,
           k_match / 16.0 AS mh_est,
           abs(k_match / 16.0 - jaccard) AS est_err
    FROM m ORDER BY id_a, id_b
"""

# q106 twin: exact integer assignment — quantize to v6 BIGINTs first,
# distances as pure-integer subquery columns against the SAME inlined
# c6 literals the Spark side uses, argmin CASE, fixed-point sums.
from ai_data_pipeline_spark.functions.vector import (  # noqa: E402
    sql_int_list,
    sql_quantize_q6,
    sql_squared_l2_q6,
)

_Q106_D6 = [
    f"({sql_squared_l2_q6('v6l', sql_int_list(c6), EMBED_DIM)})" for c6 in Q106_C6
]
_Q106_ASSIGN_SQL = f"""
    q AS (
        SELECT *, {sql_quantize_q6('embedding', EMBED_DIM)} AS v6l
        FROM embeddings
    ), dists AS (
        SELECT *, {_Q106_D6[0]} AS d0, {_Q106_D6[1]} AS d1,
               {_Q106_D6[2]} AS d2, {_Q106_D6[3]} AS d3
        FROM q
    ), assigned AS (
        SELECT *, CAST(CASE WHEN d0 <= d1 AND d0 <= d2 AND d0 <= d3 THEN 0
                            WHEN d1 <= d2 AND d1 <= d3 THEN 1
                            WHEN d2 <= d3 THEN 2 ELSE 3 END AS BIGINT) AS cluster_id
        FROM dists
    )
"""
ORACLE["q106_kmeans_update"] = f"""
    WITH {_Q106_ASSIGN_SQL}, expl AS (
        SELECT cluster_id, CAST(j AS BIGINT) AS dim, v6l[j + 1] AS v6
        FROM assigned CROSS JOIN range({EMBED_DIM}) AS t(j)
    )
    SELECT cluster_id, dim, COUNT(*) AS n,
           CAST(SUM(v6) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0
               AS centroid_val
    FROM expl GROUP BY cluster_id, dim ORDER BY cluster_id, dim
"""

# q107 twin: q84's recursive-CTE closure + a row_number keeper window.
ORACLE["q107_canonical_keeper"] = f"""
    WITH RECURSIVE sh0 AS (
        SELECT DISTINCT doc_id AS id, unnest({_SQL_4GRAMS}) AS shingle
        FROM documents
    ), freq AS (
        SELECT shingle, COUNT(*) AS f FROM sh0 GROUP BY shingle
    ), sh AS (
        SELECT id, sh0.shingle
        FROM sh0 JOIN freq ON sh0.shingle = freq.shingle
        WHERE f <= {Q23_MAX_SHINGLE_FREQ}
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE inter / (sa.n_sh + sb.n_sh - inter) >= '0.6'::DOUBLE
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs
    ), reach AS (
        SELECT a AS id, a AS lab FROM edges
        UNION
        SELECT e.a AS id, r.lab AS lab FROM edges e JOIN reach r ON r.id = e.b
    ), clusters AS (
        SELECT id AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY id
    ), ranked AS (
        SELECT c.cluster_id, c.doc_id, d.n_chars,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                  ORDER BY d.n_chars DESC, c.doc_id) AS rk
        FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT cluster_id,
           CAST(MAX(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS keeper_id,
           COUNT(*) AS n_members,
           CAST(MAX(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS chars_kept,
           CAST(SUM(CASE WHEN rk > 1 THEN n_chars ELSE 0 END) AS BIGINT)
               AS chars_dropped
    FROM ranked GROUP BY cluster_id ORDER BY cluster_id
"""

# q97 twin: the stream-stream interval join as a batch self-join —
# views of the same user within [purchase_ts - 1h, purchase_ts],
# per-purchase stats. Both engines compare identical µs instants.
ORACLE["q97_streaming_join"] = """
    WITH p AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), v AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
    )
    SELECT p.event_id AS purchase_id,
           COUNT(*) AS n_views,
           CAST(MIN(v.event_id) AS BIGINT) AS first_view_id,
           CAST(MAX(v.event_id) AS BIGINT) AS last_view_id
    FROM p JOIN v
      ON v.user_id = p.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL 1 HOUR
    GROUP BY purchase_id
    ORDER BY purchase_id
"""

# q95 twin: batch DISTINCT over (source, raw text) + the same quality
# predicate the stream applies (>=10 ws tokens, avg raw token length
# in [2, 15] computed as exact-int division).
ORACLE["q95_streaming_curation"] = f"""
    WITH uniq AS (
        SELECT DISTINCT source, text FROM documents
    ), feats AS (
        SELECT source,
               len({_SQL_WS.format(x='text')}) AS n_tok,
               list_sum(list_transform({_SQL_WS.format(x='text')}, w -> len(w))) AS tok_chars
        FROM uniq
    )
    SELECT source,
           COUNT(*) AS n_curated,
           CAST(SUM(n_tok) AS BIGINT) AS tok_curated
    FROM feats
    WHERE n_tok >= 10
      AND (CASE WHEN n_tok > 0
                THEN CAST(tok_chars AS BIGINT) / CAST(n_tok AS BIGINT)
                ELSE 0.0 END) BETWEEN 2.0 AND 15.0
    GROUP BY source
    ORDER BY source
"""

ORACLE["q92_token_zipf"] = f"""
    WITH tf AS (
        SELECT tok, COUNT(*) AS c
        FROM (SELECT unnest({_SQL_WS.format(x='lower(text)')}) AS tok FROM documents)
        GROUP BY tok
    )
    SELECT {_sql_log2_bucket_case('c')} AS freq_bucket,
           COUNT(*) AS n_tokens,
           CAST(SUM(c) AS BIGINT) AS n_occurrences
    FROM tf GROUP BY freq_bucket ORDER BY freq_bucket
"""

ORACLE["q93_part_cooccurrence"] = """
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20
"""

ORACLE["q91_curation_funnel"] = f"""
    WITH base AS (
        SELECT source, doc_id,
               md5({_SQL_NORM.format(x='text')}) AS digest,
               len({_SQL_WS.format(x='text')}) AS n_tok,
               list_sum(list_transform({_SQL_WS.format(x='text')}, w -> len(w))) AS tok_chars
        FROM documents
    ), s1 AS (
        SELECT source, doc_id, n_tok, tok_chars FROM (
            SELECT base.*, ROW_NUMBER() OVER (PARTITION BY digest ORDER BY doc_id) AS rn_d
            FROM base
        ) WHERE rn_d = 1
    ), s2 AS (
        SELECT source, doc_id, n_tok FROM s1
        WHERE n_tok >= 10
          AND (CASE WHEN n_tok > 0
                    THEN CAST(tok_chars AS BIGINT) / CAST(n_tok AS BIGINT)
                    ELSE 0.0 END) BETWEEN 2.0 AND 15.0
    ), s3 AS (
        SELECT source, n_tok,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM s2
    ), s4 AS (
        SELECT source, n_tok,
               MAX(CASE WHEN rn = CAST(ceil(n * 0.1) AS BIGINT) THEN n_tok END)
                   OVER (PARTITION BY source) AS p10,
               MAX(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN n_tok END)
                   OVER (PARTITION BY source) AS p90
        FROM s3
    ), band AS (
        SELECT source,
               CAST(SUM(CASE WHEN n_tok BETWEEN p10 AND p90 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN n_tok BETWEEN p10 AND p90 THEN n_tok ELSE 0 END) AS BIGINT) AS tok_kept
        FROM s4 GROUP BY source
    ), raw AS (
        SELECT source, COUNT(*) AS n_raw FROM base GROUP BY source
    ), ded AS (
        SELECT source, COUNT(*) AS n_dedup FROM s1 GROUP BY source
    ), qual AS (
        SELECT source, COUNT(*) AS n_quality FROM s2 GROUP BY source
    )
    SELECT raw.source AS source, n_raw,
           COALESCE(n_dedup, 0) AS n_dedup,
           COALESCE(n_quality, 0) AS n_quality,
           COALESCE(n_kept, 0) AS n_kept,
           COALESCE((tok_kept + {Q87_BUDGET} - 1) // {Q87_BUDGET}, 0) AS n_seqs
    FROM raw
    LEFT JOIN ded USING (source)
    LEFT JOIN qual USING (source)
    LEFT JOIN band USING (source)
    ORDER BY source
"""

ORACLE["q89_shingle_containment"] = f"""
    WITH sh0 AS (
        SELECT DISTINCT doc_id AS id, unnest({_SQL_4GRAMS}) AS shingle
        FROM documents
    ), freq AS (
        SELECT shingle, COUNT(*) AS f FROM sh0 GROUP BY shingle
    ), sh AS (
        SELECT id, sh0.shingle
        FROM sh0 JOIN freq ON sh0.shingle = freq.shingle
        WHERE f <= {Q23_MAX_SHINGLE_FREQ}
    ), sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id <> b.id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter, sa.n_sh AS n_a, inter / sa.n_sh AS containment
    FROM inter JOIN sizes sa ON sa.id = id_a
    ORDER BY containment DESC, id_a, id_b
    LIMIT 20
"""

ORACLE["q90_vocab_coverage"] = f"""
    WITH toks AS (
        SELECT source, unnest({_SQL_WS.format(x='lower(text)')}) AS tok
        FROM documents
    ), vocab AS (
        SELECT tok FROM (
            SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
            ORDER BY c DESC, tok LIMIT 500
        )
    ), flagged AS (
        SELECT source, CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END AS iv
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
    )
    SELECT source,
           COUNT(*) AS n_tok,
           CAST(SUM(iv) AS BIGINT) AS n_in_vocab,
           CAST(SUM(iv) AS BIGINT) / COUNT(*) AS coverage
    FROM flagged GROUP BY source ORDER BY source
"""

ORACLE["q88_length_band_trim"] = f"""
    WITH base AS (
        SELECT source, doc_id, len({_SQL_WS.format(x='text')}) AS n_tok
        FROM documents
    ), ranked AS (
        SELECT source, n_tok,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM base
    ), marked AS (
        SELECT source, n_tok, n,
               MAX(CASE WHEN rn = CAST(ceil(n * 0.1) AS BIGINT) THEN n_tok END)
                   OVER (PARTITION BY source) AS p10,
               MAX(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN n_tok END)
                   OVER (PARTITION BY source) AS p90
        FROM ranked
    )
    SELECT source,
           MAX(n) AS n_docs,
           MAX(p10) AS p10,
           MAX(p90) AS p90,
           CAST(SUM(CASE WHEN n_tok BETWEEN p10 AND p90 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN n_tok BETWEEN p10 AND p90 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
    FROM marked GROUP BY source ORDER BY source
"""

ORACLE["q87_concat_packing"] = f"""
    WITH t0 AS (
        SELECT source, doc_id, len({_SQL_WS.format(x='text')}) AS n_tok
        FROM documents
    ), t AS (
        SELECT source, n_tok,
               SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t0
    ), s AS (
        SELECT source, n_tok, cum,
               (cum - n_tok) // {Q87_BUDGET} AS start_seq,
               greatest(cum - 1, cum - n_tok) // {Q87_BUDGET} AS end_seq
        FROM t
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tok,
           CAST((MAX(cum) + {Q87_BUDGET} - 1) // {Q87_BUDGET} AS BIGINT) AS n_seqs,
           CAST(SUM(CASE WHEN end_seq > start_seq THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning,
           CAST(MAX(end_seq - start_seq) AS BIGINT) AS max_span
    FROM s GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# Q162 — tokenizer fertility per language: BPE-ish tokens per
# whitespace word (the tokenizer-efficiency signal a multilingual
# training mix is balanced on — high fertility = the tokenizer
# fragments that language). Counts are exact BIGINTs; fertility is
# ONE IEEE division of two exact integers (bit-identical
# cross-engine). Narrow per-row regex at the scan, map-side combine.
# ---------------------------------------------------------------------------

def q162_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    agg = (
        docs.select(
            "lang",
            token_count_ws("text").alias("t_ws"),
            token_count_bpe_ish("text").alias("t_bpe"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("t_ws").alias("tokens_ws"),
            F.sum("t_bpe").alias("tokens_bpe"),
        )
    )
    return agg.select(
        "lang",
        "n_docs",
        "tokens_ws",
        "tokens_bpe",
        F.when(
            F.col("tokens_ws") > 0,
            F.col("tokens_bpe").cast("double") / F.col("tokens_ws").cast("double"),
        ).alias("fertility"),
    ).orderBy("lang")


QUERIES["q162_tokenizer_fertility"] = q162_tokenizer_fertility
ORACLE["q162_tokenizer_fertility"] = f"""
    WITH agg AS (
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(len({_SQL_WS.format(x='text')})) AS BIGINT) AS tokens_ws,
               CAST(SUM(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}'))) AS BIGINT) AS tokens_bpe
        FROM documents
        GROUP BY lang
    )
    SELECT lang, n_docs, tokens_ws, tokens_bpe,
           CASE WHEN tokens_ws > 0
                THEN CAST(tokens_bpe AS DOUBLE) / CAST(tokens_ws AS DOUBLE)
           END AS fertility
    FROM agg
    ORDER BY lang
"""
