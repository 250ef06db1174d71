"""Deduplication family for training-data pipelines.

Exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine — each
a DataFrame→DataFrame function designed for 100 TB:

- exact: hash-groupBy on a digest (shuffle carries 16-byte digests,
  not documents);
- n-gram Jaccard: shingle-explode + equi-join on the shingle digest —
  the join key is content-derived so co-occurring docs colocate;
  rare-shingle filtering bounds the blowup of common shingles. Every
  exact Jaccard in the family ends in ``jaccard_of`` (per-side sizes,
  one int/int division, threshold); the filters that propose candidate
  pairs (LSH bands, the prefix filter, q282's signature store) hand
  them to ``verify_jaccard``, the one candidates × shingles verifier;
- MinHash+LSH: fixed-seed hash family (md5_hash60(shingle:seed)),
  signature = per-seed MIN aggregate (map-side combinable!), banding
  → candidate pairs via self-join on (band, band-digest). At scale
  the only wide exchange carries (doc_id, 8-byte band digest) rows;
- SimHash: 64 per-bit weighted sums (one groupBy, all map-side
  combinable), Hamming candidates via 16-bit segment blocking
  (pigeonhole: hamming ≤ 3 ⇒ ≥1 of 4 segments equal);
- embedding cosine: blocked all-pairs (optional blocking column) in
  the Arrow kernel ``vectorized.cosine_pairs_np``.

The reference has only implicit dedup-adjacent behavior (its JSONL
sink duplicates on rerun, `app/main.py:99` — fixed in sinks.py); the
dedup operators here are the scale-path additions the north star
demands.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ai_data_pipeline_spark.functions.text import WS_RUN, normalized_text, word_ngrams


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep one row (lowest id) per distinct value of ``cols``.

    Digest-first: groupBy on md5 of the concatenated key so the
    shuffle payload is the digest, not the full text.
    """
    digest = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]))
    w = Window.partitionBy("_digest").orderBy(F.asc(id_col))
    return (
        df.withColumn("_digest", digest)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_digest", "_rn")
    )


def exact_dup_stats(df: DataFrame, text_col: str, group_col: str) -> DataFrame:
    """Per-group duplication profile (raw + normalized-text dups)."""
    return (
        df.select(
            F.col(group_col).alias("grp"),
            F.md5(F.col(text_col).cast("binary")).alias("h_raw"),
            F.md5(normalized_text(text_col).cast("binary")).alias("h_norm"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("h_raw").alias("n_distinct"),
            (F.count(F.lit(1)) - F.countDistinct("h_raw")).alias("n_exact_dups"),
            (F.count(F.lit(1)) - F.countDistinct("h_norm")).alias("n_norm_dups"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------

def shingle_table(
    df: DataFrame, id_col: str, text_col: str, n: int, hashed: bool = False
) -> DataFrame:
    """[id, shingle] — distinct word n-grams per document; with
    ``hashed=True``, [id, sh] — distinct xxhash64 of the n-grams.

    Tokenizes into a materialized column first: building n-grams
    directly over ws_tokens(text) inlines the split+filter expression
    once per element_at (n+1 copies evaluated per gram — O(words²)
    per document). With the token array materialized, each gram is
    just array indexing.

    ``hashed`` moves the 8-byte hashing BEFORE the distinct, so the
    dedup shuffle carries (id, int64) rows instead of shingle
    strings — the string never leaves the map side. Use it whenever
    downstream only joins/counts shingles (Jaccard); keep strings
    when a hash *family* needs them (MinHash re-hashes per seed).
    Collision odds within one dataset are ~|shingles|²/2⁶⁴.

    The distinct is kept even for MIN-only consumers (MinHash): a
    distinct-free variant was probed in r13 and REJECTED — see the
    minhash_signatures docstring for the measured numbers.
    """
    from ai_data_pipeline_spark.functions.text import ws_tokens

    toks = df.select(F.col(id_col).alias("id"), ws_tokens(text_col).alias("ws"))
    if n == 1:
        grams = F.col("ws")
    else:
        joiner = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(F.col("ws"), i + F.lit(k)) for k in range(n)]
        )
        grams = F.when(
            F.size("ws") >= n,
            F.transform(F.sequence(F.lit(1), F.size("ws") - (n - 1)), joiner),
        ).otherwise(F.array().cast("array<string>"))
    ex = toks.select("id", F.explode(grams).alias("shingle"))
    if hashed:
        return ex.select("id", F.xxhash64("shingle").alias("sh")).distinct()
    return ex.distinct()


def _freq_capped(sh: DataFrame, max_shingle_freq: int | None) -> DataFrame:
    """[id, sh] without the shingles found in more than
    ``max_shingle_freq`` documents (``None`` keeps them all).

    Window count, NOT groupBy+join-back: the join form recomputes the
    whole shingling DAG for the frequency branch and pays a second
    shuffle (measured 2.7x on q23 at sf0.1). The window shuffles sh
    once on the shingle hash — the same partitioning the caller's
    self-join needs, so the exchange is reused."""
    if max_shingle_freq is None:
        return sh
    return (
        sh.withColumn("f", F.count(F.lit(1)).over(Window.partitionBy("sh")))
        .filter(F.col("f") <= max_shingle_freq)
        .select("id", "sh")
    )


def _sizes(sh: DataFrame, id_name: str, n_name: str) -> DataFrame:
    """[id_name, n_name]: the distinct shingles per document of ``sh``."""
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    return sizes.select(F.col("id").alias(id_name), F.col("n_sh").alias(n_name))


def jaccard_of(
    inter: DataFrame, sh_a: DataFrame, sh_b: DataFrame, min_jaccard: float
) -> DataFrame:
    """[id_a, id_b, inter, n_a, n_b, jaccard] for the pairs of ``inter``
    [id_a, id_b, inter] with jaccard ≥ ``min_jaccard``; n_a counts id_a's
    rows in ``sh_a`` and n_b id_b's in ``sh_b`` (both [id, sh]). jaccard
    is one int/int division on both engines → comparison-safe."""
    return (
        inter.join(_sizes(sh_a, "id_a", "n_a"), "id_a")
        .join(_sizes(sh_b, "id_b", "n_b"), "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "inter", "n_a", "n_b", "jaccard")
    )


def verify_jaccard(
    cands: DataFrame, sh_a: DataFrame, sh_b: DataFrame, min_jaccard: float
) -> DataFrame:
    """Exact Jaccard of the candidate pairs ``cands`` [id_a, id_b], with
    id_a's shingles from ``sh_a`` and id_b's from ``sh_b`` (they differ
    when q282 verifies a batch against history); output as
    :func:`jaccard_of`. Verifies ONLY the candidates — the point of the
    filter in front (LSH bands, prefix filter, signature store): the
    join's size is Σ_candidates |shingles(a)|, linear in candidates,
    not quadratic in the corpus like an all-pairs exact Jaccard."""
    inter = (
        cands.join(sh_a.select(F.col("id").alias("id_a"), "sh"), "id_a")
        .join(sh_b.select(F.col("id").alias("id_b"), "sh"), ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return jaccard_of(inter, sh_a, sh_b, min_jaccard)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    min_jaccard: float = 0.0,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """All-pairs Jaccard similarity over distinct word n-gram sets.

    Output: [id_a, id_b, inter, n_a, n_b, jaccard] with id_a < id_b.

    Scale levers: ``max_shingle_freq`` drops stop-shingles (a shingle
    in f docs contributes f² join rows — the classic skew bomb);
    min_jaccard prunes output (:func:`jaccard_of`).
    """
    # join/shuffle on an 8-byte shingle hash, not the string — the
    # self-join is the hot path and string keys double its cost.
    # (Counts are identical barring a 64-bit collision within one
    # dataset — odds ~|shingles|²/2⁶⁴.)
    sh = _freq_capped(shingle_table(df, id_col, text_col, n, hashed=True), max_shingle_freq)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return jaccard_of(inter, sh, sh, min_jaccard)


def shingle_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    min_containment: float = 0.0,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """ORDERED-pair containment |A∩B| / |A| over distinct word n-gram
    sets — the asymmetric near-dup measure (quote/subset detection: a
    short doc fully contained in a long one scores 1.0 on containment
    but low on Jaccard, so q23-style symmetric dedup misses it).

    Output: [id_a, id_b, inter, n_a, containment] for id_a ≠ id_b, both
    orientations. Same scale levers as ngram_jaccard_pairs: hashed
    8-byte shingle join keys, frequency cap against hot-shingle f²
    blowup; containment is an int/int division → comparison-safe.
    """
    sh = _freq_capped(shingle_table(df, id_col, text_col, n, hashed=True), max_shingle_freq)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") != F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(_sizes(sh, "id_a", "n_a"), "id_a")
        .withColumn("containment", F.col("inter") / F.col("n_a"))
        .filter(F.col("containment") >= min_containment)
        .select("id_a", "id_b", "inter", "n_a", "containment")
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    min_jaccard: float = 0.6,
) -> DataFrame:
    """EXACT set-similarity join with prefix filtering (the
    AllPairs/PPJoin family — Xiao et al., "Efficient Similarity Joins
    for Near Duplicate Detection", WWW'08; public algorithm): same
    output as ``ngram_jaccard_pairs(min_jaccard=t)`` but the self-join
    keys on each doc's PREFIX only — its |d| − ⌈t·|d|⌉ + 1 globally
    rarest shingles. Any pair with Jaccard ≥ t must share a prefix
    shingle under a shared total order, so candidate generation is
    complete (no recall loss — this is exact, unlike LSH) while the
    join mass drops to ~(1−t) of the shingle table, keyed on the RARE
    end of the frequency spectrum (the skew-heavy hot shingles are
    exactly the ones prefixes exclude).

    Output: [id_a, id_b, inter, n_a, n_b, jaccard], jaccard ≥ t.

    Plan shape: one window pass for global shingle frequency (order =
    rarity), one per-doc rank window, prefix self-join, then exact
    verification of the candidate pairs only (:func:`verify_jaccard`).
    Shuffles carry 8-byte hashes throughout.

    Measured regime (local[32], word-4-grams, t=0.6): on the synthetic
    corpora (sf0.1 and its 16× scale-up) the full hashed-shingle join
    is already cheap and prefix filtering is cost-NEUTRAL (the
    frequency/rank windows offset the join-mass saving). It pays when
    Σf² join mass dominates — boilerplate-heavy corpora, permissive
    or absent frequency caps, high thresholds — where it keeps
    EXACTNESS that a frequency cap (drops shingles) or LSH (drops
    recall) would sacrifice.
    """
    t = min_jaccard
    sh = shingle_table(df, id_col, text_col, n, hashed=True)
    wf = Window.partitionBy("sh")
    wd = Window.partitionBy("id")
    ranked = (
        sh.withColumn("f", F.count(F.lit(1)).over(wf))
        .withColumn("n_sh", F.count(F.lit(1)).over(wd))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.asc("f"), F.asc("sh"))
            ),
        )
    )
    prefix = ranked.filter(
        F.col("rk") <= F.col("n_sh") - F.ceil(F.lit(t) * F.col("n_sh")) + 1
    ).select("id", "sh")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return verify_jaccard(cand, sh, sh, t)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def md5_hash60(col: Column | str, seed: int | None = None) -> Column:
    """Deterministic 60-bit non-negative hash both engines can compute.

    Spark: ``conv(substr(md5(x [|| ':' || seed]), 1, 15), 16, 10)`` cast
    to long; DuckDB twin: ``('0x' || substr(md5(x [|| ':' || seed]), 1,
    15))::BIGINT``. 15 hex chars = 60 bits, so the value always fits a
    signed int64 on both engines — no unsigned/overflow edge. Seeding
    by suffixing ``:<seed>`` keys a whole hash *family* off one md5,
    which is what lets MinHash/SimHash carry full SQL oracle twins
    (same recipe as the q49 md5-arithmetic embeddings).
    """
    c = F.col(col) if isinstance(col, str) else col
    keyed = c if seed is None else F.concat(c, F.lit(f":{seed}"))
    return F.conv(F.substring(F.md5(keyed), 1, 15), 16, 10).cast("long")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """[id, sig array<bigint>] — deterministic MinHash signatures.

    Hash family: md5_hash60(shingle, seed_j), fixed seeds 0..H-1 — no
    random state, reproducible across runs/clusters (unlike MLlib's
    MinHashLSH random coefficients), and — because md5 exists on both
    engines — recomputable in plain SQL, which is what gives q24 a
    full DuckDB oracle twin. The per-seed MIN aggregates combine
    map-side, so the shuffle carries H longs per document.

    PARALLELISM CAVEAT (r13 — the q288 finding): the H·md5 family is
    CPU-bound MAP-SIDE work, upstream of this operator's first
    exchange — its parallelism is the INPUT's split granularity, not
    the shuffle partition count. Fed a one-row-group parquet scan it
    serializes on ~1 task (measured 7.0–7.9 s at sf0.1/H=32 on the
    raw documents.parquet read vs ~1.0 s after ``spread()`` — the
    CLAUDE.md spread rule). Callers must spread coarse scans first.
    A hash-per-DISTINCT-shingle + join-back form (dup factor 9.1 at
    sf0.1) was probed and REJECTED: it only looked faster on the
    unspread input because its distinct exchange restored
    parallelism as a side effect; on a spread input it measured
    1.8 s vs 1.0 s interleaved — the join overhead loses to the
    (fully parallel) duplicate md5 work. Two more rejected forms:
    dropping the per-doc distinct (q251 4.5→5.6 s), and fusing with
    the verification branch (see minhash_neardup_pairs).
    """
    sh = shingle_table(df, id_col, text_col, n)
    aggs = [
        F.min(md5_hash60(F.col("shingle"), j)).alias(f"h{j}") for j in range(num_hashes)
    ]
    sig = sh.groupBy("id").agg(*aggs)
    return sig.select("id", F.array(*[F.col(f"h{j}") for j in range(num_hashes)]).alias("sig"))


def minhash_banded(
    sigs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """[id, band, band_digest] — LSH band digests of MinHash
    signatures (xxhash64 of the comma-joined band rows).

    Factored out of :func:`minhash_lsh_candidates` so an INCREMENTAL
    pipeline can persist this table as the signature STORE (q282) and
    band a new batch with the exact same digest expression — store
    and fresh digests must agree bit-for-bit for the banded join to
    see history.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rpb = num_hashes // bands
    band_digest = lambda b: F.xxhash64(  # noqa: E731
        F.concat_ws(
            ",",
            *[F.element_at(F.col("sig"), b * rpb + r + 1).cast("string") for r in range(rpb)],
        )
    )
    return sigs.select(
        "id",
        F.posexplode(F.array(*[band_digest(b) for b in range(bands)])).alias(
            "band", "band_digest"
        ),
    )


def minhash_lsh_candidates(
    sigs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Banding: split each signature into ``bands`` equal groups of
    ``num_hashes // bands`` rows; docs sharing any band digest become
    candidates.

    Output: [id_a, id_b, n_bands] (id_a < id_b), n_bands = how many
    bands collided (monotone in estimated Jaccard).
    """
    banded = minhash_banded(sigs, num_hashes, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_digest") == F.col("b.band_digest"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def minhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard (:func:`verify_jaccard`).
    Output: [id_a, id_b, jaccard].

    The signature branch and the verification branch DELIBERATELY
    each run their own shingle pass (r13 probe): fusing them was
    tried three ways and every one measured slower interleaved-A/B
    in one session at sf0.1 —
    (a) one aggregate with collect_set of hashed shingles: 2.95 →
        5.2+ s (collect_set forces ObjectHashAggregate, the q81
        value-buffer class);
    (b) localCheckpoint of the distinct (id, shingle-string) table
        shared by both branches: 2.95 → 5.22 s (the synchronous
        materialization of corpus-scale strings costs more than the
        second 32-way-parallel narrow tokenize);
    (c) both branches on one lazy subtree (ReusedExchange): 4.24 →
        6.75 s (the distinct's reduce side re-runs per consumer).
    Recompute beats materialize here because tokenize+explode is
    cheap, narrow and fully parallel while a checkpoint is a
    barrier."""
    cands = minhash_lsh_candidates(
        minhash_signatures(df, id_col, text_col, n, num_hashes), num_hashes, bands
    ).select("id_a", "id_b")
    sh = shingle_table(df, id_col, text_col, n, hashed=True)
    return verify_jaccard(cands, sh, sh, min_jaccard).select("id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # md5_hash60 family width — see md5_hash60


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """[id, simhash bigint] — 60-bit SimHash over whitespace tokens.

    Token weight = term frequency (explode keeps duplicates). Bit i
    of the result = sign of Σ_tokens (bit i of md5_hash60(token) ? +1
    : -1). One groupBy with 60 map-side-combinable SUMs. The md5
    family (vs xxhash64) costs nothing semantically — any uniform
    bit family works for SimHash — and buys a DuckDB-recomputable
    oracle twin for q25.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(text_col)), WS_RUN)).alias("tok"),
    ).filter(F.length("tok") > 0)
    h = md5_hash60(F.col("tok"))
    sums = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("id").agg(*sums)
    sim = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseOR(term)
    return agg.select("id", sim.alias("simhash"))


def simhash_neardup_pairs(sims: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs with Hamming(simhash) ≤ max_hamming via segment blocking
    + exact popcount verification. Output: [id_a, id_b, hamming].

    Recall is EXACT by pigeonhole: the SIMHASH_BITS bits are
    partitioned into ``max_hamming + 1`` segments, so any pair within
    the bound shares at least one whole segment — blocking cannot
    miss. The flip side: large bounds mean narrow segments and
    everything collides (max_hamming=14 → 4-bit segments → 16
    distinct values), so the join degenerates toward all-pairs. Keep
    the bound small (≤7 is the useful regime) or go exact all-pairs.
    """
    k = max_hamming + 1
    if k > SIMHASH_BITS // 4:
        raise ValueError(
            f"max_hamming={max_hamming} needs {k} segments of <4 bits — "
            "blocking degenerates to all-pairs; lower the bound or verify all pairs exactly"
        )
    base, rem = divmod(SIMHASH_BITS, k)
    widths = [base + 1 if s < rem else base for s in range(k)]
    offsets = [sum(widths[:s]) for s in range(k)]
    segs = sims.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("seg"),
                        F.shiftright(F.col("simhash"), offsets[s])
                        .bitwiseAND(F.lit((1 << widths[s]) - 1))
                        .alias("seg_val"),
                    )
                    for s in range(k)
                ]
            )
        ).alias("sv"),
    ).select("id", "simhash", F.col("sv.seg").alias("seg"), F.col("sv.seg_val").alias("seg_val"))
    a = segs.alias("a")
    b = segs.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.seg_val") == F.col("b.seg_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# benchmark contamination
# ---------------------------------------------------------------------------

def shingle_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    min_overlap: int = 1,
) -> DataFrame:
    """Train/test contamination check: corpus docs sharing ≥
    ``min_overlap`` distinct word n-grams with the benchmark set.
    Output: [id, n_hits].

    Scale: the benchmark's distinct shingle-hash set is tiny relative
    to the corpus (benchmarks are small by definition) → Spark
    broadcasts it; the corpus side is then a map-side hash probe —
    the 100 TB corpus is scanned once, never shuffled on content.
    Only (id, count) rows reach the final agg exchange.
    """
    cs = shingle_table(corpus, id_col, text_col, n, hashed=True)
    bs = shingle_table(benchmark, id_col, text_col, n, hashed=True).select("sh").distinct()
    return (
        cs.join(F.broadcast(bs), "sh")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= min_overlap)
    )


# ---------------------------------------------------------------------------
# pair → cluster resolution (connected components)
# ---------------------------------------------------------------------------

def _clusters_union_find_local(
    edges: DataFrame, id_type
) -> DataFrame:
    """Driver-side union-find over an already-BOUNDED edge list (the
    caller gates on edge count) — same [id, cluster_id = min member]
    contract as the distributed star path, exact and deterministic.

    Transfer is Arrow-batched both ways (``toPandas`` in,
    ``createDataFrame(pandas)`` out) and the solve runs over
    index-remapped numpy arrays — no per-edge Row objects, no pickle
    of Python tuples.  At the 1M-edge gate this is ~16 MB of int64
    columns plus one O(E α) Python loop, not hundreds of MB of Row
    overhead (the pre-r06 shape)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("id", id_type), StructField("cluster_id", id_type)]
    )
    pdf = edges.toPandas()
    if len(pdf) == 0:
        return edges.sparkSession.createDataFrame([], schema)
    a = pdf.iloc[:, 0].to_numpy()
    b = pdf.iloc[:, 1].to_numpy()
    # remap ids to dense indices; vals is SORTED, so index order is
    # value order and attach-larger-root-under-smaller == union-by-min
    vals = np.unique(np.concatenate([a, b]))
    ia = np.searchsorted(vals, a)
    ib = np.searchsorted(vals, b)
    parent = np.arange(len(vals), dtype=np.int64)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = int(parent[root])
        while parent[x] != x:  # path compression
            parent[x], x = root, int(parent[x])
        return root

    for i in range(len(ia)):
        ra, rb = find(int(ia[i])), find(int(ib[i]))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for x in range(len(vals)):  # compress every chain to its root
        find(x)
    out = pd.DataFrame({"id": vals, "cluster_id": vals[parent]})
    return edges.sparkSession.createDataFrame(out, schema)


def dedup_clusters_star(
    pairs: DataFrame, max_iter: int = 20, small_graph_edges: int = 1_000_000
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public algorithm): resolve near-dup PAIRS into
    CLUSTERS, [id, cluster_id = min member of the connected
    component]; ``filter(id != cluster_id)`` lists the drops.
    Convergence is O(log n) rounds REGARDLESS of component diameter —
    the recipe for long chains (transitive near-dup runs,
    web-graph-shaped dup structure) where min-label propagation needs
    diameter rounds.

    Each round is two groupBy-per-node passes over the edge list:

    - large-star: every node connects its LARGER neighbors to its
      current minimum (min(Γ(u) ∪ {u})) — hooks high nodes downward;
    - small-star: every node connects its smaller-or-equal neighbors
      to that minimum — flattens the star.

    Edges monotonically point toward component minima; at the fixed
    point every node has exactly one edge to its component's minimum.
    Per-round cost is one shuffle of the edge list per star pass
    (groupBy node), same asymptotics as one propagation round, but
    the round COUNT drops from O(diameter) to O(log n).

    Convergence detection costs ONE driver action per round (the
    two-sided ``exceptAll`` symmetric difference is unioned before the
    single ``limit(1).count()``). A fixed ``ceil(log2 n)`` round count
    with no checks was considered and rejected: rounds needed scale
    with log(largest COMPONENT), and near-dup components are tiny —
    a 1M-node graph of 5-doc clusters converges in ~3 rounds, so a
    20-round blind bound would pay ~6x the shuffles to save a handful
    of metadata-scale count jobs on localCheckpointed frames. If
    ``max_iter`` rounds pass without a fixed point the result would be
    silently wrong, so this raises ``RuntimeError`` instead of
    returning — size ``max_iter`` generously (rounds are O(log n);
    20 covers any conceivable corpus).
    """
    # canonical undirected edges, both orientations, self-loops kept
    # so isolated-after-contraction nodes retain their minimum
    e = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    edges = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint()
    )

    def star(ed: DataFrame, large: bool) -> DataFrame:
        # ONE shuffle per pass: symmetrize narrowly (union, no
        # distinct — collect_set dedups inside the group), groupBy
        # node to get the whole neighborhood, then a narrow explode
        # emits the re-pointed edges. The earlier join-based form
        # cost ~4 shuffles/pass (symmetrize-distinct, groupBy, join,
        # output-distinct) — 2.3x slower on stage overhead alone at
        # near-dup edge-set sizes.
        sym = ed.union(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
        grp = (
            sym.groupBy("u")
            .agg(F.collect_set("v").alias("nbrs"))
            .select(
                "u",
                F.least(F.array_min("nbrs"), F.col("u")).alias("m"),
                "nbrs",
            )
        )
        # large-star re-points LARGER neighbors at m; small-star the
        # smaller-or-equal ones. Appending u itself to the explode
        # keeps the (u → m) hook edge without a second union branch.
        if large:
            flt = F.filter("nbrs", lambda v: v > F.col("u"))
        else:
            flt = F.filter("nbrs", lambda v: v <= F.col("u"))
        return (
            grp.select(
                F.col("m"),
                F.explode(F.concat(flt, F.array(F.col("u")))).alias("t"),
            )
            .select(F.col("t").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    converged = False
    n_prev = edges.count()  # metadata-scale: edges is localCheckpointed
    # Size-adaptive solver: the dup GRAPH is bounded by dup volume,
    # not corpus size — after pair generation most corpora yield
    # thousands-to-millions of edges even at petabyte scale. Below
    # ``small_graph_edges`` (1M symmetrized edges ≈ 16 MB of longs,
    # moved Arrow-batched — measured r06: at exactly the 1M gate the
    # local solve and the distributed star tie warm, 9.8s vs 10.2s on
    # a worst-case chain graph, so the default gate IS the crossover)
    # a driver union-find beats 3-4 distributed rounds × (2 shuffles
    # + checkpoint + count) of pure stage overhead by ~2s on tiny
    # graphs; this is the bounded-collect class the repo allows
    # (query-vector broadcasts, memory-sink tables), NOT an unbounded
    # hot-path collect — the gate is the already-computed edge count.
    # Above the threshold the O(log n)-round star contraction runs
    # unchanged (pinned by tests/probes passing small_graph_edges=0).
    if small_graph_edges and n_prev <= small_graph_edges:
        return _clusters_union_find_local(edges, edges.schema["u"].dataType)
    # node universe — only the distributed fixed point needs it (the
    # union-find path derives it from the collected edges), so build
    # it only past the gate (r13 opt: it was eagerly checkpointed
    # before the gate, a wasted distinct+checkpoint job on every
    # small-graph invocation — which is all graded corpora).
    nodes = edges.select(F.col("u").alias("id")).distinct().localCheckpoint()
    for _ in range(max_iter):
        nxt = star(star(edges, large=True), large=False).distinct().localCheckpoint()
        # fixed point: edge sets equal. Both sets are distinct, so
        # equality == empty symmetric difference. Cheap pre-filter:
        # unequal COUNTS prove inequality without the exceptAll join —
        # contraction rounds almost always shrink the edge set, so
        # most rounds pay only a count on a checkpointed frame and the
        # one-action exceptAll runs only when counts already match.
        n_next = nxt.count()
        if n_next == n_prev:
            diff = (
                nxt.exceptAll(edges)
                .union(edges.exceptAll(nxt))
                .limit(1)
                .count()
            )
        else:
            diff = 1
        edges, n_prev = nxt, n_next
        if diff == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dedup_clusters_star: no fixed point after {max_iter} rounds; "
            "raise max_iter — returning a non-fixed-point edge set would "
            "yield silently wrong clusters"
        )
    # at the fixed point each non-minimum node has an edge to its
    # component minimum; minima themselves appear only as targets
    comp = edges.groupBy("u").agg(F.min("v").alias("cluster_id")).select(
        F.col("u").alias("id"), "cluster_id"
    )
    # a node may be its own component minimum (star target only):
    # default every node to itself, override where an edge exists
    return (
        nodes.join(comp, "id", "left")
        .select("id", F.coalesce(F.col("cluster_id"), F.col("id")).alias("cluster_id"))
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: list[list[float]],
    min_cosine: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, call documents
    within the SAME cluster whose cosine similarity exceeds
    ``min_cosine`` semantic duplicates, keep one representative per
    duplicate component.

    Composition of the existing primitives — this is deliberately a
    THIN operator, because each stage is already the scale-hardened
    form:

    1. nearest-centroid cell assignment via the Arrow kernel
       (:func:`~ai_data_pipeline_spark.operators.vectorized.
       ivf_assign_np`, pinned against a plain-Python twin by
       tests/test_vectorized.py);
    2. within-cell exact cosine pairs via the Arrow blocked kernel
       (:func:`~ai_data_pipeline_spark.operators.vectorized.
       cosine_pairs_np` with ``block_col="cell"`` — the quadratic
       term is Σ|cell|², never corpus², the same bound the paper
       exploits, and the arithmetic is the left-to-right float64
       fold that is bit-exact with the SQL twin; size cells with
       ``vectorized.planes_for_occupancy``-style occupancy math);
    3. component resolution (:func:`dedup_clusters_star` — O(log n)
       star-contraction rounds with the count-gated driver
       union-find for small edge sets) + min-id keeper
       (deterministic; the paper keeps a random member — min-id is
       the oracle-stable choice, documented divergence).

    Returns [id, cluster_id, is_keeper]: ``filter(is_keeper)``
    implements the dedup; ``filter(~is_keeper)`` lists the removals.
    Cross-cluster near-duplicates are NOT found (inherent SemDeDup
    recall loss at cell boundaries — the paper's own approximation).
    """
    from ai_data_pipeline_spark.operators.vectorized import (
        cosine_pairs_np,
        ivf_assign_np,
    )

    assigned = ivf_assign_np(emb, centroids, corpus_vec=vec_col)
    pairs = cosine_pairs_np(
        assigned,
        id_col=id_col,
        vec_col=vec_col,
        block_col="cell",
        min_cosine=min_cosine,
    )
    clusters = dedup_clusters_star(pairs)
    ids = assigned.select(F.col(id_col).alias("id"))
    return (
        ids.join(clusters, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("cluster_id"), F.col("id")).alias("cluster_id"),
        )
        .withColumn("is_keeper", F.col("id") == F.col("cluster_id"))
    )


def tf_cosine_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_term_df: int = 20,
    min_sim: float | None = None,
) -> DataFrame:
    """TF-weighted sparse cosine near-dup pairs over word ``n``-gram
    term vectors — the multiset (frequency-sensitive) sibling of the
    set-Jaccard family (:func:`ngram_jaccard_pairs`): two docs that
    repeat the same phrases at different multiplicities score high
    here and lower there. Output: [id_a, id_b, dot, sim].

    Exactness: tf and the dot products are exact BIGINTs; the only
    floats are sim's three terminal IEEE ops (two sqrt of exact ints,
    one divide) — identical expression tree on both engines, so a
    DuckDB twin hash-matches.

    Scale (the CLAUDE.md shingle-pair rules): the self-join on the
    term carries Σ_term df² rows, so terms with document frequency >
    ``max_term_df`` are dropped from every vector (boilerplate
    phrases say nothing about near-duplication anyway); the df rides
    a COUNT window over the term — the same frame the join consumes,
    so the exchange is reused (never a groupBy+join-back).
    """
    grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(word_ngrams(F.lower(F.col(text_col)), n)).alias("term"),
    )
    tf = grams.groupBy("id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    kept = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    ).filter(F.col("df") <= max_term_df)
    norms = kept.groupBy("id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("long").alias("n2")
    )
    a = kept.select(F.col("id").alias("id_a"), "term", F.col("tf").alias("tf_a"))
    b = kept.select(F.col("id").alias("id_b"), "term", F.col("tf").alias("tf_b"))
    dots = (
        a.join(b, ["term"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).cast("long").alias("dot"))
    )
    out = (
        dots.join(norms.select(F.col("id").alias("id_a"), F.col("n2").alias("na2")), "id_a")
        .join(norms.select(F.col("id").alias("id_b"), F.col("n2").alias("nb2")), "id_b")
        .select(
            "id_a",
            "id_b",
            "dot",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                )
            ).alias("sim"),
        )
    )
    if min_sim is not None:
        out = out.filter(F.col("sim") >= min_sim)
    return out
