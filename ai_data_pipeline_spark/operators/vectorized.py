"""Arrow/numpy kernels for the vector-similarity hot paths.

Why this exists: per-element Catalyst expressions over a d-dim array
(unrolled getItem chains or higher-order folds) leave whole-stage
codegen once d×pairs gets large — the 64-wide unrolled dot exceeds
JIT-able method size and silently falls back to interpreted eval
(measured: 2000² cosine pairs = 82 s interpreted vs <1 s here). The
sanctioned Spark escape hatch is a vectorized Python kernel:
mapInPandas moves Arrow batches into numpy, the kernel does the
arithmetic, and only top-k candidates flow back.

Bit-exactness contract (what lets these kernels sit behind
oracle-checked queries): every reduction is an explicit left-to-right
loop over dimensions —

    acc = 0.0; for i in range(d): acc = acc + a[i]*b[i]

vectorized across rows, so each element's float64 op sequence is
IDENTICAL to the unrolled Catalyst chain (functions/vector.py) and to
the DuckDB SQL twin (sql_dot/sql_norm/sql_squared_l2): same operands,
same order, same IEEE-754 double ops. np.sqrt and division are
correctly rounded per IEEE like JVM Math.sqrt — results match
bit-for-bit, not approximately. np.dot/np.sum would NOT (pairwise/
FMA summation) — never use them here.

Scale design (100 TB): the corpus never collects; queries/centroids
broadcast inside task closures (KBs); every per-query search (exact
L2, cosine, IVF, LSH) is one scan whose per-partition top-k reduces
each task's output to q×k rows, merged on the driver (_scan_topk: no
shuffle, no window); the all-pairs kernel blocks the corpus and
parallelizes over block pairs with per-block-pair top-k pushdown.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import local_frame

# ---------------------------------------------------------------------------
# numpy primitives (left-to-right, bit-exact with the SQL chains)
# ---------------------------------------------------------------------------


def dots_ltr(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Row-wise dot(mat[r], q), accumulated left-to-right from 0.0."""
    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for i in range(mat.shape[1]):
        acc = acc + mat[:, i] * q[i]
    return acc


def norms_ltr(mat: np.ndarray) -> np.ndarray:
    """Row-wise sqrt(Σ x_i²), left-to-right accumulation."""
    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for i in range(mat.shape[1]):
        acc = acc + mat[:, i] * mat[:, i]
    return np.sqrt(acc)


def sqdists_ltr(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Row-wise Σ (x_i - q_i)², left-to-right accumulation."""
    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for i in range(mat.shape[1]):
        d = mat[:, i] - q[i]
        acc = acc + d * d
    return acc


def cross_dots_ltr(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(na × nb) dot matrix, accumulated left-to-right over dims."""
    acc = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
    for i in range(a.shape[1]):
        acc = acc + a[:, i : i + 1] * b[None, :, i]
    return acc


def _mat(col: pd.Series) -> np.ndarray:
    """Arrow list<float> column → (n, d) float64 matrix (exact
    float32→float64 widening, same as getItem().cast('double'))."""
    return np.stack(col.to_numpy()).astype(np.float64)


# ---------------------------------------------------------------------------
# Per-query top-k: one corpus scan, merged on the driver
# ---------------------------------------------------------------------------


Scorer = Callable[[np.ndarray, pd.DataFrame], Iterator[tuple[np.ndarray | slice, np.ndarray]]]


def _queries(queries: DataFrame) -> tuple[list[int], np.ndarray]:
    """Collect the (documented-small) query side: qids and an (n, d)
    float64 matrix, (0, 0) when there are no queries."""
    rows = queries.select("qid", "qvec").collect()
    qmat = np.array([r["qvec"] for r in rows], dtype=np.float64) if rows else np.zeros((0, 0))
    return [int(r["qid"]) for r in rows], qmat


def _scan_topk(
    corpus: DataFrame,
    qids: list[int],
    k: int,
    score: Scorer,
    value_col: str,
    corpus_id: str,
    corpus_vec: str,
    desc: bool = False,
    extra: tuple[str, ...] = (),
    payload: str | None = None,
) -> DataFrame:
    """Top-k corpus rows per query, ties by corpus id:
    [qid, <corpus_id>, <value_col>, rk] plus ``payload`` (cast to
    string). ``score(mat, pdf)`` yields, for each query in ``qids``
    order, the mask of the batch rows it ranks and their values;
    ``desc`` ranks the values descending. ``extra`` corpus columns
    reach ``pdf`` as they are.

    One scan of the corpus AS IT IS PARTITIONED, with no per-call
    shuffle: a corpus read as one row group scans in one task. Where
    the scan is CPU-bound, spread the corpus once where it is loaded
    or built, not here. Each task keeps its per-query top-k; the
    driver collects those ≤ queries × partitions × k candidates (a
    computed bound) and merges them with the same (value, id)
    lexsort. The result is a local relation: one Spark job per call
    (none without queries), none to collect it, no shuffle.
    """
    pay = F.col(payload) if payload else F.lit(None)
    src = corpus.select(
        F.col(corpus_id).cast("long").alias("_id"),
        F.col(corpus_vec).alias("_vec"),
        pay.cast("string").alias("_pay"),
        *extra,
    )

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: dict[int, tuple[np.ndarray, ...]] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            mat = _mat(pdf["_vec"])
            ids, pays = pdf["_id"].to_numpy(), pdf["_pay"].to_numpy(dtype=object)
            for qi, (m, vals) in enumerate(score(mat, pdf)):
                cand = (vals, ids[m], pays[m])
                if qi in best:
                    cand = tuple(np.concatenate(p) for p in zip(best[qi], cand))
                order = np.lexsort((cand[1], -cand[0] if desc else cand[0]))[:k]
                best[qi] = tuple(a[order] for a in cand)
        for qi, (vals, bids, bpays) in best.items():
            yield pd.DataFrame({"qid": qids[qi], "_id": bids, "_v": vals, "_pay": bpays})

    schema = "qid long, _id long, _v double, _pay string"
    rows = src.mapInPandas(kern, schema).collect() if qids else []
    qs, ids, vals = (np.array([r[i] for r in rows]) for i in range(3))
    merged, rk = [], 0
    for i in np.lexsort((ids, -vals if desc else vals, qs)):
        rk = rk + 1 if merged and merged[-1][0] == qs[i] else 1
        if rk <= k:
            merged.append((int(qs[i]), int(ids[i]), float(vals[i]), rk, rows[i][3]))
    cols = [("qid", "BIGINT"), (corpus_id, "BIGINT"), (value_col, "DOUBLE"), ("rk", "BIGINT")]
    out = local_frame(corpus.sparkSession, cols + [("_pay", "STRING")], merged)
    return out.withColumnRenamed("_pay", payload) if payload else out.drop("_pay")


def _cosine(
    qmat: np.ndarray,
    cells: Callable[[np.ndarray, pd.DataFrame], np.ndarray] | None = None,
    probes: list | None = None,
) -> Scorer:
    """Scorer for exact cosine: rows where either norm is 0 never
    rank; with ``cells``, query qi ranks only the rows whose cell is
    in ``probes[qi]``."""
    qn = norms_ltr(qmat)

    def score(mat: np.ndarray, pdf: pd.DataFrame):
        cn = norms_ltr(mat)
        cell = cells(mat, pdf) if cells else None
        for qi in range(len(qmat)):
            d = cn * qn[qi]
            ok = d != 0.0
            if cell is not None:
                ok &= np.isin(cell, probes[qi])
            yield ok, dots_ltr(mat[ok], qmat[qi]) / d[ok]

    return score


# ---------------------------------------------------------------------------
# Brute-force cosine top-k (Q27 / R17-cosine)
# ---------------------------------------------------------------------------


def cosine_topk_np(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query, ties by corpus id:
    [qid, <corpus_id>, sim, rk]. One scan of the corpus as it is
    partitioned, merged on the driver (see _scan_topk)."""
    qids, qmat = _queries(queries)
    return _scan_topk(corpus, qids, k, _cosine(qmat), "sim", corpus_id, corpus_vec, desc=True)


# ---------------------------------------------------------------------------
# Exact kNN by squared L2 (Q19/Q22 / R17)
# ---------------------------------------------------------------------------


def knn_l2_np(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 1,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    payload: str | None = None,
) -> DataFrame:
    """Exact kNN by squared L2, ties by corpus id:
    [qid, <corpus_id>, dist, rk] plus ``payload`` (cast to string).
    One scan of the corpus as it is partitioned, merged on the driver
    (see _scan_topk).
    """
    qids, qmat = _queries(queries)

    def score(mat: np.ndarray, pdf: pd.DataFrame):
        for q in qmat:
            yield slice(None), sqdists_ltr(mat, q)

    return _scan_topk(corpus, qids, k, score, "dist", corpus_id, corpus_vec, payload=payload)


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (SimHash for embeddings) — bucketed ANN and
# near-dup blocking alternative to IVF when no centroids exist
# ---------------------------------------------------------------------------


def _buckets(mat: np.ndarray, pmat: np.ndarray) -> np.ndarray:
    """Sign-bit bucket per row: bit i = (dot(row, plane_i) >= 0);
    bucket = Σ bit_i · 2^i. Cosine-similar vectors agree on most sign
    bits → same bucket with high probability. Deterministic given
    fixed planes (plans.constants.det_vector seeds)."""
    bucket = np.zeros(len(mat), dtype=np.int64)
    for i in range(len(pmat)):
        bucket |= (dots_ltr(mat, pmat[i]) >= 0.0).astype(np.int64) << i
    return bucket


def rp_lsh_ann(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k: probe the query's own bucket and
    every bucket at Hamming distance 1 from it; exact cosine within
    probed buckets. The kernel buckets each corpus row from the
    vectors it already holds, in the same single scan as
    cosine_topk_np (see _scan_topk)."""
    qids, qmat = _queries(queries)
    pmat = np.array(planes, dtype=np.float64)
    flips = [0] + [1 << i for i in range(len(pmat))]
    probes = [[int(b) ^ f for f in flips] for b in _buckets(qmat, pmat)]
    score = _cosine(qmat, lambda mat, pdf: _buckets(mat, pmat), probes)
    return _scan_topk(corpus, qids, k, score, "sim", corpus_id, corpus_vec, desc=True)


# ---------------------------------------------------------------------------
# All-pairs cosine (Q26 / embedding near-dup) — blocked
# ---------------------------------------------------------------------------


def _block_pairs(
    ids_a: np.ndarray,
    mat_a: np.ndarray,
    ids_b: np.ndarray,
    mat_b: np.ndarray,
    same_block: bool,
    min_cosine: float | None,
    pair_topk: int | None,
) -> pd.DataFrame:
    """Exact cosine of every row pair across one block pair:
    [id_a, id_b, sim] oriented (min id, max id). A pair whose norm
    product is 0 never emits. ``same_block`` (a and b hold the same
    rows) keeps only id_a < id_b, which drops self-pairs and the
    double count. Then the ``min_cosine`` filter and the block pair's
    top-``pair_topk`` by (sim DESC, id_a, id_b)."""
    dots = cross_dots_ltr(mat_a, mat_b)
    denom = norms_ltr(mat_a)[:, None] * norms_ltr(mat_b)[None, :]
    ia = np.repeat(ids_a, len(ids_b))
    ib = np.tile(ids_b, len(ids_a))
    sims = np.where(denom != 0.0, dots / np.where(denom == 0.0, 1.0, denom), np.nan).ravel()
    keep = (ia != ib) & ~np.isnan(sims)
    if same_block:
        keep &= ia < ib
    lo, hi, sims = np.minimum(ia, ib)[keep], np.maximum(ia, ib)[keep], sims[keep]
    if min_cosine is not None:
        m = sims >= min_cosine
        lo, hi, sims = lo[m], hi[m], sims[m]
    if pair_topk is not None and len(sims) > pair_topk:
        order = np.lexsort((hi, lo, -sims))[:pair_topk]
        lo, hi, sims = lo[order], hi[order], sims[order]
    return pd.DataFrame({"id_a": lo, "id_b": hi, "sim": sims})


def cosine_pairs_np(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float | None = None,
    pair_topk: int | None = None,
    rows_per_block: int = 1024,
    block_col: str | None = None,
) -> DataFrame:
    """All-pairs cosine over the corpus, blocked: rows hash into
    ~n/rows_per_block blocks; block pairs (i ≤ j) evaluate
    independently (numpy cross-dot); each block pair emits only its
    pairs ≥ min_cosine and/or its local top-k (a global top-k is a
    subset of per-block-pair top-ks, so pair_topk pushes the limit
    into the kernel and the final sort sees B²k rows, not n²).

    With ``block_col`` (an IVF cell / LSH bucket / cluster id), pairs
    are evaluated ONLY within equal block values — the quadratic term
    drops from n² to Σ|block|², and the block-pair join becomes an
    equi-join on the block (shuffle hash/SMJ, no broadcast of the
    corpus). Oversized blocks still split into sub-blocks of
    ~rows_per_block rows, so a skewed block never produces one giant
    task. Without it, the join is a broadcast of the packed block
    table (B rows) against itself — the exact all-pairs fallback,
    O(n²/B) per task by construction; at 100 TB-scale corpora always
    pass a coarse pre-filter as ``block_col``.

    rows_per_block ≈ 1k keeps each pair task at ~10⁸ flops AND the
    per-iteration numpy temporaries (block² doubles) inside L2/L3 —
    a single 2000-row block measured 25× slower than 2×1000 purely
    from cache-thrashing 32 MB temporaries.
    """
    if block_col is None:
        n_rows = emb.count()
        n_sub = max(1, -(-n_rows // rows_per_block))
        # Parallelism floor (r13 q26 profile): a small corpus at the
        # default block size yields a handful of block-pair tasks on a
        # wide session — n=2000 at rpb=1024 is 2 sub-blocks → 3 tasks
        # on 32 threads, measured 1.11–1.96 s/rep vs a stable 0.93 s
        # at 8 sub-blocks (36 tasks). Split until the triangle
        # m(m+1)/2 covers defaultParallelism, but never below ~64
        # rows/block (kernel overhead dominates under that). Values
        # are blocking-invariant: each pair's dot/norm is the same
        # ltr fold whichever block holds the rows.
        import math

        par = emb.sparkSession.sparkContext.defaultParallelism
        m = math.ceil((math.sqrt(8 * par + 1) - 1) / 2)
        n_sub = max(n_sub, min(m, max(1, n_rows // 64)))
        blk = F.lit(0)
    else:
        # sub-split sized by the LARGEST block (one tiny agg): every
        # (block, sub) packet is ≤ ~rows_per_block rows even under
        # skewed block occupancy
        max_blk = (
            emb.groupBy(block_col)
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
            or 1
        )
        n_sub = max(1, -(-int(max_blk) // rows_per_block))
        blk = F.col(block_col).cast("long")
    packed = (
        emb.select(
            blk.alias("blk"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_sub)).alias("bid"),
            F.col(id_col).cast("long").alias("_id"),
            F.col(vec_col).alias("_vec"),
        )
        .groupBy("blk", "bid")
        .agg(F.collect_list(F.struct("_id", "_vec")).alias("rows"))
    )
    a = packed.select(
        F.col("blk").alias("blk_a"), F.col("bid").alias("bid_a"),
        F.col("rows").alias("rows_a"),
    )
    b = packed.select(
        F.col("blk").alias("blk_b"), F.col("bid").alias("bid_b"),
        F.col("rows").alias("rows_b"),
    )
    if block_col is None:
        pairs = a.join(F.broadcast(b), F.col("bid_a") <= F.col("bid_b"))
    else:
        # equi on the block — within-block sub-pairs form the triangle
        pairs = a.join(
            b,
            (F.col("blk_a") == F.col("blk_b"))
            & (F.col("bid_a") <= F.col("bid_b")),
        )
    # spread the block-pair tasks across the cluster
    pairs = pairs.repartition(emb.sparkSession.sparkContext.defaultParallelism)

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                ra, rb = row["rows_a"], row["rows_b"]
                yield _block_pairs(
                    np.array([r["_id"] for r in ra], dtype=np.int64),
                    np.stack([r["_vec"] for r in ra]).astype(np.float64),
                    np.array([r["_id"] for r in rb], dtype=np.int64),
                    np.stack([r["_vec"] for r in rb]).astype(np.float64),
                    int(row["bid_a"]) == int(row["bid_b"]),
                    min_cosine,
                    pair_topk,
                )

    return pairs.mapInPandas(kern, "id_a long, id_b long, sim double")


# ---------------------------------------------------------------------------
# IVF assign + probe (Q28) — numpy kernels, relational pruning
# ---------------------------------------------------------------------------


def ivf_assign_np(
    corpus: DataFrame,
    centroids: list[list[float]],
    corpus_vec: str = "embedding",
    keep_dist: bool = False,
) -> DataFrame:
    """Nearest-centroid cell per vector (ties → lowest centroid
    index, as np.argmin and the SQL twin's sorted (d, c) structs); with
    ``keep_dist``, also the squared-L2 to that centroid (ltr fold —
    bit-identical with the SQL twin)."""
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    cmat = np.array(centroids, dtype=np.float64)

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = _mat(pdf[corpus_vec])
            dists = np.stack([sqdists_ltr(mat, cmat[ci]) for ci in range(len(cmat))], axis=1)
            cells = np.argmin(dists, axis=1)
            out = pdf.copy()
            out["cell"] = cells.astype(np.int32)
            if keep_dist:
                out["dist"] = dists[np.arange(len(cells)), cells]
            yield out

    extra = [StructField("cell", IntegerType())]
    if keep_dist:
        extra.append(StructField("dist", DoubleType()))
    schema = StructType(list(corpus.schema.fields) + extra)
    return corpus.mapInPandas(kern, schema)


def ivf_assign_q6_np(
    corpus: DataFrame,
    seeds: list[tuple[int, list[int]]],
    q6_col: str = "v6",
) -> DataFrame:
    """EXACT nearest-seed assignment over micro-unit integer vectors
    (quantize_q6 arrays): cell = the seed_id minimizing Σ(v6−s6)²,
    ties → lowest seed_id. All arithmetic is int64 — for |v6| ≤ 1e6
    and d ≤ 64 the distance is < 2.6e14, exact in int64, so the
    result is bit-identical to the BIGINT zip_with fold AND the
    DuckDB list_sum twin with ZERO float subtleties (the q106/q131
    "decisions on exact integers" discipline at kernel speed — the
    interpreted HOF fold measured ~5× super-linear wall at 16× on
    q223 purely from the N×K assignment constant).

    ``seeds`` is a driver-side list — callers must count-gate it
    (the occupancy-scaling callers derive K ≈ n/occupancy; at
    corpus sizes where K outgrows a broadcastable list, a coarse
    quantizer tree replaces the flat scan — that changes this
    CONSTANT, not the Σ|cell|² law downstream).

    Output: the corpus schema + ``cell`` (long) carrying the winning
    seed_id.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    order = sorted(range(len(seeds)), key=lambda i: seeds[i][0])
    sid = np.array([seeds[i][0] for i in order], dtype=np.int64)
    smat = np.array([seeds[i][1] for i in order], dtype=np.int64)

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[q6_col].to_numpy()).astype(np.int64)
            best_d = None
            best_c = None
            for ci in range(len(sid)):
                d = ((mat - smat[ci]) ** 2).sum(axis=1)
                if best_d is None:
                    best_d = d
                    best_c = np.full(len(mat), sid[ci], dtype=np.int64)
                else:
                    # strict <: the earlier (lower) seed_id wins ties
                    m = d < best_d
                    best_d = np.where(m, d, best_d)
                    best_c = np.where(m, sid[ci], best_c)
            out = pdf.copy()
            out["cell"] = best_c
            yield out

    schema = StructType(list(corpus.schema.fields) + [StructField("cell", LongType())])
    return corpus.mapInPandas(kern, schema)


def pq_assign_q6_np(
    corpus: DataFrame,
    codes: list[list[int]],
    subdim: int,
    id_col: str = "vec_id",
    q6_col: str = "v6",
) -> DataFrame:
    """Product-quantization assignment over micro-unit integer
    vectors: the d-dim q6 vector splits into d/subdim subspaces; per
    subspace, the nearest of the K full-length ``codes`` (restricted
    to that subspace's dims) wins by exact int64 squared distance,
    ties → lowest code index. Same exactness contract as
    ivf_assign_q6_np (int64 cannot overflow at |v6| ≤ 1e6, subdim ≤
    64), so code ids AND errors are bit-identical to the BIGINT HOF
    fold and the DuckDB twin. Output: [id, subspace, code, err] —
    long format, one row per (vector, subspace).
    """
    from pyspark.sql.types import LongType, StructField, StructType

    cmat = np.array(codes, dtype=np.int64)  # (K, d)
    n_sub = cmat.shape[1] // subdim

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[q6_col].to_numpy()).astype(np.int64)
            ids = pdf[id_col].to_numpy()
            for s in range(n_sub):
                lo, hi = s * subdim, (s + 1) * subdim
                sub = mat[:, lo:hi]
                best_d = None
                best_k = None
                for k in range(len(cmat)):
                    d = ((sub - cmat[k, lo:hi]) ** 2).sum(axis=1)
                    if best_d is None:
                        best_d = d
                        best_k = np.zeros(len(sub), dtype=np.int64)
                    else:
                        m = d < best_d  # strict <: lowest k wins ties
                        best_d = np.where(m, d, best_d)
                        best_k = np.where(m, k, best_k)
                yield pd.DataFrame(
                    {
                        "id": ids,
                        "subspace": np.full(len(sub), s, dtype=np.int64),
                        "code": best_k,
                        "err": best_d,
                    }
                )

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("subspace", LongType()),
            StructField("code", LongType()),
            StructField("err", LongType()),
        ]
    )
    return corpus.mapInPandas(kern, schema)


def ivf_search_cosine_np(
    corpus_with_cells: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int,
    nprobe: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Probe the nprobe nearest cells per query (ties → lowest
    centroid index); exact cosine top-k within probed cells, in the
    same single scan as cosine_topk_np (see _scan_topk). The
    `cell.isin(probed)` filter is a plain Catalyst predicate — over a
    corpus written partitioned by cell it becomes partition pruning,
    which is the IVF payoff at scale."""
    qids, qmat = _queries(queries)
    cmat = np.array(centroids, dtype=np.float64)
    probes = [np.lexsort((np.arange(len(cmat)), sqdists_ltr(cmat, q)))[:nprobe] for q in qmat]
    probed = sorted({int(c) for p in probes for c in p})
    src = corpus_with_cells.filter(F.col("cell").isin(probed))
    score = _cosine(qmat, lambda mat, pdf: pdf["cell"].to_numpy(), probes)
    return _scan_topk(src, qids, k, score, "sim", corpus_id, corpus_vec, desc=True, extra=("cell",))


# ---------------------------------------------------------------------------
# Blocked near-dup (the production composition: LSH blocking + exact
# within-block verification) — VERDICT r01 "what's wrong" #4
# ---------------------------------------------------------------------------


def planes_for_occupancy(n_rows: int, target_occupancy: int = 1024) -> int:
    """Planes per band so expected bucket occupancy ≈ target:
    ceil(log2(n / target)). SCALING.md measures why this matters —
    at FIXED geometry, 16× data made the blocked near-dup 18.9×
    slower (occupancy-squared verification); re-deriving the plane
    count from the corpus size kept it linear (14.4 s → 1.4 s)."""
    import math

    return max(1, math.ceil(math.log2(max(2.0, n_rows / target_occupancy))))


def blocked_neardup_pairs(
    emb: DataFrame,
    bands: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float | None = None,
    pair_topk: int | None = None,
) -> DataFrame:
    """Embedding near-dup at scale: multi-band random-hyperplane LSH
    blocking composed with EXACT cosine verification inside each block.

    ``bands[b]`` is a list of hyperplanes; a vector's block key in band
    b is its sign-bit bucket over those planes (_buckets, the hash
    rp_lsh_ann probes). Two vectors become a candidate pair iff they
    share a bucket in AT LEAST ONE band — the classic OR-of-ANDs LSH banding
    that trades bands (recall) against planes-per-band (block size).
    Every emitted pair carries its exact cosine (_block_pairs, the
    verifier cosine_pairs_np uses; bit-exact with the SQL twin), so
    precision is 1.0 by construction; only recall is approximate.

    Scale contract vs the all-pairs anchor (cosine_pairs_np / q26):
    work is Σ_buckets |bucket|² instead of n². The shuffle carries
    (id, vec) × n_bands rows grouped by (band, bucket); no driver-side
    state, no broadcast of the corpus. Block size is controlled by
    planes-per-band (each extra plane halves expected bucket
    occupancy); a skewed bucket (near-duplicate pile-up) is exactly
    the data that SHOULD verify together. min_cosine and/or pair_topk
    push filtering into the kernel: with pair_topk the global top-k is
    a subset of per-(band,bucket) top-ks, so the final sort sees
    groups×k rows, not Σ|bucket|².
    """
    nb_planes = [np.array(p, dtype=np.float64) for p in bands]

    def tag(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = _mat(pdf[vec_col])
            ids = pdf[id_col].to_numpy()
            for b, pmat in enumerate(nb_planes):
                yield pd.DataFrame(
                    {
                        "band": np.full(len(mat), b, dtype=np.int32),
                        "bucket": _buckets(mat, pmat),
                        "_id": ids.astype(np.int64),
                        "_vec": pdf[vec_col].to_numpy(),
                    }
                )

    vec_type = emb.select(F.col(vec_col).alias("_vec")).schema["_vec"].dataType.simpleString()
    tagged = emb.select(F.col(id_col).cast("long").alias(id_col), vec_col).mapInPandas(
        tag, f"band int, bucket long, _id long, _vec {vec_type}"
    )

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, mat = pdf["_id"].to_numpy(), _mat(pdf["_vec"])
        return _block_pairs(ids, mat, ids, mat, True, min_cosine, pair_topk)

    pairs = tagged.groupBy("band", "bucket").applyInPandas(
        verify, "id_a long, id_b long, sim double"
    )
    # a pair co-bucketed in several bands re-verifies to the IDENTICAL
    # double (same kernel, same operand order) → exact distinct dedupes
    return pairs.distinct()


def batch_bytes_profile(df, cols=None):
    """mapInArrow profiling pass: per-Arrow-batch row/byte accounting
    without ever materializing pandas objects — the zero-copy way to
    audit what a pipeline stage actually streams through Python.
    Output: one row per batch [n_rows, n_bytes].

    Completes the Python-interop family (pandas_udf, mapInPandas,
    applyInPandas[WithState], UDTF, DataSource): mapInArrow is the
    lowest-overhead seam, for kernels that operate directly on Arrow
    buffers (tokenizers with Arrow-native bindings, zero-copy
    hand-offs to C libraries).
    """
    import pyarrow as pa

    use = df.select(*cols) if cols else df

    def run(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {
                    "n_rows": pa.array([b.num_rows], pa.int64()),
                    "n_bytes": pa.array([b.nbytes], pa.int64()),
                }
            )

    return use.mapInArrow(run, "n_rows long, n_bytes long")


def ring_assign_np(
    corpus: DataFrame,
    rings: dict[str, tuple[list[int], list[int]]],
    pos_col: str = "pos",
) -> DataFrame:
    """Consistent-hash ring assignment over exact int64 positions:
    for each named ring (sorted positions, node ids), the winning
    node is the first ring point at-or-after the row's position,
    wrapping to the ring's first point — np.searchsorted(side
    'left') plus a modulo, bit-identical to the list_filter-count
    SQL form (`len(list_filter(ring, p -> p < pos))` indexes the
    same sorted array) because both count strictly-smaller ring
    points over the same exact integers.

    Exists because the literal-array HOF expression form is
    codegen-COMPILE-bound (the q235/CLAUDE.md class: two 64-point
    literal filters measured ~9.4 s per invocation WARM at any
    corpus size — recompiled every run); this kernel is one Arrow
    scan pass. Output: corpus schema + one long column per ring
    name.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    prepared = {
        name: (np.asarray(r[0], dtype=np.int64), np.asarray(r[1], dtype=np.int64))
        for name, r in rings.items()
    }
    for name, (rp, _) in prepared.items():
        assert (np.diff(rp) > 0).all(), f"ring {name} not sorted/deduped"

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            pos = pdf[pos_col].to_numpy(dtype=np.int64)
            out = pdf.copy()
            for name, (rp, rn) in prepared.items():
                idx = np.searchsorted(rp, pos, side="left")
                out[name] = rn[idx % len(rp)]
            yield out

    schema = StructType(
        list(corpus.schema.fields)
        + [StructField(name, LongType()) for name in prepared]
    )
    return corpus.mapInPandas(kern, schema)
