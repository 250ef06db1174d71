"""Parity tests: the numpy kernels (operators/vectorized.py) must be
BIT-IDENTICAL to the plain-Python twins in tests/conftest.py — the
all-pairs cosine (cosine_pairs_twin), the per-query searches (kNN,
cosine top-k, IVF, LSH) and the IVF assignment. Same float64 op
sequence, so exact == on doubles, no tolerance.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.operators import similarity
from ai_data_pipeline_spark.operators.vectorized import (
    cosine_pairs_np,
    cosine_topk_np,
    ivf_assign_np,
    ivf_search_cosine_np,
    knn_l2_np,
)
from ai_data_pipeline_spark.plans.constants import (
    Q27_QUERY_VECS,
    Q28_CENTROIDS,
)
from tests.conftest import (
    cosine_pairs_twin,
    cosine_topk_twin,
    ivf_assign_twin,
    knn_l2_twin,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _rows(df, *cols):
    return [tuple(r) for r in df.select(*cols).collect()]


def test_cosine_topk_parity(spark, emb):
    q = similarity.queries_df(spark, Q27_QUERY_VECS)
    want = cosine_topk_twin(_rows(emb, "vec_id", "embedding"), list(enumerate(Q27_QUERY_VECS)), 5)
    fast = cosine_topk_np(emb, q, k=5).orderBy("qid", "rk")
    assert _rows(fast, "qid", "vec_id", "sim", "rk") == want  # exact ==


def test_knn_l2_parity(spark, emb):
    q = similarity.queries_df(spark, Q27_QUERY_VECS)
    want = knn_l2_twin(_rows(emb, "vec_id", "embedding"), list(enumerate(Q27_QUERY_VECS)), 4)
    fast = knn_l2_np(emb, q, k=4).orderBy("qid", "rk")
    assert _rows(fast, "qid", "vec_id", "dist", "rk") == want  # exact ==


def test_cosine_pairs_parity(spark, emb):
    sub = emb.filter(F.col("vec_id") < 120)
    want = sorted(cosine_pairs_twin(_rows(sub, "vec_id", "embedding")), key=lambda p: (-p[2], p[0], p[1]))
    fast = (
        cosine_pairs_np(sub, pair_topk=25, rows_per_block=48)
        .orderBy(F.desc("sim"), "id_a", "id_b")
        .limit(25)
    )
    assert _rows(fast, "id_a", "id_b", "sim") == want[:25]  # exact ==


def test_cosine_pairs_min_cosine_full_set(spark, emb):
    """Thresholded mode returns the complete pair set (no top-k), and
    blocking must not lose or duplicate any pair."""
    sub = emb.filter(F.col("vec_id") < 80)
    want = [p for p in cosine_pairs_twin(_rows(sub, "vec_id", "embedding")) if p[2] >= 0.1]
    fast = cosine_pairs_np(sub, min_cosine=0.1, rows_per_block=17)
    assert sorted(_rows(fast, "id_a", "id_b", "sim")) == want


def test_cosine_pairs_blocked_parity(spark, emb):
    """block_col mode: the kernel evaluates EXACTLY the within-block
    pairs the twin does — bit-equal sims, no cross-block pair, no loss
    under sub-splitting (rows_per_block far below the largest cell
    forces the sub-block triangle join to engage)."""
    sub = ivf_assign_np(emb.filter(F.col("vec_id") < 160), Q28_CENTROIDS)
    cells = dict(_rows(sub, "vec_id", "cell"))
    twin = cosine_pairs_twin(_rows(sub, "vec_id", "embedding"), block=cells)
    want = [p for p in twin if p[2] >= 0.05]
    fast = cosine_pairs_np(
        sub, block_col="cell", min_cosine=0.05, rows_per_block=13
    )
    assert sorted(_rows(fast, "id_a", "id_b", "sim")) == want
    assert len(want) > 0


def test_ivf_parity(spark, emb):
    corpus = _rows(emb, "vec_id", "embedding")
    fast_cells = ivf_assign_np(emb, Q28_CENTROIDS, keep_dist=True)
    got = {r["vec_id"]: (r["cell"], r["dist"]) for r in fast_cells.collect()}
    cells = ivf_assign_twin(corpus, Q28_CENTROIDS)
    assert got == cells  # cell AND the squared-L2 dist, exact doubles

    # nprobe=2: the two nearest centroids by (squared L2, index)
    queries = list(enumerate(Q27_QUERY_VECS))
    probes = knn_l2_twin(list(enumerate(Q28_CENTROIDS)), queries, 2)
    want = []
    for qid, qvec in queries:
        probed = {c for p, c, _, _ in probes if p == qid}
        inside = [(vid, v) for vid, v in corpus if cells[vid][0] in probed]
        want += cosine_topk_twin(inside, [(qid, qvec)], 3)
    q = similarity.queries_df(spark, Q27_QUERY_VECS)
    fast = ivf_search_cosine_np(fast_cells.drop("dist"), q, Q28_CENTROIDS, k=3, nprobe=2)
    assert _rows(fast.orderBy("qid", "rk"), "qid", "vec_id", "sim", "rk") == want


def test_rp_lsh(spark, emb):
    from ai_data_pipeline_spark.operators.vectorized import (
        _buckets,
        dots_ltr,
        rp_lsh_ann,
    )
    import numpy as np

    from ai_data_pipeline_spark.plans.constants import Q38_PLANES

    rows = emb.select("vec_id", "embedding").collect()
    pmat = np.array(Q38_PLANES, dtype=np.float64)

    def bucket(vec):
        v = np.array([vec], dtype=np.float64)
        b = 0
        for i in range(len(pmat)):
            b |= int(dots_ltr(v, pmat[i])[0] >= 0.0) << i
        return b

    got = _buckets(np.array([r["embedding"] for r in rows], dtype=np.float64), pmat)
    assert [int(b) for b in got] == [bucket(r["embedding"]) for r in rows]
    assert len(set(got.tolist())) <= 2 ** len(Q38_PLANES)

    # ANN: exactly the exact cosine top-3 over the rows whose bucket is
    # within Hamming distance 1 of the query's
    q = similarity.queries_df(spark, Q27_QUERY_VECS)
    ann = rp_lsh_ann(emb, q, Q38_PLANES, k=3).orderBy("qid", "rk")
    bucket_of = {r["vec_id"]: bucket(r["embedding"]) for r in rows}
    want = []
    for qid, qvec in enumerate(Q27_QUERY_VECS):
        qb = bucket(qvec)
        probed = [(r["vec_id"], r["embedding"]) for r in rows if bin(qb ^ bucket_of[r["vec_id"]]).count("1") <= 1]
        want += cosine_topk_twin(probed, [(qid, qvec)], 3)
    assert len(want) > 0
    assert _rows(ann, "qid", "vec_id", "sim", "rk") == want  # exact ==


def test_knn_threshold_boundary(spark, emb):
    """R18 regression: dist == threshold is ACCEPTED (strict > at
    rag_chatbot/main.py:42), and the kernel-backed path preserves it."""
    one = emb.limit(1).collect()[0]
    qvec = [float(x) for x in one["embedding"]]
    q = similarity.queries_df(spark, [qvec])
    out = similarity.knn_l2_with_threshold(
        emb, q, threshold=0.0, sentinel="NOPE", answer_col="label"
    ).collect()
    assert len(out) == 1
    assert out[0]["dist"] == 0.0
    assert bool(out[0]["accepted"]) is True
    assert out[0]["answer"] == str(one["label"])


def test_map_in_arrow_bytes_profile(spark):
    from ai_data_pipeline_spark.catalog import load_table
    from ai_data_pipeline_spark.operators.vectorized import batch_bytes_profile
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    prof = batch_bytes_profile(docs, ["doc_id", "text"]).collect()
    assert sum(r["n_rows"] for r in prof) == docs.count()
    assert all(r["n_bytes"] > 0 for r in prof if r["n_rows"] > 0)


def test_blocked_neardup_recall_and_precision(spark):
    """The production near-dup composition (LSH blocking + exact
    within-block verify) against the exact all-pairs anchor: planted
    near-dup pairs (base + tiny perturbation, cosine ~0.999) must be
    recovered, and every emitted sim must be bit-exact with the exact
    kernel's value for that pair (precision 1.0 by construction)."""
    import numpy as np

    from ai_data_pipeline_spark.operators.vectorized import (
        blocked_neardup_pairs,
        cosine_pairs_np,
    )
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM, Q82_BANDS, det_vector

    rows = []
    n_planted = 10
    for i in range(n_planted):
        base = np.array(det_vector(9000 + i, EMBED_DIM), dtype=np.float64)
        noise = np.array(det_vector(9500 + i, EMBED_DIM), dtype=np.float64) * 0.01
        rows.append((2 * i, [float(x) for x in base]))
        rows.append((2 * i + 1, [float(x) for x in base + noise]))
    for j in range(60):  # unrelated background vectors
        rows.append((1000 + j, det_vector(9900 + j, EMBED_DIM)))
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")

    got = blocked_neardup_pairs(emb, Q82_BANDS, min_cosine=0.95).collect()
    got_pairs = {(r.id_a, r.id_b): r.sim for r in got}
    exact = {
        (r.id_a, r.id_b): r.sim
        for r in cosine_pairs_np(emb, min_cosine=0.95).collect()
    }
    planted = {(2 * i, 2 * i + 1) for i in range(n_planted)}
    assert planted <= set(exact)  # the plant is real
    recall = len(set(got_pairs) & planted) / len(planted)
    assert recall >= 0.9, f"recall {recall} over planted near-dups"
    for p, sim in got_pairs.items():
        assert exact[p] == sim  # exact verification, bit-for-bit


def test_lsh_geometry_helpers():
    """planes_for_occupancy keeps expected bucket occupancy constant
    as the corpus grows."""
    from ai_data_pipeline_spark.operators.vectorized import planes_for_occupancy

    assert planes_for_occupancy(2_000, target_occupancy=1024) == 1
    assert planes_for_occupancy(16_000, target_occupancy=1024) == 4
    # 8x the corpus needs exactly 3 more planes (2^3 more buckets)
    assert (
        planes_for_occupancy(128_000, target_occupancy=1024)
        == planes_for_occupancy(16_000, target_occupancy=1024) + 3
    )


def test_semantic_dedup_matches_bruteforce(spark, emb):
    """semantic_dedup == python brute force (same cells, same cosine
    threshold, union-find components, min-id keeper) on the fixture
    embeddings — and the keeper set is exactly one per component."""
    import numpy as np

    from ai_data_pipeline_spark.operators.dedup import semantic_dedup
    from ai_data_pipeline_spark.operators.vectorized import (
        norms_ltr,
        sqdists_ltr,
    )
    from ai_data_pipeline_spark.plans.pipeline_queries import Q28_CENTROIDS

    tau = 0.44  # fixture top in-cell sims: .479 .470 .454 .453 .449 .439... — merges a handful, none at the boundary
    got = {
        r["id"]: (r["cluster_id"], r["is_keeper"])
        for r in semantic_dedup(emb, Q28_CENTROIDS, min_cosine=tau).collect()
    }

    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    cmat = np.array(Q28_CENTROIDS, dtype=np.float64)
    cells = np.argmin(
        np.stack([sqdists_ltr(mat, cmat[c]) for c in range(len(cmat))], axis=1),
        axis=1,
    )
    nrm = norms_ltr(mat)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if cells[i] != cells[j]:
                continue
            denom = nrm[i] * nrm[j]
            if denom == 0:
                continue
            # same fold order as the engine: ltr dot / (na*nb)
            acc = 0.0
            for d in range(mat.shape[1]):
                acc = acc + mat[i, d] * mat[j, d]
            if acc / denom >= tau:
                ra, rb = find(ids[i]), find(ids[j])
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in ids}
    assert {k: v[0] for k, v in got.items()} == want
    assert all((k == v[0]) == v[1] for k, v in got.items())
    # sanity: threshold actually merges something on the fixture
    assert any(k != v for k, v in want.items())


def test_ivf_assign_q6_np_tie_goes_to_lowest_seed_id(spark):
    """Two identical seeds: every row must land in the LOWER seed_id
    (the kernel's strict-< scan over ascending ids == min(struct(d,
    c)) == the DuckDB ROW_NUMBER ORDER BY d, seed_id twin)."""
    from ai_data_pipeline_spark.operators.vectorized import ivf_assign_q6_np

    rows = [(i, [i % 3, -i % 5, 7]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, v6 array<bigint>")
    seeds = [(11, [0, 0, 7]), (4, [0, 0, 7]), (9, [100, 100, 100])]
    out = {r["vec_id"]: r["cell"] for r in ivf_assign_q6_np(df, seeds).collect()}
    for vid, v6 in rows:
        d_seed = sum((a - b) ** 2 for a, b in zip(v6, [0, 0, 7]))
        d_far = sum((a - b) ** 2 for a, b in zip(v6, [100, 100, 100]))
        expect = 4 if d_seed <= d_far else 9  # tie between 11 and 4 -> 4
        assert out[vid] == expect, (vid, out[vid], expect)


def test_ring_assign_np_wrap_and_tie(spark):
    """searchsorted semantics pinned: a pos EQUAL to a ring point
    assigns to that point (strictly-smaller count), and a pos past
    the last point wraps to the ring's first node."""
    from ai_data_pipeline_spark.operators.vectorized import ring_assign_np

    ring = ([10, 20, 30], [7, 8, 9])
    df = spark.createDataFrame(
        [(5,), (10,), (11,), (30,), (31,)], "pos long"
    )
    got = {
        r["pos"]: r["node"]
        for r in ring_assign_np(df, {"node": ring}).collect()
    }
    assert got == {5: 7, 10: 7, 11: 8, 30: 9, 31: 7}
