"""Dedup + similarity operator unit tests: crafted corpora with known
duplicates/neighbors, including the R18 threshold-at-boundary case
(dist == threshold ACCEPTED — strict > at rag_chatbot/main.py:42).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ai_data_pipeline_spark.operators import dedup, similarity
from ai_data_pipeline_spark.operators.vectorized import (
    cosine_pairs_np,
    cosine_topk_np,
    ivf_assign_np,
    ivf_search_cosine_np,
    knn_l2_np,
)
from tests.conftest import (
    cosine_topk_twin,
    ivf_assign_twin,
    knn_l2_twin,
    shingle_jaccard_twin,
)


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different content about spark engines"),
        (5, "The Quick Brown Fox Jumps Over The Lazy Dog!"),  # norm-dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def test_exact_dedup_keeps_lowest_id(spark):
    out = dedup.exact_dedup(_docs(spark), ["text"], "doc_id")
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [1, 3, 4, 5]  # doc 2 dropped (exact dup of 1)


def test_exact_dup_stats_norm_dups(spark):
    df = _docs(spark).withColumn("grp", F.lit("g"))
    row = dedup.exact_dup_stats(df, "text", "grp").collect()[0]
    assert row.n_docs == 5
    assert row.n_exact_dups == 1  # 2 ≡ 1
    assert row.n_norm_dups == 2  # 2 ≡ 1 and 5 ≡ 1 after normalization


def _jaccard_rows(df):
    return {(r.id_a, r.id_b): (r.inter, r.n_a, r.n_b, r.jaccard) for r in df.collect()}


def test_ngram_jaccard_identical_pair(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(_docs(spark), "doc_id", "text", n=2).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.0 < pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs  # no shared bigrams


def test_ngram_jaccard_shingle_freq_cap_bounds_pairs(spark):
    """A shingle in f docs contributes f² rows to the self-join; the
    cap must drop hot shingles BEFORE the join so a boilerplate phrase
    can't go quadratic. Corpus: 20 docs all sharing one hot bigram
    ('shared boiler plate'), pairwise-disjoint otherwise, plus one true
    near-dup pair sharing rare shingles."""
    rows = [(i, f"shared boiler plate unique{i}a unique{i}b unique{i}c") for i in range(20)]
    rows += [(100, "rare alpha beta gamma delta"), (101, "rare alpha beta gamma echo")]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")

    uncapped = _jaccard_rows(dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=2))
    capped = _jaccard_rows(
        dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=2, max_shingle_freq=5)
    )
    assert uncapped == shingle_jaccard_twin(rows, 2)
    assert capped == shingle_jaccard_twin(rows, 2, max_shingle_freq=5)

    # uncapped: the hot shingles link all 20 boilerplate docs pairwise
    assert len(uncapped) >= 20 * 19 // 2
    got = set(capped)
    # capped: the 190 boilerplate-only pairs vanish...
    assert not any(a < 20 and b < 20 for a, b in got)
    # ...but the true near-dup pair (rare shingles, f=2 <= cap) survives
    assert (100, 101) in got


def test_minhash_identical_signatures(spark):
    sigs = {
        r.id: tuple(r.sig)
        for r in dedup.minhash_signatures(_docs(spark), "doc_id", "text", n=2).collect()
    }
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]


def test_minhash_lsh_finds_exact_dup(spark):
    """Every emitted jaccard equals the plain-Python twin's, and every
    LSH candidate the twin puts at ≥ τ is emitted."""
    docs = _docs(spark)
    out = dedup.minhash_neardup_pairs(
        docs, "doc_id", "text", n=2, num_hashes=16, bands=4, min_jaccard=0.9
    ).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert set(got) >= {(1, 2)}
    twin = shingle_jaccard_twin([(r.doc_id, r.text) for r in docs.collect()], 2)
    assert got == {k: twin[k][3] for k in got}
    cands = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates(
            dedup.minhash_signatures(docs, "doc_id", "text", n=2, num_hashes=16), 16, 4
        ).collect()
    }
    assert set(got) == {k for k in cands if k in twin and twin[k][3] >= 0.9}


def test_simhash_identical_and_near(spark):
    sims = {r.id: r.simhash for r in dedup.simhash(_docs(spark), "doc_id", "text").collect()}
    assert sims[1] == sims[2]
    pairs = dedup.simhash_neardup_pairs(
        dedup.simhash(_docs(spark), "doc_id", "text"), max_hamming=3
    ).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert got[(1, 2)] == 0


def test_simhash_blocking_recall_matches_exact(spark):
    """Pigeonhole guarantee: blocked pairs == exact all-pairs at the
    bound (the old fixed-4-segment blocking silently missed pairs
    for max_hamming > 3 — this is the regression test)."""
    from pyspark.sql import functions as F
    from ai_data_pipeline_spark.catalog import load_table
    from tests.conftest import SF_SMOKE

    sims = dedup.simhash(load_table(spark, SF_SMOKE, "documents"), "doc_id", "text").cache()
    for bound in (3, 7):
        blocked = {
            (r.id_a, r.id_b)
            for r in dedup.simhash_neardup_pairs(sims, max_hamming=bound).collect()
        }
        a, b = sims.alias("a"), sims.alias("b")
        exact = {
            (r.id_a, r.id_b)
            for r in (
                a.join(b, F.col("a.id") < F.col("b.id"))
                .select(
                    F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    F.bit_count(
                        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
                    ).alias("hamming"),
                )
                .filter(F.col("hamming") <= bound)
            ).collect()
        }
        assert blocked == exact
    sims.unpersist()


def test_simhash_degenerate_bound_rejected(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.simhash_neardup_pairs(
            dedup.simhash(_docs(spark), "doc_id", "text"), max_hamming=16
        )


def _emb(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], "one"),
        (2, [0.0, 1.0, 0.0, 0.0], "two"),
        (3, [2.0, 0.0, 0.0, 0.0], "three"),  # colinear with 1
        (4, [1.0, 1.0, 0.0, 0.0], "four"),
    ]
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label STRING")


def test_knn_l2_basic(spark):
    qvec = [1.0, 0.1, 0.0, 0.0]
    out = knn_l2_np(_emb(spark), similarity.queries_df(spark, [qvec]), k=2).collect()
    got = [(r.qid, r.vec_id, r.dist, r.rk) for r in out]
    corpus = [(r.vec_id, r.embedding) for r in _emb(spark).collect()]
    assert got == knn_l2_twin(corpus, [(0, qvec)], 2)
    assert [r.vec_id for r in out] == [1, 4]


def test_knn_threshold_boundary_accepted(spark):
    # query at squared-L2 exactly 1.0 from vec 1 → ACCEPTED (strict >)
    q = similarity.queries_df(spark, [[0.0, 0.0, 0.0, 0.0]])
    out = similarity.knn_l2_with_threshold(
        _emb(spark), q, threshold=1.0, sentinel="NOPE", answer_col="label"
    ).collect()[0]
    assert out.dist == 1.0 and out.accepted and out.answer == "one"


def test_knn_threshold_rejected(spark):
    q = similarity.queries_df(spark, [[10.0, 10.0, 10.0, 10.0]])
    out = similarity.knn_l2_with_threshold(
        _emb(spark), q, threshold=1.0, sentinel="NOPE", answer_col="label"
    ).collect()[0]
    assert not out.accepted and out.answer == "NOPE"


def test_cosine_topk_ignores_magnitude(spark):
    qvec = [1.0, 0.0, 0.0, 0.0]
    out = cosine_topk_np(_emb(spark), similarity.queries_df(spark, [qvec]), k=2).collect()
    corpus = [(r.vec_id, r.embedding) for r in _emb(spark).collect()]
    assert [tuple(r) for r in out] == cosine_topk_twin(corpus, [(0, qvec)], 2)
    # 1 and 3 are both cosine=1 with the query; tie-break by vec_id
    assert [r.vec_id for r in out] == [1, 3]


def test_ivf_assign_and_search(spark):
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    corpus = ivf_assign_np(_emb(spark), cents, keep_dist=True)
    cells = {r.vec_id: (r.cell, r.dist) for r in corpus.collect()}
    assert cells == ivf_assign_twin([(r.vec_id, r.embedding) for r in _emb(spark).collect()], cents)
    assert cells[1][0] == 0 and cells[3][0] == 0 and cells[2][0] == 1
    q = similarity.queries_df(spark, [[0.9, 0.05, 0.0, 0.0]])
    out = ivf_search_cosine_np(corpus.drop("dist"), q, cents, k=1, nprobe=1).collect()
    assert out[0].vec_id == 1


def test_embedding_neardup_blocked(spark):
    emb = _emb(spark).withColumn("blk", F.col("vec_id") % 2)
    pairs = cosine_pairs_np(emb, block_col="blk").collect()
    ids = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 3) in ids  # same block (odd), colinear
    assert (1, 2) not in ids  # different blocks never compared


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_dedup_clusters_matches_union_find(spark):
    """Connected components == classic union-find on a graph with a
    chain (tests multi-round convergence), a triangle and two pairs,
    on both the distributed star path and the small-graph cutover."""
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21), (7, 30)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    for kw in ({"small_graph_edges": 0}, {}):
        got = {r["id"]: r["cluster_id"] for r in dedup.dedup_clusters_star(pairs, **kw).collect()}
        assert got == _union_find(edges), kw


def test_dedup_clusters_on_real_neardup_pairs(spark):
    """End-to-end: q23-style jaccard pairs at smoke SF resolve into
    clusters; every member maps to the min id of its component."""
    from ai_data_pipeline_spark.catalog import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=4, min_jaccard=0.5)
    edge_list = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    assert edge_list, "smoke corpus must contain near-dups for this test"
    want = _union_find(edge_list)
    # the distributed star path (small_graph_edges=0) and the default
    # small-graph union-find cutover
    for kw in ({"small_graph_edges": 0}, {}):
        got = {r["id"]: r["cluster_id"] for r in dedup.dedup_clusters_star(pairs, **kw).collect()}
        assert got == want, kw
        # dedup policy: keep one doc per cluster
        keepers = {v for v in got.values()}
        assert all(got[k] in keepers for k in got)


def test_shingle_containment_asymmetry(spark):
    """A short doc fully quoted inside a long one: containment
    short→long is 1.0 while long→short is < 1 — the asymmetric case
    symmetric Jaccard under-scores."""
    quote = "the sly red panda naps in the tall bamboo grove today"
    rows = [
        (1, quote),
        (2, quote + " surrounded by extra framing narrative text that "
                     "keeps going with many additional unrelated words"),
        (3, "entirely different content about distributed query engines"),
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    got = {
        (r.id_a, r.id_b): (r.inter, r.n_a, r.containment)
        for r in dedup.shingle_containment_pairs(docs, "doc_id", "text", n=2).collect()
    }
    want = {}
    for (a, b), (inter, na, nb, _) in shingle_jaccard_twin(rows, 2).items():
        want[(a, b)] = (inter, na, inter / na)
        want[(b, a)] = (inter, nb, inter / nb)
    assert got == want
    got = {k: v[2] for k, v in got.items()}
    assert got[(1, 2)] == 1.0      # every bigram of 1 appears in 2
    assert 0.0 < got[(2, 1)] < 1.0  # 2 has bigrams 1 lacks
    assert (1, 3) not in got


def test_prefix_jaccard_equals_full_join(spark):
    """Prefix filtering is EXACT: on a corpus with near-dups, exact
    dups, disjoint docs and a hot shared shingle, the prefix-filtered
    join must emit exactly the pairs the full self-join emits at the
    same threshold."""
    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base),
        (2, base),                                  # exact dup
        (3, base.replace("theta", "iota")),         # near dup
        (4, "totally different words everywhere here now"),
        (5, "shared boiler plate " + "unique5 " * 6),
        (6, "shared boiler plate " + "unique6 " * 6),  # hot shingle, low jaccard
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    twin = shingle_jaccard_twin(rows, 2)
    for t in (0.5, 0.8):
        want = {k: v for k, v in twin.items() if v[3] >= t}
        full = _jaccard_rows(
            dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=2, min_jaccard=t)
        )
        pref = _jaccard_rows(
            dedup.prefix_jaccard_pairs(docs, "doc_id", "text", n=2, min_jaccard=t)
        )
        assert full == want, f"t={t}: {full} != {want}"
        assert pref == want, f"t={t}: {pref} != {want}"


def test_verify_jaccard_two_tables_at_threshold(spark):
    """Batch-vs-history verification: id_a's shingles come from one
    table and id_b's from another, and a pair whose Jaccard equals τ
    exactly is kept (>=), as the twin says."""
    batch = [(1, "a b c"), (2, "x y z")]
    hist = [(11, "a b d"), (12, "x p q r s")]

    def sh(rows):
        df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
        return dedup.shingle_table(df, "doc_id", "text", 1, hashed=True)

    cands = spark.createDataFrame(
        [(a, b) for a, _ in batch for b, _ in hist], "id_a BIGINT, id_b BIGINT"
    )
    got = _jaccard_rows(dedup.verify_jaccard(cands, sh(batch), sh(hist), 0.5))
    twin = shingle_jaccard_twin(batch + hist, 1)
    assert twin[(1, 11)] == (2, 3, 3, 0.5) and twin[(2, 12)][3] < 0.5
    assert got == {k: v for k, v in twin.items() if v[3] >= 0.5}


def test_dedup_clusters_star_matches_union_find(spark):
    """Large-star/small-star components == union-find on shapes that
    stress it: a 60-node path (diameter 59 — the case min-label
    propagation pays per-hop rounds for), a star, two merged rings,
    and a batch of random graphs."""
    import random

    cases = [
        [(i, i + 1) for i in range(60)],                      # long path
        [(0, i) for i in range(1, 20)],                       # star
        [(i, (i + 1) % 10) for i in range(10)]
        + [(100 + i, 100 + (i + 1) % 10) for i in range(10)]
        + [(5, 105)],                                         # merged rings
    ]
    rng = random.Random(42)
    for _ in range(3):
        n = 80
        cases.append(
            [(rng.randrange(n), rng.randrange(n)) for _ in range(60)]
        )
    for edges in cases:
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "id_a BIGINT, id_b BIGINT")
        # small_graph_edges=0 forces the DISTRIBUTED star path — the
        # default small-graph cutover is itself a union-find, so the
        # default here would test union-find against union-find
        got = {
            r.id: r.cluster_id
            for r in dedup.dedup_clusters_star(df, small_graph_edges=0).collect()
        }
        # union-find canonical: min id per component
        want = _union_find(edges)
        # normalize union-find roots to component minima
        comp = {}
        for x, r in want.items():
            comp.setdefault(r, []).append(x)
        want_min = {x: min(members) for r, members in comp.items() for x in members}
        assert got == want_min, f"edges={edges[:8]}...: {got} != {want_min}"
        # and the small-graph cutover (default threshold) must agree
        # with the distributed result exactly
        small = {r.id: r.cluster_id for r in dedup.dedup_clusters_star(df).collect()}
        assert small == want_min


def test_dedup_clusters_star_raises_without_fixed_point(spark):
    """Exhausting max_iter without convergence must raise, not return
    a silently-wrong non-fixed-point clustering (a chain needs >1
    round, so max_iter=1 cannot reach the fixed point)."""
    import pytest

    edges = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(edges, "id_a BIGINT, id_b BIGINT")
    with pytest.raises(RuntimeError, match="no fixed point"):
        dedup.dedup_clusters_star(df, max_iter=1, small_graph_edges=0)


def test_tf_cosine_pairs_matches_bruteforce_and_is_multiset(spark):
    """tf_cosine_pairs == python brute force on crafted docs, and the
    measure is genuinely multiset: same term SETS at different
    multiplicities give sim < 1 here while set-Jaccard reads 1.0."""
    import math
    import re

    from ai_data_pipeline_spark.operators import dedup

    docs = {
        1: "alpha beta gamma alpha beta gamma alpha beta gamma",
        2: "alpha beta gamma alpha beta gamma alpha beta gamma",   # exact dup of 1
        3: "alpha beta gamma " * 1 + "alpha beta gamma delta x y",  # same grams + extras
        4: "zeta eta theta iota kappa zeta eta theta",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): (r["dot"], r["sim"])
        for r in dedup.tf_cosine_pairs(
            df, "doc_id", "text", n=2, max_term_df=10
        ).collect()
    }

    def grams(t):
        ws = [w for w in re.split(r"\s+", t.strip().lower()) if w]
        return [" ".join(ws[i : i + 2]) for i in range(len(ws) - 1)]

    tf = {i: {} for i in docs}
    for i, t in docs.items():
        for g in grams(t):
            tf[i][g] = tf[i].get(g, 0) + 1
    want = {}
    ids = sorted(docs)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            dot = sum(tf[a][g] * tf[b].get(g, 0) for g in tf[a])
            if dot == 0:
                continue
            na = math.sqrt(float(sum(v * v for v in tf[a].values())))
            nb = math.sqrt(float(sum(v * v for v in tf[b].values())))
            want[(a, b)] = (dot, dot / (na * nb))
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert abs(got[k][1] - want[k][1]) < 1e-12, k
    assert got[(1, 2)][1] == 1.0          # exact dup
    assert 0 < got[(1, 3)][1] < 1.0       # same grams, different multiplicity


def test_tf_cosine_df_cap_drops_boilerplate_terms(spark):
    """A term present in more docs than max_term_df contributes to NO
    pair (the f² rule): with the cap at 2, the 3-doc shared phrase
    vanishes and only the 2-doc phrase pairs survive."""
    from ai_data_pipeline_spark.operators import dedup

    common = "the shared boilerplate phrase here"
    rare = "rare unique marker sequence q"
    rows = [
        (1, f"{common} {rare}"),
        (2, f"{common} {rare}"),
        (3, f"{common} totally different tail words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.tf_cosine_pairs(
            df, "doc_id", "text", n=4, max_term_df=2
        ).collect()
    }
    # the 4-grams inside `common` appear in 3 docs -> capped away;
    # only (1,2) still shares kept terms (the rare tail)
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs
