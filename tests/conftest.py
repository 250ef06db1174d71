from __future__ import annotations

import math
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ai_data_pipeline_spark.functions.text import WS_RUN
from ai_data_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("pytest", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def _sqdist(v, q) -> float:
    acc = 0.0
    for a, b in zip(v, q):
        acc = acc + (float(a) - float(b)) * (float(a) - float(b))
    return acc


def _dot(v, q) -> float:
    acc = 0.0
    for a, b in zip(v, q):
        acc = acc + float(a) * float(b)
    return acc


def knn_l2_twin(corpus: list[tuple], queries: list[tuple], k: int) -> list[tuple]:
    """Brute-force exact kNN: [(qid, vec_id, dist, rk)] ranked by
    (dist, vec_id). ``corpus`` is [(vec_id, vec)], ``queries`` is
    [(qid, qvec)]. A plain-Python left-to-right loop (the same IEEE
    op order as the numpy kernel, written independently of it)."""
    out = []
    for qid, q in queries:
        scored = sorted((_sqdist(v, q), vid) for vid, v in corpus)
        out += [(qid, vid, d, rk) for rk, (d, vid) in enumerate(scored[:k], 1)]
    return out


def cosine_topk_twin(corpus: list[tuple], queries: list[tuple], k: int) -> list[tuple]:
    """Brute-force exact cosine top-k: [(qid, vec_id, sim, rk)] ranked
    by (sim DESC, vec_id); a row where either norm is 0 is skipped.
    Same argument shapes as knn_l2_twin; dot and norm are plain-Python
    left-to-right loops, sim = dot / (|v| * |q|)."""
    out = []
    for qid, q in queries:
        scored = []
        for vid, v in corpus:
            d = math.sqrt(_dot(v, v)) * math.sqrt(_dot(q, q))
            if d != 0.0:
                scored.append((-(_dot(v, q) / d), vid))
        out += [(qid, vid, -s, rk) for rk, (s, vid) in enumerate(sorted(scored)[:k], 1)]
    return out


def cosine_pairs_twin(corpus: list[tuple], block: dict | None = None) -> list[tuple]:
    """All-pairs exact cosine: [(id_a, id_b, sim)] for every pair with
    id_a < id_b, ordered by (id_a, id_b); with ``block`` ({vec_id:
    block value}) only pairs in the same block. A pair whose norm
    product is 0 is skipped. ``corpus`` is [(vec_id, vec)]; dot and
    norm are plain-Python left-to-right loops, sim = dot / (|a| * |b|)."""
    rows, out = sorted(corpus), []
    for ia, va in rows:
        for ib, vb in rows:
            if ia >= ib or (block is not None and block[ia] != block[ib]):
                continue
            d = math.sqrt(_dot(va, va)) * math.sqrt(_dot(vb, vb))
            if d != 0.0:
                out.append((ia, ib, _dot(va, vb) / d))
    return out


def ivf_assign_twin(corpus: list[tuple], centroids: list[list[float]]) -> dict:
    """Nearest centroid per vector: {vec_id: (cell, squared-L2 dist)},
    ties → lowest centroid index. ``corpus`` is [(vec_id, vec)]."""
    out = {}
    for vid, v in corpus:
        dists = [_sqdist(v, c) for c in centroids]
        cell = min(range(len(dists)), key=lambda c: (dists[c], c))
        out[vid] = (cell, dists[cell])
    return out


def shingle_jaccard_twin(
    docs: list[tuple], n: int, max_shingle_freq: int | None = None
) -> dict:
    """Exact Jaccard over distinct word n-gram sets: {(id_a, id_b):
    (inter, n_a, n_b, jaccard)} for every pair with id_a < id_b that
    shares a shingle. ``docs`` is [(doc_id, text)]; tokens split on
    WS_RUN with empties dropped, an n-gram is its tokens joined with one
    space, and a shingle found in more than ``max_shingle_freq`` docs is
    dropped from every set. Plain string sets, no hashing;
    jaccard = inter / (n_a + n_b - inter)."""
    sets = {}
    for did, text in docs:
        toks = [t for t in re.split(WS_RUN, text) if t]
        sets[did] = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    if max_shingle_freq is not None:
        freq = {}
        for grams in sets.values():
            for g in grams:
                freq[g] = freq.get(g, 0) + 1
        sets = {d: {g for g in grams if freq[g] <= max_shingle_freq} for d, grams in sets.items()}
    ids, out = sorted(sets), {}
    for a in ids:
        for b in ids:
            inter = len(sets[a] & sets[b]) if a < b else 0
            if inter:
                na, nb = len(sets[a]), len(sets[b])
                out[(a, b)] = (inter, na, nb, inter / (na + nb - inter))
    return out
