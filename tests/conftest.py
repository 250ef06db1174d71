from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

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
