from __future__ import annotations

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


def knn_l2_twin(corpus: list[tuple], queries: list[tuple], k: int) -> list[tuple]:
    """Brute-force exact kNN: [(qid, vec_id, dist, rk)] ranked by
    (dist, vec_id). ``corpus`` is [(vec_id, vec)], ``queries`` is
    [(qid, qvec)]. A plain-Python left-to-right loop (the same IEEE
    op order as the numpy kernel, written independently of it)."""
    out = []
    for qid, q in queries:
        scored = []
        for vid, v in corpus:
            acc = 0.0
            for a, b in zip(v, q):
                acc = acc + (float(a) - float(b)) * (float(a) - float(b))
            scored.append((acc, vid))
        out += [(qid, vid, d, rk) for rk, (d, vid) in enumerate(sorted(scored)[:k], 1)]
    return out
