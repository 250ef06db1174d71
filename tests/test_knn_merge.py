"""The per-query searches' driver-side merge (vectorized.knn_l2_np,
cosine_topk_np, ivf_search_cosine_np, rp_lsh_ann and
similarity.knn_l2_with_threshold): per-partition top-k candidates from
a 3-partition corpus, merged by (value, id) with the answer as payload,
returned as a local relation. Each test runs every kernel in KERNELS
against its plain-Python twin.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_data_pipeline_spark.operators.similarity import knn_l2_with_threshold, queries_df
from ai_data_pipeline_spark.operators.vectorized import (
    cosine_topk_np,
    ivf_assign_np,
    ivf_search_cosine_np,
    knn_l2_np,
    rp_lsh_ann,
)
from tests.conftest import cosine_topk_twin, ivf_assign_twin, knn_l2_twin

# (vec_id, part, embedding, answer); ``part`` picks the partition, so the
# lowest-id member of each equal-distance (and equal-cosine) set sits in
# the LAST partition
ROWS = [
    (5, 0, [0.0, -3.0], "e"),
    (6, 0, [5.0, 5.0], "f"),
    (7, 0, [6.0, 0.0], "g"),
    (3, 1, [0.0, 3.0], None),
    (2, 1, [0.0, 5.0], "b"),
    (1, 2, [3.0, 0.0], "a"),
    (4, 2, [-3.0, 0.0], "d"),
]
TWIN_CORPUS = [(r[0], r[2]) for r in ROWS]
# the last query probes the other IVF cell and LSH bucket than the rest,
# so each query's own row mask decides its candidates
QVECS = [[0.0, 0.0], [1.0, 1.0], [0.0, 2.5], [4.0, 4.0], [-4.0, -1.0]]
CENTS = [[1.0, 0.0], [-1.0, 0.0]]  # IVF, nprobe=1: x < 0 probes cell 1, else cell 0
# LSH: bucket = (y >= 0) | (x >= 0) << 1; [-4, -1] is in bucket 0, so its
# Hamming-1 probe leaves out bucket 3, which holds rows
PLANES = [[0.0, 1.0], [1.0, 0.0]]


def _ivf_twin(corpus, queries, k):
    cells = ivf_assign_twin(corpus, CENTS)
    out = []
    for qid, q in queries:
        probed = ivf_assign_twin([(qid, q)], CENTS)[qid][0]
        out += cosine_topk_twin([(i, v) for i, v in corpus if cells[i][0] == probed], [(qid, q)], k)
    return out


def _lsh_twin(corpus, queries, k):
    def bucket(v):
        return int(v[1] >= 0.0) | int(v[0] >= 0.0) << 1

    out = []
    for qid, q in queries:
        near = [(i, v) for i, v in corpus if bin(bucket(v) ^ bucket(q)).count("1") <= 1]
        out += cosine_topk_twin(near, [(qid, q)], k)
    return out


# name → (kernel(corpus, queries, k), twin(corpus, queries, k), value column)
KERNELS = {
    "l2": (knn_l2_np, knn_l2_twin, "dist"),
    "cosine": (cosine_topk_np, cosine_topk_twin, "sim"),
    "ivf": (
        lambda c, q, k: ivf_search_cosine_np(ivf_assign_np(c, CENTS), q, CENTS, k, nprobe=1),
        _ivf_twin,
        "sim",
    ),
    "lsh": (lambda c, q, k: rp_lsh_ann(c, q, PLANES, k), _lsh_twin, "sim"),
}


def _schema(df):
    return [(f.name, f.dataType.simpleString()) for f in df.schema]


@pytest.fixture(scope="module")
def corpus(spark):
    df = (
        spark.createDataFrame(ROWS, "vec_id BIGINT, part INT, embedding ARRAY<DOUBLE>, answer STRING")
        .repartitionByRange(3, "part")
        .localCheckpoint()
    )
    placed = {r.vec_id: r.p for r in df.select("vec_id", F.spark_partition_id().alias("p")).collect()}
    assert placed == {5: 0, 6: 0, 7: 0, 3: 1, 2: 1, 1: 2, 4: 2}
    return df


def _nn(corpus, queries, threshold):
    out = knn_l2_with_threshold(corpus, queries, threshold, "NOPE", "answer").orderBy("qid")
    return [tuple(r) for r in out.collect()]


def test_tie_across_partitions_lowest_id_wins(spark, corpus):
    # [0, 0]: vec 1, 3, 4 and 5 all at 9.0, spread over all 3 partitions
    got = _nn(corpus, queries_df(spark, [[0.0, 0.0]]), 100.0)
    assert got == [(0, 1, 9.0, True, "a")]
    # [1, 0]: vec 1 and 7 both at cosine 1.0, in partitions 2 and 0
    for name in ("cosine", "ivf", "lsh"):
        out = KERNELS[name][0](corpus, queries_df(spark, [[1.0, 0.0]]), 1)
        assert [tuple(r) for r in out.collect()] == [(0, 1, 1.0, 1)], name


def test_k_ranks_match_twin_across_partitions(spark, corpus):
    for name, (kernel, twin, _) in KERNELS.items():
        for k in (1, 3, 6):
            out = kernel(corpus, queries_df(spark, QVECS), k)
            got = [tuple(r) for r in out.orderBy("qid", "rk").collect()]
            assert got == twin(TWIN_CORPUS, list(enumerate(QVECS)), k), (name, k)  # exact ==


def test_payload_rides_with_its_row(spark, corpus):
    out = knn_l2_np(corpus, queries_df(spark, [[0.0, 0.0]]), k=len(ROWS), payload="answer")
    by_id = {r[0]: r[3] for r in ROWS}
    assert all(r.answer == by_id[r.vec_id] for r in out.collect())


def test_null_answer_accepted_stays_null_rejected_is_sentinel(spark, corpus):
    q = queries_df(spark, [[0.0, 2.5]])  # nearest: vec 3 (NULL answer) at 0.25
    assert _nn(corpus, q, 1.0) == [(0, 3, 0.25, True, None)]
    assert _nn(corpus, q, 0.1) == [(0, 3, 0.25, False, "NOPE")]


def test_empty_corpus_keeps_schema(spark, corpus):
    out = knn_l2_with_threshold(corpus.filter("false"), queries_df(spark, QVECS), 1.0, "NOPE", "answer")
    assert out.collect() == []
    assert _schema(out) == [
        ("qid", "bigint"),
        ("vec_id", "bigint"),
        ("dist", "double"),
        ("accepted", "boolean"),
        ("answer", "string"),
    ]
    for name, (kernel, _, value) in KERNELS.items():
        out = kernel(corpus.filter("false"), queries_df(spark, QVECS), 3)
        assert out.collect() == [], name
        assert _schema(out) == [("qid", "bigint"), ("vec_id", "bigint"), (value, "double"), ("rk", "bigint")]


def test_empty_queries_keep_schema(spark, corpus):
    for name, (kernel, _, value) in KERNELS.items():
        out = kernel(corpus, queries_df(spark, []), 3)
        assert out.collect() == [], name
        assert _schema(out) == [("qid", "bigint"), ("vec_id", "bigint"), (value, "double"), ("rk", "bigint")]


def test_result_identical_without_arrow(spark, corpus):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    want = _nn(corpus, queries_df(spark, QVECS), 10.0)
    old = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        assert _nn(corpus, queries_df(spark, QVECS), 10.0) == want
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_one_job_per_call_none_to_collect_no_exchange(spark, corpus):
    sc = spark.sparkContext
    group = "knn-merge-job-count"

    def jobs_of(fn):
        sc.setJobGroup(group, "kNN job count")
        try:
            before = set(sc.statusTracker().getJobIdsForGroup(group))
            res = fn()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return res, len(set(sc.statusTracker().getJobIdsForGroup(group)) - before)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    q, n = jobs_of(lambda: queries_df(spark, QVECS))
    assert n == 0 and q.collect()  # the query side is already local
    calls = {"threshold": lambda: knn_l2_with_threshold(corpus, q, 10.0, "NOPE", "answer")}
    calls.update({name: (lambda kernel=kernel: kernel(corpus, q, 3)) for name, (kernel, _, _) in KERNELS.items()})
    for name, call in calls.items():
        out, n = jobs_of(call)
        assert n == 1, name
        rows, n = jobs_of(out.collect)
        assert n == 0 and rows, name
        assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString(), name
        if name == "threshold":
            assert len(rows) == len(QVECS)
