"""The exact-L2 kNN's driver-side merge (vectorized.knn_l2_np and
similarity.knn_l2_with_threshold): per-partition top-k candidates from
a 3-partition corpus, merged by (dist, id) with the answer as payload,
returned as a local relation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_data_pipeline_spark.operators.similarity import knn_l2_with_threshold, queries_df
from ai_data_pipeline_spark.operators.vectorized import knn_l2_np
from tests.conftest import knn_l2_twin

# (vec_id, part, embedding, answer); ``part`` picks the partition, so the
# lowest-id member of each equal-distance set sits in the LAST partition
ROWS = [
    (5, 0, [0.0, -3.0], "e"),
    (6, 0, [5.0, 5.0], "f"),
    (3, 1, [0.0, 3.0], None),
    (2, 1, [0.0, 5.0], "b"),
    (1, 2, [3.0, 0.0], "a"),
    (4, 2, [-3.0, 0.0], "d"),
]
QVECS = [[0.0, 0.0], [1.0, 1.0], [0.0, 2.5], [4.0, 4.0]]


@pytest.fixture(scope="module")
def corpus(spark):
    df = (
        spark.createDataFrame(ROWS, "vec_id BIGINT, part INT, embedding ARRAY<DOUBLE>, answer STRING")
        .repartitionByRange(3, "part")
        .localCheckpoint()
    )
    placed = {r.vec_id: r.p for r in df.select("vec_id", F.spark_partition_id().alias("p")).collect()}
    assert placed == {5: 0, 6: 0, 3: 1, 2: 1, 1: 2, 4: 2}
    return df


def _nn(corpus, queries, threshold):
    out = knn_l2_with_threshold(corpus, queries, threshold, "NOPE", "answer").orderBy("qid")
    return [tuple(r) for r in out.collect()]


def test_tie_across_partitions_lowest_id_wins(spark, corpus):
    # [0, 0]: vec 1, 3, 4 and 5 all at 9.0, spread over all 3 partitions
    got = _nn(corpus, queries_df(spark, [[0.0, 0.0]]), 100.0)
    assert got == [(0, 1, 9.0, True, "a")]


def test_k_ranks_match_twin_across_partitions(spark, corpus):
    twin_corpus = [(r[0], r[2]) for r in ROWS]
    for k in (1, 3, 6):
        out = knn_l2_np(corpus, queries_df(spark, QVECS), k=k)
        got = [tuple(r) for r in out.orderBy("qid", "rk").collect()]
        assert got == knn_l2_twin(twin_corpus, list(enumerate(QVECS)), k)  # exact ==


def test_payload_rides_with_its_row(spark, corpus):
    out = knn_l2_np(corpus, queries_df(spark, [[0.0, 0.0]]), k=6, payload="answer")
    by_id = {r[0]: r[3] for r in ROWS}
    assert all(r.answer == by_id[r.vec_id] for r in out.collect())


def test_null_answer_accepted_stays_null_rejected_is_sentinel(spark, corpus):
    q = queries_df(spark, [[0.0, 2.5]])  # nearest: vec 3 (NULL answer) at 0.25
    assert _nn(corpus, q, 1.0) == [(0, 3, 0.25, True, None)]
    assert _nn(corpus, q, 0.1) == [(0, 3, 0.25, False, "NOPE")]


def test_empty_corpus_keeps_schema(spark, corpus):
    out = knn_l2_with_threshold(corpus.filter("false"), queries_df(spark, QVECS), 1.0, "NOPE", "answer")
    assert out.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("qid", "bigint"),
        ("vec_id", "bigint"),
        ("dist", "double"),
        ("accepted", "boolean"),
        ("answer", "string"),
    ]


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
    out, n = jobs_of(lambda: knn_l2_with_threshold(corpus, q, 10.0, "NOPE", "answer"))
    assert n == 1
    rows, n = jobs_of(out.collect)
    assert n == 0 and len(rows) == len(QVECS)
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
