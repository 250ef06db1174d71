"""Tests: applyInPandasWithState custom stateful streaming operator,
skew-mitigation recipes, CSV/rate sources.
"""

from __future__ import annotations

import json
import uuid

import pytest
from pyspark.sql import functions as F

from ai_data_pipeline_spark.catalog import load_table
from ai_data_pipeline_spark.operators.skew import salted_count, salted_join
from ai_data_pipeline_spark.sources.readers import rate_stream, read_csv
from ai_data_pipeline_spark.streaming.stateful import running_user_stats

EVENT_SCHEMA = "ts timestamp, user_id bigint, event_type string, value double"


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_running_user_stats_state_across_batches(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    name = f"state_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(EVENT_SCHEMA).json(str(in_dir))
    out = running_user_stats(stream)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
    )
    try:
        _write_jsonl(
            str(in_dir / "b1.json"),
            [
                {"ts": "2024-01-01 10:00:00", "user_id": 1, "event_type": "view", "value": 2.0},
                {"ts": "2024-01-01 10:01:00", "user_id": 1, "event_type": "click", "value": 3.0},
                {"ts": "2024-01-01 10:00:30", "user_id": 2, "event_type": "view", "value": 1.0},
            ],
        )
        q.processAllAvailable()
        # batch 2: user 1 continues — state must carry the counts over
        _write_jsonl(
            str(in_dir / "b2.json"),
            [{"ts": "2024-01-01 10:05:00", "user_id": 1, "event_type": "purchase", "value": 5.0}],
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table(name).collect()
    # update mode: one row per (key, batch) it appeared in; the LAST
    # row per key is the running total
    u1 = [r for r in rows if r["user_id"] == 1]
    assert [(r["n_events"], r["total_value"], r["last_event_type"]) for r in u1] == [
        (2, 5.0, "click"),
        (3, 10.0, "purchase"),
    ]
    u2 = [r for r in rows if r["user_id"] == 2]
    assert [(r["n_events"], r["total_value"], r["last_event_type"]) for r in u2] == [
        (1, 1.0, "view")
    ]


def test_salted_join_equals_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey"), "l_quantity"
    )
    pt = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"), "p_name"
    )
    plain = li.join(pt, "partkey").select("partkey", "l_quantity", "p_name")
    salted = salted_join(li, pt, "partkey", salts=4).select("partkey", "l_quantity", "p_name")
    a = sorted(tuple(r) for r in plain.collect())
    b = sorted(tuple(r) for r in salted.collect())
    assert a == b
    assert "_salt" not in salted.columns


def test_salted_count_equals_plain_count(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    plain = {
        r["o_orderstatus"]: r["n"]
        for r in o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    salted = {
        r["o_orderstatus"]: r["n"]
        for r in salted_count(o, "o_orderstatus", salts=4).collect()
    }
    assert plain == salted


def test_salted_count_salt_varies_within_key(spark, sf_dir):
    # The whole point of the salt is >1 distinct value per hot key —
    # a key-only frame gives every row of a key the SAME salt (the
    # degenerate shape ADVICE r08 flagged on q221) and must be refused.
    o = load_table(spark, sf_dir, "orders").select("o_orderstatus", "o_orderkey")
    salt = F.pmod(F.xxhash64("o_orderstatus", "o_orderkey"), F.lit(4))
    per_key = (
        o.withColumn("_salt", salt)
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("_salt").alias("n_salts"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    for r in per_key:
        if r["n"] >= 8:  # enough rows that 4 salts should all appear
            assert r["n_salts"] > 1, f"key {r['o_orderstatus']} got a single salt"

    with pytest.raises(ValueError, match="degenerate"):
        salted_count(o.select("o_orderstatus"), "o_orderstatus", salts=4)
    with pytest.raises(ValueError, match="degenerate"):
        salted_count(o, "o_orderstatus", salts=4, salt_cols=["o_orderstatus"])


def test_read_csv_failfast(spark, tmp_path):
    p = tmp_path / "csv"
    p.mkdir()
    (p / "good.csv").write_text("a,b\n1,x\n2,y\n")
    df = read_csv(spark, str(p), schema="a int, b string")
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]

    (p / "bad.csv").write_text("a,b\nnotanint,z\n")
    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        read_csv(spark, str(p), schema="a int, b string").collect()


def test_rate_stream_is_streaming(spark):
    df = rate_stream(spark, rows_per_second=1)
    assert df.isStreaming
    assert set(df.columns) == {"timestamp", "value"}
