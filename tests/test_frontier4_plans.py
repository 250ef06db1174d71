"""Round-12 pins: q301's partition-pruned postings reads, q288's
equi-join fallback (the 100 TB store shape), and the q302 gate
arithmetic."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from ai_data_pipeline_spark.plans import frontier3_queries as f3
from ai_data_pipeline_spark.plans import frontier4_queries as f4
from tests.conftest import SF_SMOKE


def _plan_str(df) -> str:
    s = df._jdf.queryExecution().executedPlan().toString()
    # AQE prints the plan twice with different expr ids — normalize
    # so substring assertions don't depend on them.
    return re.sub(r"#\d+|plan_id=\d+", "", s)


def test_q301_store_read_is_partition_pruned(spark, tmp_path):
    """The serving side must push the token-bucket predicate into
    PartitionFilters — the whole point of the bucketed layout is
    that a query never lists, let alone reads, buckets it doesn't
    need."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    path = str(tmp_path / "postings")
    f4.q301_build_postings_store(docs, path)
    store = spark.read.parquet(path)
    pruned = store.filter(
        F.col("tb").isin([int(b) for b in f4._Q301_SCAN_BUCKETS])
        & F.col("token").isin(list(f4._Q301_TOKENS))
    ).select("doc_id", "pos", "token")
    plan = _plan_str(pruned)
    scan = plan[plan.find("PartitionFilters"):]
    assert "PartitionFilters: [" in plan
    # the tb predicate must appear INSIDE PartitionFilters (not just
    # as a post-scan Filter) and must enumerate the scanned buckets.
    pf = scan[: scan.find("]")]
    assert "tb" in pf and ("IN (" in pf or "in(" in pf.lower())
    # and the exact-token predicate is pushed to the data filters.
    assert "PushedFilters" in plan


def test_q301_bucket_twin_matches_spark_md5():
    """The Python md5-40 bucket (plan-time literals) must equal the
    Spark expression that partitioned the store — otherwise pruning
    would silently read the wrong buckets."""
    from ai_data_pipeline_spark.session import get_spark

    spark = get_spark("tests")
    toks = list(f4._Q301_TOKENS)
    df = spark.createDataFrame([(t,) for t in toks], "token string").select(
        "token",
        F.pmod(
            F.conv(F.substring(F.md5(F.col("token")), 1, 10), 16, 10).cast("long"),
            F.lit(f4._Q301_BUCKETS),
        ).alias("tb"),
    )
    got = {r["token"]: r["tb"] for r in df.collect()}
    assert got == {t: f4._tok_bucket_py(t) for t in toks}


def test_q288_equi_join_fallback_matches_broadcast_path(spark):
    """The documented stream-static equi-join fallback (store too
    large to broadcast) must be value-identical to the shipped
    broadcast-set path — pinned with broadcasts DISABLED so the
    static side actually exercises the shuffle shape."""
    a = sorted(
        map(tuple, f3.q288_streaming_store_gate(spark, SF_SMOKE).collect())
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        b = sorted(map(tuple, f3._q288_gate(spark, SF_SMOKE, equi_join=True).collect()))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert a == b


def test_q302_rr_ladder_is_exact():
    """2520 = lcm(1..10); every hardcoded contribution is exactly
    2520/r (integer), so the scaled-MRR sum is an exact BIGINT."""
    assert f4._Q302_RR_SCALED == {r: 2520 // r for r in range(1, 11)}
    for r, c in f4._Q302_RR_SCALED.items():
        assert c * r == 2520


def test_q307_shard_ladder_equals_ntile(spark):
    """The integer comparison ladder must reproduce ANSI NTILE(8)
    exactly, including the n-not-divisible-by-8 case (first n%8
    tiles get the extra row) and n < 8."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    for n in (5, 8, 17, 83, 218):
        df = spark.range(n).select((F.col("id") * 3 + 1).alias("doc_id"))
        want = {
            r["doc_id"]: r["s"]
            for r in df.select(
                "doc_id", F.ntile(8).over(Window.orderBy("doc_id")).alias("s")
            ).collect()
        }
        ranked = df.withColumn(
            "rank", F.row_number().over(Window.orderBy("doc_id")).cast("long")
        )
        qn = F.lit(n >> 3).cast("long")
        rn = F.lit(n % 8).cast("long")
        shard = F.lit(1).cast("int")
        for s in range(1, 8):
            shard = shard + (
                F.col("rank") > F.lit(s) * qn + F.least(F.lit(s).cast("long"), rn)
            ).cast("int")
        got = {
            r["doc_id"]: r["s"]
            for r in ranked.select("doc_id", shard.alias("s")).collect()
        }
        assert got == want, f"n={n}"


def test_q308_untouched_cells_keep_their_physical_files(spark, tmp_path):
    """Selective OPTIMIZE must not rewrite cold partitions: the
    exact file paths of non-flagged cells are identical before and
    after the flagged-cells-only overwrite."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "store")
    base = spark.range(80).select(
        F.col("id").alias("vec_id"), F.pmod("id", F.lit(4)).cast("int").alias("cell")
    )
    base.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(path)
    # fragment cells 0 and 1 only
    delta = base.filter(F.col("cell") <= 1)
    delta.repartition("cell").write.mode("append").partitionBy("cell").parquet(path)

    def files_by_cell():
        rows = (
            spark.read.parquet(path)
            .select("cell", F.input_file_name().alias("f"))
            .distinct()
            .collect()
        )
        out: dict = {}
        for r in rows:
            out.setdefault(int(r["cell"]), set()).add(r["f"])
        return out

    before = files_by_cell()
    assert {c: len(fs) for c, fs in sorted(before.items())} == {0: 2, 1: 2, 2: 1, 3: 1}

    store = spark.read.parquet(path)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        hot = (
            store.filter(F.col("cell").cast("int").isin([0, 1]))
            .select("vec_id", "cell")
            .localCheckpoint()
        )
        hot.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(
            path
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    after = files_by_cell()
    assert {c: len(fs) for c, fs in sorted(after.items())} == {0: 1, 1: 1, 2: 1, 3: 1}
    # cold partitions: byte-identical file sets, not just counts.
    assert after[2] == before[2]
    assert after[3] == before[3]
    # content invariance: base (80 ids) + the appended delta copy
    # of cells 0/1 (40 ids) — sum and count both preserved.
    expect_sum = sum(range(80)) + sum(v for v in range(80) if v % 4 <= 1)
    got = spark.read.parquet(path).agg(
        F.sum("vec_id").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    assert (int(got["s"]), int(got["n"])) == (expect_sum, 120)


def test_q311_terminal_full_scan_branch(spark, tmp_path):
    """chosen_nprobe rungs 1/2/4 all fire on the graded corpora
    (verified against the oracle); the terminal 8 = full-filtered-
    scan branch never does — pin it: a label with fewer than K
    candidates in ANY 4 probed cells must escalate to 8 and still
    serve its global filtered top-1."""
    import random

    from pyspark.sql import functions as F

    from ai_data_pipeline_spark.plans import frontier4_queries as f4
    from ai_data_pipeline_spark.plans.constants import EMBED_DIM

    rng = random.Random(311)
    rows = []
    # 3 vectors of label 3 (< K=5 total, so no rung can fill) and
    # plenty of label 7.
    for vid in range(40):
        label = 3 if vid < 3 else 7
        vec = [rng.uniform(-0.5, 0.5) for _ in range(EMBED_DIM)]
        rows.append((vid, vec, label))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = {
        (r["qid"], r["flt_label"]): r
        for r in f4.q311_nprobe_escalation(spark, str(tmp_path)).collect()
    }
    label3 = [v for (q, l), v in out.items() if l == 3]
    assert label3, "label-3 rows must appear"
    for r in label3:
        assert r["chosen_nprobe"] == 8
        assert r["n_cand_np4"] < f4._Q311_K
        # the terminal pool is ALL label-3 vectors → top1 is the
        # global filtered best (one of vec_id 0..2).
        assert r["top1_vec_id"] in (0, 1, 2)


def test_q314_emptied_partitions_dropped(spark, tmp_path):
    """A partition whose rows are ALL in the delete set must not
    survive erasure: dynamic overwrite cannot touch a partition
    absent from the written frame, so q314 must drop those
    directories explicitly (q293's rule) — in ALL THREE artifacts.
    Fixture: cell 0 holds only deleted vectors, probe token
    'window' appears only in deleted docs, and shard 3 holds only a
    deleted doc. Before the fix every n_rows below read high."""
    import numpy as np

    from ai_data_pipeline_spark.plans.constants import Q28_CENTROIDS

    # u40(id) % 53 == 0 for 18, 26, 230; not for 0..3.
    c0 = np.array(Q28_CENTROIDS[0], dtype=np.float64)
    c1 = np.array(Q28_CENTROIDS[1], dtype=np.float64)
    vrows = []
    for vid in (18, 26):  # deleted, alone in cell 0
        vrows.append((vid, [float(x) for x in (c0 + 0.001 * vid)]))
    for vid in (0, 1, 2, 3):  # survivors near centroid 1
        vrows.append((vid, [float(x) for x in (c1 + 0.001 * (vid + 1))]))
    spark.createDataFrame(vrows, "vec_id long, embedding array<float>").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "embeddings.parquet"))

    drows = [
        (0, "spark merge", "en", "src0", 11),
        (1, "spark merge", "en", "src1", 11),
        (2, "spark merge", "en", "src2", 11),
        (18, "window window", "en", "src3", 13),  # deleted
        (26, "window", "en", "src4", 6),  # deleted
        (230, "window", "en", "src5", 6),  # deleted, alone in shard 3
    ]
    spark.createDataFrame(
        drows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = {
        r["artifact"]: r
        for r in f4.q314_cross_store_erasure(spark, str(tmp_path)).collect()
    }
    v = out["vector_store"]
    assert (v["n_rows"], v["n_partitions"], v["n_rewritten"]) == (4, 2, 1)
    p = out["postings"]
    # survivors: docs 0,1,2 x tokens (spark, merge) = 6 postings;
    # the 'window' partition (deleted-only) must be gone entirely.
    assert (p["n_rows"], p["n_partitions"], p["n_rewritten"]) == (6, 3, 1)
    e = out["release_export"]
    # shards 0 (mixed) and 3 (deleted-only): 3 survivors remain.
    assert (e["n_rows"], e["n_partitions"], e["n_rewritten"]) == (3, 2, 2)


def test_q310_empty_delta_touches_no_shard(spark, monkeypatch):
    """An empty delta touches no shard: the refresh must skip the
    shard read (a zero-path parquet read throws) and return manifest
    v1 unchanged. A negative range width flags no document as delta
    (``doc_id > max + 64`` never holds)."""
    monkeypatch.setattr(f4, "_Q310_WIDTH", -64)
    rows = f4.q310_incremental_manifest(spark, SF_SMOKE).collect()
    n_release = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .filter(F.col("lang") == f4._Q310_LANG)
        .count()
    )
    assert rows and n_release
    assert sum(r["n_rows"] for r in rows) == n_release
    assert {r["updated"] for r in rows} == {0}
