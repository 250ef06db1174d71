"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline set spans the engine's surface: scan/filter, broadcast
+ shuffle joins, agg suite, windows, range join, JSON/date fns, and
the LLM-pipeline family (dedup hash, jaccard, cosine near-dup, kNN,
text profiling, sessionization, tumbling windows, chunking).
Each query is executed to completion with a count-style action
(collect on already-small results) so the measured time includes the
full plan, not just planning.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from ai_data_pipeline_spark.session import get_spark

HEADLINE = [
    "q01_scan_filter_project",
    "q03_revenue_by_nation",
    "q04_left_join_counts",
    "q07_range_join",
    "q08_agg_suite",
    "q09_rollup",
    "q11_topk_per_group",
    "q12_analytic_window",
    "q13_moving_average",
    "q14_global_topk",
    "q17_date_trunc",
    "q18_json_extract",
    "q19_l2_topk",
    "q20_exact_dedup",
    "q21_chunker",
    "q22_knn_threshold",
    "q23_ngram_jaccard",
    "q26_cosine_neardup",
    "q27_cosine_topk",
    "q28_ivf_ann",
    "q29_lang_profile",
    "q31_token_counts",
    "q32_fingerprint",
    "q33_asof_join",
    "q34_sessionize",
    "q35_tumbling_window",
    "q36_multimodal_meta",
    "q37_lang_id",
    "q38_rp_lsh_ann",
    "q39_grouping_sets",
    "q40_audio_meta",
    "q49_embed_knn",
    "q54_top_tokens",
    "q56_contamination",
    "q59_funnel",
    "q60_cohort_retention",
    "q62_chunk_embed_sim",
    "q63_sliding_window",
    "q65_above_avg_customers",
    "q67_session_conversion",
    "q71_lang_id_ngram",
    "q77_arg_extremes",
    "q80_repetition_quality",
    "q81_percentile_cont",
    "q82_blocked_neardup",
    "q84_dedup_clusters",
    "q86_asof_forward",
    "q87_concat_packing",
    "q88_length_band_trim",
    "q89_shingle_containment",
    "q90_vocab_coverage",
    "q91_curation_funnel",
    "q92_token_zipf",
    "q93_part_cooccurrence",
    "q94_variance_suite",
    "q96_prefix_jaccard",
    "q98_pii_mask",
    "q102_tfidf_topk",
    "q103_bigram_fluency",
    "q105_minhash_estimate",
    "q106_kmeans_update",
    "q107_canonical_keeper",
    "q108_incremental_dedup",
    "q109_segment_dedup",
    "q110_label_dispersion",
    "q112_gap_fill",
    "q113_moving_median",
    "q114_pmi_bigrams",
    "q115_scd2_intervals",
    "q116_forward_fill",
    "q118_max_concurrency",
    "q119_corr_moments",
    "q120_zscore_outliers",
    "q121_ngram_novelty",
    "q122_winnowing",
    "q123_markov_transitions",
    "q124_bloom_audit",
    "q125_weighted_sample",
    "q126_source_tvd",
    "q127_session_paths",
    "q128_wow_change",
    "q129_price_histogram",
    "q130_integrity_audit",
    "q132_rolling_active",
    "q133_time_to_convert",
    "q134_pareto_abc",
    "q135_weighted_median",
    "q136_weekly_churn",
    "q137_interarrival",
    "q138_hot_keys",
    "q139_cross_source_dups",
    "q140_embed_norm_audit",
    "q141_lerp_resample",
    "q142_vocab_overlap",
    "q143_seasonality",
    "q144_theta_overlap",
    "q145_kll_profile",
    "q146_dup_span_removal",
    "q147_scd2_apply",
    "q148_subsequence_topk",
    "q149_hll_profile",
    "q150_zorder_cluster_audit",
    # round-7 additions
    "q152_e2e_pdf_qa",
    "q153_stateful_running_stats",
    "q154_pyds_scan",
    "q155_udtf_lateral_chunks",
    "q157_lateral_topk",
    "q161_matryoshka_overlap",
    "q162_tokenizer_fertility",
    "q163_partition_pruned_scan",
    "q164_bucketed_join",
    "q166_arrow_udf",
    "q167_stream_restart_exactly_once",
    "q169_csv_roundtrip",
    "q171_asof_tolerance",
    "q172_pit_lookup",
    "q173_percentile_approx_exact",
    "q175_setops_all",
    "q177_date_parts",
    "q179_xml_roundtrip",
    "q180_native_hll",
    "q182_stateful_restart",
    "q183_polymorphic_udtf",
    "q185_minmax_downsample",
    "q186_bitmap_distinct",
    "q187_pagerank3",
    "q188_triangle_count",
    "q189_ewma_recurrence",
    "q190_template_dedup",
    "q191_luhn_checksum",
    "q192_sql_scripting",
    "q193_param_sql",
    "q194_approx_topk_exact",
    "q195_printf_format",
    "q196_interval_overlap",
    "q197_try_arithmetic",
    "q198_skyline",
    "q199_equidepth_ntile",
    "q200_largest_remainder",
    "q201_sequence_gaps",
    # round-8 additions
    "q202_gopher_quality",
    "q203_semantic_dedup",
    "q204_minhash_keeper",
    "q205_pack_interleave",
    "q206_c4_quality",
    "q207_temperature_mix",
    "q208_linear_trend",
    "q209_ann_recall",
    "q210_tf_cosine",
    "q211_ivf_cell_profile",
    "q212_dataset_card",
    "q213_seasonal_strength",
    "q214_market_share",
    "q215_dynamic_overwrite",
    "q216_release_funnel",
    "q217_targeted_delete",
    "q218_bpe_merge_candidates",
    "q219_lsh_recall_audit",
    "q220_streaming_quality_gate",
    "q221_salted_hot_agg",
    # round-9 additions
    "q222_long_span_dedup",
    "q223_semdedup_scaled",
    "q224_lloyd_refine",
    "q225_ccnet_lang_buckets",
    "q226_vocab_growth",
    "q227_quality_keeper",
    "q228_mixture_sample",
    "q229_embedding_drift",
    "q230_winnowing_span_audit",
    "q231_multi_epoch_mixture",
    "q232_oov_coverage",
    "q233_nprobe_recall_curve",
    "q234_streaming_mixture_gate",
    "q235_pq_audit",
    "q236_adc_recall_audit",
    # round-10 additions
    "q237_pq_train_lift",
    "q238_decontaminate_13gram",
    "q239_boundary_pack",
    "q240_hard_negatives",
    "q241_cdc_chunk_dedup",
    "q242_dsir_importance",
    "q243_longest_dup_span",
    "q244_vocab_truncation_curve",
    "q245_embedding_decontamination",
    "q246_padding_waste",
    "q247_ivf_tree_assign",
    "q248_streaming_decontamination_gate",
    "q249_opq_allocation",
    "q250_ivf_partitioned_store",
    "q251_lsh_band_sweep",
    "q252_quantization_retrieval_sweep",
    "q253_trimmed_robust_stats",
    "q254_anti_clustered_sharding",
    "q255_pq_layout_training_ablation",
    "q256_source_snapshot_drift",
    "q257_tree_partitioned_store",
    "q258_water_filling_budget",
    "q259_ivfadc_residual",
    "q260_mad_outliers",
    "q261_prefix_cache_savings",
    "q262_lexical_richness",
    "q263_dedup_cascade",
    "q264_sample_diversity",
    "q265_epochs_to_exhaustion",
    "q266_snapshot_novelty",
    "q267_snapshot_length_drift",
    "q268_dup_quality_interaction",
    "q269_dup_position_profile",
    "q270_retrieval_margin",
    "q271_neardup_flow_matrix",
    "q272_consistent_hash_ring",
    "q273_frequent_line_removal",
    "q274_transitivity_audit",
    "q275_quality_budget_curve",
    "q276_tau_sensitivity",
    "q277_quality_calibration",
    "q278_bpe_merge_apply",
    "q279_streaming_ring_router",
    "q280_snapshot_recycling",
    "q281_cascade_order_ablation",
    "q282_incremental_neardup_store",
    "q283_bpe_two_rounds",
    "q284_phash_image_dedup",
    "q285_retrieval_rank_eval",
    "q286_script_mixture",
    "q287_snapshot_dedup_trend",
    "q288_streaming_store_gate",
    "q289_store_lifecycle_merge",
    "q290_inverted_index_search",
    "q291_video_frame_dedup",
    "q292_decontaminated_split",
    "q293_vector_store_delete",
    "q294_incremental_postings_merge",
    "q295_cross_modality_agreement",
    "q296_ranked_retrieval",
    "q297_streaming_tombstone_deletes",
    "q298_multimodal_funnel",
    "q299_vector_store_admission",
    "q300_vector_store_compaction",
    "q301_full_postings_index",
    "q302_retrieval_release_gate",
    "q303_dedup_precision_audit",
    "q304_filtered_vector_search",
    "q305_rrf_hybrid_retrieval",
    "q306_postings_store_compaction",
    "q307_release_export_manifest",
    "q308_selective_compaction",
    "q309_boolean_retrieval",
    "q310_incremental_manifest",
    "q311_nprobe_escalation",
    "q312_snapshot_time_travel",
    "q313_epoch_shuffle",
    "q314_cross_store_erasure",
    "q315_streaming_export_manifest",
    "q316_snapshot_gc",
    # round-13 additions (inherited mid-build rows, added to the bench
    # during the r13 optimization round — ADD-only per the driver
    # contract; existing entries untouched)
    "q317_store_upsert_merge",
    "q318_incremental_cluster_labels",
    "q319_snapshot_schema_evolution",
    "q320_bpe_encode_fixed_vocab",
    "q321_snapshot_change_feed",
    "q322_ivf_reindex_migration",
    "q323_streaming_cdc_upserts",
    "q324_deletion_vectors",
    "q325_zonemap_skipping",
]


def _rest_json(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read().decode())


# UI job retention; a harvest that sees this many new jobs may have lost
# some to eviction, so TaskTimeProbe reports None rather than undercount
RETAINED_JOBS = 400


class TaskTimeProbe:
    """Per-query executor task-time via the local status REST API.

    The driver's 8-vs-32-core scaling probe reads wall seconds, and at
    sf0.1 most heavy rows sit on a fixed-overhead floor (micro-batch
    replay, committer rounds, job round-trips) so every wall ratio is
    ~1 regardless of cores (r13 verdict item 1).  Executor task-time
    (sum of executorRunTime over the completed stages of the query's
    jobs) is the number that actually scales with cores, so emitting it
    alongside wall seconds makes core-scaling legible without a bigger
    SF.  Read-only instrumentation: two HTTP GETs against the in-
    process UI after the reps of each query — nothing on the timed
    path.  Degrades to None if the UI is unavailable.
    """

    def __init__(self, spark) -> None:
        self.base: str | None = None
        self._watermark = -1
        self._counted: set[int] = set()  # harvested job ids above the watermark
        try:
            ui = spark.sparkContext.uiWebUrl
            app = spark.sparkContext.applicationId
            if ui:
                base = f"{ui}/api/v1/applications/{app}"
                _rest_json(base + "/jobs?status=succeeded")  # availability probe
                self.base = base
        except Exception:
            self.base = None

    def harvest(self) -> float | None:
        """Task-seconds of the finished jobs not harvested before.

        The watermark stops below the oldest job still running, so its
        stages are counted once it finishes; finished jobs above the
        watermark are remembered so they are not counted twice.  A
        retried stage counts its latest attempt only.  None when
        ``RETAINED_JOBS`` or more jobs are new: older ones may have been
        evicted from the UI before they were counted.
        """
        if not self.base:
            return None
        try:
            jobs = _rest_json(self.base + "/jobs")
            new = [
                j
                for j in jobs
                if j.get("jobId", -1) > self._watermark
                and j.get("jobId") not in self._counted
            ]
            running = [j["jobId"] for j in new if j.get("status") == "RUNNING"]
            done = [j for j in new if j.get("status") != "RUNNING"]
            if running:
                self._watermark = min(running) - 1
            else:
                self._watermark = max(
                    (j.get("jobId", -1) for j in jobs), default=self._watermark
                )
            self._counted = {
                i for i in self._counted | {j["jobId"] for j in done}
                if i > self._watermark
            }
            if len(new) >= RETAINED_JOBS:
                return None
            sids: set[int] = set()
            for j in done:
                sids.update(j.get("stageIds", []))
            stages = _rest_json(self.base + "/stages?status=complete")
            latest: dict[int, dict] = {}
            for s in sorted(stages, key=lambda s: s.get("attemptId", 0)):
                if s.get("stageId") in sids:
                    latest[s["stageId"]] = s
            ms = sum(s.get("executorRunTime", 0) for s in latest.values())
            return ms / 1000.0
        except Exception:
            return None


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # UI retention bounds the task-time probe's REST response sizes;
    # pure instrumentation (no effect on execution or timing).
    spark = get_spark(
        "bench",
        extra_conf={
            "spark.ui.retainedJobs": str(RETAINED_JOBS),
            "spark.ui.retainedStages": "1200",
        },
    )
    # the driver contract's merge is the single source of truth — a
    # plan module missing HERE once cost a mid-bench KeyError that
    # the name-resolution guard (which checks against queries())
    # could not see.
    queries = entrymod.queries()

    # warm the JVM/session (plan + run one tiny query, not timed)
    queries["q02_broadcast_join"](spark, sf_dir).collect()

    # machine canary: a fixed pure-JVM compute with no I/O and no
    # shuffle, timed best-of-3. Cross-round bench drift that moves
    # the canary by the same factor is host throughput (shared-box
    # CPU allocation/frequency), not a plan regression — the r04→r05
    # investigation found untouched queries drifting ~1.3x uniformly
    # while per-query ranking stayed fixed. Compare canary_sec before
    # chasing per-query numbers.
    canary = None
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr(
            "sum(id * 2654435761 % 1000003) AS s"
        ).collect()
        dt = time.perf_counter() - t0
        canary = dt if canary is None else min(canary, dt)

    # streaming canary: a fixed 3-micro-batch no-op file replay
    # (maxFilesPerTrigger=1, noop sink, fresh checkpoint per rep),
    # timed best-of-3. The micro-batch engine's scheduling/commit
    # overhead drifts independently of JVM compute throughput — r08
    # saw q153/q182 move ±45% with plans untouched and the compute
    # canary FASTER. Adjudicate stateful-row drift against THIS
    # number first: if stream_canary_sec moved by a similar factor,
    # it's engine variance, not a plan regression.
    stream_dir = tempfile.mkdtemp(prefix="bench_stream_canary_")
    try:
        for i in range(3):
            with open(os.path.join(stream_dir, f"b{i}.json"), "w") as f:
                for j in range(100):
                    f.write(json.dumps({"k": j, "v": i * 100 + j}) + "\n")
        stream_canary = None
        for _ in range(3):
            ckpt = tempfile.mkdtemp(prefix="bench_stream_ckpt_")
            t0 = time.perf_counter()
            q = (
                spark.readStream.schema("k bigint, v bigint")
                .option("maxFilesPerTrigger", 1)
                .json(stream_dir)
                .writeStream.format("noop")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            dt = time.perf_counter() - t0
            stream_canary = dt if stream_canary is None else min(stream_canary, dt)
            shutil.rmtree(ckpt, ignore_errors=True)
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)

    # JIT warm-up (r10 verdict "fixed-overhead creep", attributed
    # r11): a cold JVM runs the first ~10 timed queries 3-5x slower
    # REGARDLESS of reps — all three reps of an early query land
    # before HotSpot C2 has compiled the shared scan/agg/window/join
    # codegen infra (q12 best-of-3 measured 1.06 s cold vs 0.26 s
    # after ~4 untimed queries; catalog growth / listener history /
    # SQL-UDF registration were each tested and make the session
    # FASTER, not slower). One untimed pass over a small
    # representative plan set (~5-8 s) puts every timed row on the
    # same warm footing the r01 recordings had.
    for warm_name in (
        "q01_scan_filter_project",
        "q03_revenue_by_nation",
        "q08_agg_suite",
        "q12_analytic_window",
        "q14_global_topk",
        "q15a_intersect",
        "q16_string_functions",
        "q42_window_suite",
        "q44_pivot_counts",
        "q53_rank_fns",
    ):
        # Guard against renames: a stale warmup name must not crash
        # the whole bench run before any timed row.
        if warm_name in queries:
            queries[warm_name](spark, sf_dir).count()

    # best-of-N: the box shows multi-second scheduler/GC noise on
    # individual runs (observed migrating between queries across
    # otherwise-identical runs); the min of N executions measures the
    # plan, not the noise (every rep re-executes the full query —
    # Spark caches nothing here).
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    # Executor task-time probe (read-only, off the timed path): UI
    # retention is capped per-session so the two REST reads per query
    # stay small; retention does not affect execution or timing.
    probe = TaskTimeProbe(spark)
    probe.harvest()  # discard warmup/canary jobs, set the watermark
    timings: dict[str, float] = {}
    task_secs: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries[name]
        best, n = None, 0
        for _ in range(reps):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        # average executor task-seconds per execution across the reps
        t_task = probe.harvest()
        if t_task is not None:
            task_secs[name] = round(t_task / reps, 3)
        print(
            f"# {name}: {timings[name]:.3f}s rows={n}"
            + (f" task={task_secs[name]:.3f}s" if name in task_secs else ""),
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # per-query executor task-seconds (avg per execution):
                # the core-scaling-legible counterpart of wall seconds
                # (task_sec ≈ wall×cores when compute-bound; task_sec
                # ≪ wall when the row sits on the overhead floor).
                "task_seconds": task_secs,
                "canary_sec": round(canary, 3),
                "stream_canary_sec": round(stream_canary, 3),
                "sf": sf_val,
            }
        )
    )
    # The driver records only a ~2 KB stdout TAIL; the full per-query
    # line above exceeds that, so r09's artifact lost most of its own
    # data ("parsed": null, 64/237 numbers in the tail window). The
    # LAST stdout line is therefore a compact self-contained summary —
    # same contract keys, "queries" limited to the slowest 10 — so the
    # graded tail always carries cross-round-comparable headline
    # numbers no matter how many queries exist. Per-query detail for
    # full-log readers: the big JSON line above + the stderr '#' lines.
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "canary_sec": round(canary, 3),
                "stream_canary_sec": round(stream_canary, 3),
                "sf": sf_val,
                "queries": slowest,
                # total executor task-seconds across all queries: the
                # one-number core-scaling signal (halving cores should
                # leave task_total_sec ~flat while walls stretch only
                # on compute-bound rows).
                "task_total_sec": round(sum(task_secs.values()), 3),
                "note": "compact tail summary; full per-query dict on the previous line",
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
