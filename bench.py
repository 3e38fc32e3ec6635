"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric", "value", "unit", "queries", "sf"}.

Each query is materialized via a count-style action (collect on aggregates,
count on wide outputs) so the full plan executes; timings are per-query
wall-clock seconds, value = total.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family (scan-agg, windowed agg, multi-join,
# top-k, window functions, parse, TS data plane, dedup/similarity/text).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "window_1min_event_rate",
    "peak_rate_per_user",
    "latest_version_per_key",
    "cc_continuity_check",
    "topk_orders_by_value",
    "json_settings_extract",
    # TS data plane
    "ts_demux_pid_stats",
    "ts_programs_summary",
    "ts_section_reassembly",
    # LLM-pipeline ops
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash_banded",
    "dedup_keep_list",
    "dedup_embedding_keep_list",
    "doc_containment_pairs",
    "dedup_embedding_lsh",
    "decontaminate_ngram_overlap",
    "text_quality_score",
    "quality_filter_verdict",
    "text_pii_redact",
    "text_rarity_score",
    "bpe_first_merge_pairs",
    "bpe_merge_sequence",
    "bpe_encode_tokens",
    "repeated_ngram_spans",
    "repeated_phrase_topk",
    "sliding_window_chunks",
    "stream_dedup_minhash",
    "stream_repeated_ngram_spans",
    "stream_decontaminate",
    "approx_distinct_hll",
    "stream_approx_distinct_hll",
    "stream_bm25_topk",
    "bm25_topk",
    "dsir_importance_score",
    "embedding_covariance",
    "embedding_top_pc",
    "embedding_remove_top_pc",
    "ann_bruteforce_topk",
    "ann_pq_topk",
    # round-6 additions
    "repeated_ngram_cut_corpus",
    "ann_ivfpq_topk",
    "ann_pq_rerank_topk",
    "stream_lm_perplexity",
    "mm_image_features",
    "semdedup_keep_list",
    "decontaminate_bloom",
    "cms_heavy_hitters",
    "gopher_quality_rules",
    "line_dedup_corpus",
    "lm_perplexity_bucket",
    "nb_lang_classifier",
    "pmi_topk_bigrams",
    "stream_line_dedup",
    # round-3 training path
    "ivf_kmeans_centroids",
    # advanced joins / sessions / training-data prep
    "range_join_error_windows",
    "sessionize_events",
    "hypertable_rollup_1h",
    "packed_context_bins",
    "corpus_prep_pipeline",
    "corpus_shuffle_order",
    # ES processor path (PES restamp + DVB page patch, pure JVM expressions)
    "es_subtitle_restamp",
    "dvb_subt_display_set",
    # round-7 additions
    "dedup_image_phash",
    "dedup_image_keep_list",
    "ulm_train_vocab",
    "ulm_encode_tokens",
    "stream_image_phash",
    "dedup_audio_fingerprint",
    "dedup_video_framehash",
    "weighted_reservoir_sample",
    "zipf_alpha_fit",
    "stream_ann_topk",
    "stream_weighted_reservoir",
    "host_pagerank",
    "quality_classifier_train",
    "quality_classifier_score",
    "stream_quality_score",
    "lang_temperature_weights",
    "text_entropy_score",
    "lm_kneser_ney_score",
    "ann_sq8_topk",
    "stream_kneser_ney",
    "dedup_cascade_verdict",
    "stream_text_entropy",
    "source_format_roundtrip",
    "tokenized_context_packing",
    "html_extract_main_text",
    "stream_dedup_keep_list",
    "dedup_multimodal_verdict",
    "stream_html_extract",
    "bpe_vocab_table",
    "ann_filtered_topk",
    "quality_signals_table",
    "vocab_oov_curve",
    "source_overlap_matrix",
    "cluster_balanced_sample",
    "packing_efficiency_stats",
    "stream_tokenized_packing",
    "token_budget_plan",
    "doc_token_length_histogram",
    "cascade_stage_attrition",
    "lang_id_confusion_matrix",
    "stream_quality_signals",
    "ngram_novelty_curve",
    "dedup_cluster_size_histogram",
    "embedding_outlier_topk",
    "snapshot_delta_report",
    "train_eval_split_leakage",
    # round 10
    "snapshot_incremental_dedup",
    "packed_lineage_bins",
    "stream_packed_lineage",
    "stream_snapshot_delta",
    "ann_ivf_append",
    "snapshot_quality_drift",
    # round 11/12: store maintenance directions + the composed round
    "snapshot_removal_dedup",
    "ann_ivf_remove",
    "drift_remediation_plan",
    "ivf_retrain_plan",
    "snapshot_upsert_dedup",
    "ann_ivf_upsert",
    "recrawl_round_report",
    # dedup_minhash_precision stays OUT of the headline with the other
    # measurement gates (its ground-truth-ish candidate count rides the
    # production path, but the 1-row report isn't a throughput number)
    # dedup_minhash_recall stays OUT of the headline on the same policy
    # as the ANN recall gates: measurement ops run a quadratic ground
    # truth by design and would dominate the wall-clock number without
    # saying anything about the production paths (driver still gates it
    # at sf0.01 via the registry).
]


def main() -> None:
    import shutil

    from streamprocessors_spark import plans
    from streamprocessors_spark.session import get_spark
    from streamprocessors_spark.storage import store_root

    # Cross-run honesty (optimization-round rule: every bench invocation
    # computes from the parquet inputs): drop any durable per-corpus
    # stores a PREVIOUS process left behind, so the cold pass always pays
    # the store derivations and no timing rides a prior run's artifacts.
    # (In-session reuse across the warm passes is the documented
    # one-derivation-many-consumers shape and stays.)
    shutil.rmtree(store_root(), ignore_errors=True)

    plans.load_all()
    # No console progress bars: the driver parses this process's output
    # tail, and \r-repainted [Stage ...] bars flooded it past the JSON
    # line in round 4 (BENCH_r04.json parsed: null).
    spark = get_spark(
        app_name="bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or 0.1)

    # Cold pass: first execution of every query in a fresh session — pays
    # JVM JIT / codegen / Python-worker startup and any cache() population.
    # Reported separately (queries_cold/value_cold) so the headline warm
    # number is honest about what it excludes.
    spark.range(1_000_000).selectExpr("sum(id * 2) as s").collect()

    # Machine-state calibration: a fixed CPU-bound workload (integer agg
    # over 200M rows, no I/O, no shuffle growth with SF) measured before
    # and after the query passes. The r6 A/B (BENCH_SELF.json) showed
    # host contention moves recorded totals by ~25% between rounds with
    # identical code; calib_sec lets any cross-round comparison divide
    # that state out.
    def _calib() -> float:
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr(
            "sum(id % 1000) as s", "count(1) as n"
        ).collect()
        return round(time.perf_counter() - t0, 3)

    def _calib_1t() -> float:
        # single-task variant (numPartitions=1): isolates single-core
        # host speed from multi-core contention — VERDICT r12 #9: the
        # r12 32-core co-load noise was invisible to a probe that only
        # measures aggregate throughput. Reading BOTH lets a cross-round
        # comparison separate "slower cores" from "contended cores".
        t0 = time.perf_counter()
        spark.range(
            0, 25_000_000, numPartitions=1
        ).selectExpr("sum(id % 1000) as s", "count(1) as n").collect()
        return round(time.perf_counter() - t0, 3)

    _calib()  # warm
    calib_start = min(_calib(), _calib())
    _calib_1t()  # warm
    calib_1t_start = min(_calib_1t(), _calib_1t())

    cold: dict[str, float] = {}
    for name in HEADLINE:
        q = plans.REGISTRY.get(name)
        if q is not None:
            t0 = time.perf_counter()
            q.fn(spark, SF_DIR).count()
            cold[name] = round(time.perf_counter() - t0, 3)

    # Three measured passes, keep the per-query MIN: periodic host-side CPU
    # spikes (observed ~20 s, hitting random queries per pass) otherwise
    # dominate the total; min-of-3 reports steady-state engine throughput
    # (run-to-run total variance drops from ~±2 s to well under 1 s).
    timings: dict[str, float] = {}
    for _pass in range(3):
        for name in HEADLINE:
            q = plans.REGISTRY.get(name)
            if q is None:
                continue
            t0 = time.perf_counter()
            df = q.fn(spark, SF_DIR)
            n = df.count()
            elapsed = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings.get(name, elapsed), elapsed)
            del n

    total = round(sum(timings.values()), 3)
    # The headline set GROWS each round as new operator families land, so
    # the all-query total is not comparable across rounds; value_r1_set is
    # the stable round-1 21-query subtotal (the forward-baseline cohort).
    r1_set = [
        "q1_pricing_summary", "q3_shipping_priority",
        "q5_local_supplier_volume", "window_1min_event_rate",
        "peak_rate_per_user", "latest_version_per_key",
        "cc_continuity_check", "topk_orders_by_value",
        "json_settings_extract", "ts_demux_pid_stats", "ts_programs_summary",
        "ts_section_reassembly", "dedup_exact", "dedup_minhash_lsh",
        "text_quality_score", "ann_bruteforce_topk",
        "range_join_error_windows", "sessionize_events",
        "hypertable_rollup_1h", "packed_context_bins",
        "corpus_prep_pipeline",
    ]
    headline = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        # ONLY the stable 21-query round-1 cohort goes on the printed
        # line: the driver captures a bounded stdout TAIL (~2 KB), and
        # the full 110+-query map blew past it every round since r6
        # (BENCH_r0{6,8,9}.json all record "parsed": null because the
        # line's HEAD — metric/value — was truncated away). The full
        # per-query map (warm + cold) lives in BENCH_LOCAL.json.
        "queries": {n: timings[n] for n in r1_set if n in timings},
        "n_queries": len(timings),
        "value_cold": round(sum(cold.values()), 3),
        "value_r1_set": round(
            sum(timings[n] for n in r1_set if n in timings), 3
        ),
        "calib_sec": min(calib_start, min(_calib(), _calib())),
        "calib_1t_sec": min(calib_1t_start, min(_calib_1t(), _calib_1t())),
        "sf": sf,
    }
    # Full record (all warm timings + per-query cold timings) goes to a
    # file the driver's output-tail capture can't truncate; the printed
    # line stays compact (r1-cohort only, no spaces) and is emitted LAST
    # — after spark.stop(), so no executor/AQE log lines can follow it.
    # (BENCH_LOCAL.json — BENCH_SELF.json is the kept record of the r4-vs-r5
    # A/B, which a bench run must not clobber.)
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"),
        "w",
    ) as f:
        json.dump(
            {**headline, "queries": timings, "queries_cold": cold}, f, indent=1
        )
    spark.stop()
    sys.stdout.flush()
    line = json.dumps(headline, separators=(",", ":"))
    if len(line) >= 1900:
        # Degrade, don't die (ADVICE r10): an oversized line risks tail
        # truncation, but asserting BEFORE print would emit nothing at
        # all — a worse failure. Drop the per-query map (the full map is
        # in BENCH_LOCAL.json anyway) and print the still-parseable core.
        headline["queries"] = {}
        headline["queries_dropped"] = "line overflow; see BENCH_LOCAL.json"
        line = json.dumps(headline, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
