"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.  "sf" is N for a dir named sf<N>
and null otherwise (e.g. a scripts/make_scaled_dir.py output).

    python bench.py                      # the HEADLINE sweep
    python bench.py p05_ngram_jaccard    # just the named queries

The session setup, the timed loop and the persisted-RDD drop are also
the harness of scripts/scaling_run.py and profile_query.py.

Each query is executed three times and the MEDIAN is reported — the
JVM-warmup first run and transient machine load both fall out, so
round-over-round numbers are comparable.  The headline set spans the
operator families: scan-agg, join, window, set-op, self-join, dedup,
similarity, text.

Materialization is a `noop`-sink write, NOT count(): count() lets
Catalyst prune every column a query computes but nothing consumes, so
projection-heavy queries (p02's signature columns, p09's score) were
measured as bare scans in round 1.  The noop sink evaluates the full
result set.  Round-2 methodology change — round-1 numbers for
projection-only queries are undercounts; aggregate/sorted queries are
unaffected.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from spear_spark.context import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPS = 3

HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_self_join_pairs",
    "q06_forecast_revenue",
    "q07_customer_orders_left",
    "q14_window_aggregates",
    "q21_aggregate_library",
    "q22_top_supplier_cte",
    "q24_hourly_rollup",
    "q29_asof_last_click",
    "p01_dedup_exact",
    "p02_minhash_signatures",
    "p05_ngram_jaccard",
    "p06_embedding_nn",
    "p07_cosine_topk",
    "p09_quality_score",
    "p17_range_join",
    "p18_clean_corpus",
    # round-2 additions (the first 18 entries are unchanged so
    # round-over-round per-query comparison stays valid)
    "q52_untapped_segments",
    "q53_gapfill_hourly",
    "p23_sequence_packing",
    "p24_stratified_sample",
    "p25_group_quantiles",
    "p26_ann_ivf",
    "p27_tfidf_topterms",
    "p28_bm25",
    "p29_lsh_verified_dedup",
    "p19_simhash_near_pairs",
    # round-3 additions (earlier entries unchanged for comparability)
    "p31_repetition_stats",
    "p32_heavy_hitters",
    "p33_distinct_sketch",
    "p34_zorder_key",
    "p35_priority_sample",
    "p36_token_typicality",
    "p37_incremental_dedup",
    "p38_decontaminate",
    "p39_embedding_outliers",
    "q59_local_supplier_volume",
    "q62_returned_items",
    "p40_redact_pii",
    "p42_chunk_documents",
    "p43_global_row_numbers",
    "q63_product_profit",
    "q64_important_stock",
    # round-4 additions (earlier entries unchanged for comparability)
    "p45_asof_nearest",
    "p46_interval_overlap",
    "p47_kmeans_step",
    "p48_segment_dedup",
    "p49_token_entropy",
    "p50_length_histogram",
    "p51_cdc_upsert",
    "q68_lateral_topn",
    "q70_qualify",
    "q71_listagg",
    "q72_recursive_cte",
    "q73_array_functions",
    "q74_stats_aggregates",
    "p52_corpus_surprisal",
    "p53_balanced_shards",
    "q75_datetime_functions",
    "p54_cross_source_dups",
    "q76_union_by_name",
    "p55_quantize_embeddings",
    "q77_group_by_all",
    "p56_cluster_balanced_sample",
    "p57_leakage_safe_split",
    "q78_semi_anti_join",
    "p58_normalize_text",
    "p59_pagerank",
    # round-5 additions (earlier entries unchanged for comparability)
    "q79_event_funnel",
    "q80_retention_cohorts",
    "p60_winsorized_stats",
    "p61_zscore_outliers",
    "p62_top_ngrams_per_lang",
    "p63_bpe_pair_counts",
    "p64_srp_signatures",
    "p65_mix_reweight",
    "p66_quality_funnel",
    "p67_centroid_shift",
    "q81_interval_range_frame",
    "p68_budget_waterfill",
    "p69_image_ahash_pairs",
    "p70_bigram_lm",
    "p71_pagerank_weighted",
    # round-6 additions (earlier entries unchanged for comparability)
    "p72_pagerank_convergence",
    "q82_symmetric_range_frame",
    "q83_session_window",
    "p73_histogram_quantiles",
    "p74_containment_pairs",
    "p75_bloom_decontaminate",
    "p76_sparse_cosine_pairs",
    # round-7 additions (earlier entries unchanged for comparability)
    "p77_kmeans_lloyd",
    "p78_cm_merge",
    "p79_hll_merge",
    "p80_group_distinct",
    # round-8 additions (earlier entries unchanged for comparability)
    "p81_group_heavy_hitters",
    "p82_rolling_sketch",
    "p83_health_report",
    "p84_rolling_distinct",
    "p85_repeated_ngrams",
    "p86_hist_merge",
    "p87_contamination_spans",
    "p88_cluster_representatives",
    "p89_hll_overlap",
    "p90_prefix_jaccard",
    "p91_mad_outliers",
    # round-9 additions
    "p92_contamination_intervals",
    "p93_cm_source_overlap",
    "p94_rolling_densified",
    "p95_ngram_novelty",
    "p96_source_cosine",
    "p97_max_dup_span",
    "p98_length_ecdf",
    "p99_volume_anomalies",
    "p100_training_order",
    "p101_mix_schedule",
    "p102_dedup_report",
    "p103_distinct_ngrams",
    "p104_source_jsd",
    "p105_curriculum_order",
    "p106_dup_cluster_profile",
    # round-10 additions (earlier entries unchanged for comparability)
    "p107_cap_per_group",
    "p108_mad_outliers_approx",
    "p109_semdedup",
    "p110_bpe_learn",
    "p111_bpe_segment",
    "p112_gopher_rules",
    # round-11 additions (earlier entries unchanged for comparability):
    # the late-round-10 five + this round's chunk-dedup family and DSIR
    "p113_psi_drift",
    "p114_kcenter_coreset",
    "p115_canary_scan",
    "p116_ks_drift",
    "p117_cdc_chunks",
    "p118_chunk_dedup",
    "p119_chunk_decontaminate",
    "p120_dsir_weights",
    "p121_kcenter_2pass",
    "p122_semdedup_sampled_fit",
    "p123_dsir_sample",
    "p124_embedding_gram",
    "p125_boilerplate_chunks",
    "p126_filter_agreement",
    "p127_source_chunk_overlap",
    "p128_audio_decode",
    "p129_bpe_fertility",
    "p130_source_token_yield",
    "p131_split_leakage",
    "p132_edit_distance_pairs",
    "p133_video_decode",
    "p134_edit_distance_char",
    "p135_leakage_split_cc",
    "p136_bpe_fertility_balanced",
    "p137_dedup_report_chunks",
    "p138_filter_agreement_matrix",
    "p139_packing_preview",
    "p140_bpe_coverage",
    "p141_stratified_split",
    # round-12 second wave
    "p142_score_auc",
    "p143_token_budget_select",
    "p144_centroid_drift",
    "p145_zipf_fit",
    "p146_cross_split_neardup",
    "p147_threshold_sweep",
    "p148_heaps_fit",
    "p149_source_quality_report",
    "p150_frame_cuts",
    "p151_lang_confusion",
    "p152_centroid_dispersion",
    "p153_dedup_method_report",
    "p154_score_calibrate",
    "p155_hard_negatives",
    "p156_knn_label_purity",
    "p157_centroid_distance_matrix",
    "p158_fleiss_kappa",
    "p159_lsh_calibration",
    "p160_journey_ngrams",
    "p161_volume_autocorr",
    "p162_ivf_recall_curve",
    "p163_readability",
    "p164_volume_gini",
]


def start_session(app_name: str) -> SparkSession:
    """The tuned local[$SPARK_GRAFT_CPUS] session every timing uses,
    warmed (JVM + file-system cache) with one trivial action."""
    spark = get_spark(
        app_name=app_name,
        master=f"local[{CPUS}]",
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()
    return spark


def drop_persisted_rdds(spark: SparkSession) -> None:
    """Unpersist every persisted RDD, blocking.

    Checkpoint/cache blocks (the staged intermediates of the iterative
    operators) otherwise accumulate across 179 queries x 3 runs, and the
    late queries pay the eviction/GC pressure of the early ones'
    leftovers — measured ~10% drift on the last bench entries.  Each
    query starts from a clean block store.  Blocking: async removal
    would overlap the next timed run, reintroducing that drift."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().valuesIterator()
    while it.hasNext():
        it.next().unpersist(True)


def median_times(
    spark: SparkSession, names: list[str], sf_dir: str
) -> dict[str, float]:
    """{name: median wall seconds of REPS noop-sink runs} for catalog
    queries on sf_dir, dropping persisted RDDs after every run.  The
    session is left running: the caller owns it."""
    qs = entry_mod.queries()
    timings: dict[str, float] = {}
    for name in names:
        fn = qs[name]
        runs = []
        for _ in range(REPS):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
            drop_persisted_rdds(spark)
        timings[name] = round(statistics.median(runs), 3)
    return timings


def scale_factor(sf_dir: str) -> float | None:
    """N for a dir named sf<N> (sf0.1 -> 0.1), None for any other name."""
    m = re.fullmatch(r"sf(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    return float(m.group(1)) if m else None


def main() -> None:
    names = sys.argv[1:] or HEADLINE
    unknown = sorted(set(names) - set(entry_mod.queries()))
    if unknown:
        raise SystemExit(f"unknown queries: {', '.join(unknown)}")
    sf = scale_factor(SF_DIR)

    spark = start_session("spear_spark_bench")
    timings = median_times(spark, names, SF_DIR)
    print(
        json.dumps(
            {
                "metric": "headline_query_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
