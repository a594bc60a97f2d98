"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Fixture builds (Iceberg tables) are setup, not measured; each measured
query runs to completion via a count()/collect() action.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "q6_forecast_revenue",
    "top_customers_per_nation",
    "events_hourly",
    "iceberg_scan_filter_project",
    "iceberg_bucket_scan",
    "iceberg_mor_delete_scan",
    "iceberg_dv_delete_scan",
    "transforms_datetime",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_stats",
    "ann_topk_bruteforce",
    "ann_topk_bucketed",
    "ann_topk_ivf",
    "doc_fingerprints",
    "variant_shred",
    "multimodal_features",
]

# round-4 additions to the measured set.  "value" covers HEADLINE +
# EXTRA; "value_comparable21" restates the original 21-query subtotal so
# per-round trends stay apples-to-apples against the BASELINE.md anchor.
EXTRA = [
    "repetition_metrics",
    "decontaminate_docs",
    "stratified_sample_by_lang",
    "pack_sequences",
    "dedup_clusters",
    "kmeans_topic_clusters",
    "token_rarity_scores",
    "boilerplate_ngram_flags",
    # session-3 additions
    "q4_order_priority",
    "q9_product_profit",
    "q21_waiting_supplier",
    "q22_idle_customers",
    "mixture_sample_by_source",
    "shuffle_shards_export",
    "semantic_dedup_embeddings",
    "iceberg_merge_scan",
    "iceberg_defaults_scan",
    "multimodal_resize",
    "dedup_keep_best",
    "soft_dedup_weights",
    "events_resampled_dense",
    # round-5 additions
    "dedup_simhash_near",
    "dedup_paragraphs_clean",
    "event_funnel",
    "user_retention_cohorts",
    "props_json_stats",
    # round-6 additions
    "iceberg_nested_defaults_scan",
    "variant_prune_scan",
    "leakage_safe_split_stats",
    "iceberg_spec_evolution_scan",
    "iceberg_branch_scan",
    "iceberg_rest_scan",
    "iceberg_compacted_scan",
    "iceberg_sorted_scan",
    "source_contribution_caps",
    "temperature_mixture_sample",
    "context_window_chunks",
    "bpe_top_pairs",
    "distinctive_terms_by_lang",
    "iceberg_partition_stats",
    "iceberg_view_query",
    "duplicate_span_stats",
    "strip_duplicate_spans",
    "length_quantiles_by_source",
    # round-7 additions
    "iceberg_encrypted_scan",
    "token_frequency_quality",
    "ann_topk_pq",
    "iceberg_zorder_scan",
    # round-7 session-2 additions
    "ngram_novelty_scores",
    "c4_quality_filter",
    "bigram_predictability",
    "ann_topk_pq_rerank",
    "minhash_lsh_recall",
    "winnow_near_dups",
    "source_divergence",
    "jaccard_verified_dups",
    "ngram_jaccard_dups",
    "training_pipeline_sample",
    "contrastive_negative_pairs",
    "ngram_diversity_profile",
    "iceberg_snapshot_drift",
    "multimodal_pack",
    "bpe_merge_table",
    # round-9 additions: the decorrelation-pattern TPC-H shapes
    "q2_min_cost_supplier",
    "q11_important_parts",
    "q12_late_priority_mix",
    "q16_supplier_part_counts",
    "q20_dominant_suppliers",
    "iceberg_stream_read",
    "bpe_encoded_lengths",
    "dsir_resample_top",
    "token_budget_mix",
    "decontaminate_spans",
]


def main() -> None:
    import __spark_entry__ as entrymod
    from iceberg_go_spark.session import get_spark

    spark = get_spark("bench")
    qs = entrymod.queries()

    # setup (unmeasured): build Iceberg fixtures + warm the JVM.  One
    # warmup execution per query excludes whole-stage-codegen compilation
    # from the measurement (standard steady-state methodology; disable
    # with BENCH_WARMUP=0 to measure cold runs).
    entrymod._fixtures(spark, SF_DIR)
    spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).count()
    if os.environ.get("BENCH_WARMUP", "1") != "0":
        for name in HEADLINE + EXTRA:
            qs[name](spark, SF_DIR).count()

    # min of REPS timed runs per query, reps interleaved ROUND-ROBIN
    # across queries (round 9): back-to-back reps let one slow box
    # window inflate ALL reps of a few queries — the round-8 close saw
    # 12.0-12.4 s then 9.28 s on the same tree from box state alone.
    # Interleaved, a slow window spreads one inflated rep across many
    # queries and the per-query min still lands in a quiet window.
    # A fixed PURE-SPARK sentinel (constant CPU-bound work, no file IO)
    # runs before every rep round and once at the end; its readings go
    # into the artifact so box state is quantified, not guessed.
    def sentinel() -> float:
        from pyspark.sql import functions as F
        t0 = time.time()
        # modulus keeps the ANSI sum in-range (raw xxhash64 sums
        # overflow long over 5e7 rows)
        spark.range(50_000_000).select(
            F.sum(F.xxhash64("id") % 1_000_003)).collect()
        return round(time.time() - t0, 3)

    sentinel()  # warm the sentinel's codegen path too
    reps = int(os.environ.get("BENCH_REPS", "3"))
    interleave = os.environ.get("BENCH_INTERLEAVE", "1") != "0"
    order = HEADLINE + EXTRA
    samples: dict[str, list[float]] = {name: [] for name in order}
    rows: dict[str, int] = {}
    sentinels = []
    if interleave:
        for _ in range(max(1, reps)):
            sentinels.append(sentinel())
            for name in order:
                t0 = time.time()
                rows[name] = qs[name](spark, SF_DIR).count()
                samples[name].append(time.time() - t0)
        sentinels.append(sentinel())
    else:
        sentinels.append(sentinel())
        for name in order:
            for _ in range(max(1, reps)):
                t0 = time.time()
                rows[name] = qs[name](spark, SF_DIR).count()
                samples[name].append(time.time() - t0)
        sentinels.append(sentinel())
    timings = {}
    for name in order:
        timings[name] = round(min(samples[name]), 3)
        print(f"# {name}: {timings[name]:.2f}s ({rows[name]} rows)",
              file=sys.stderr)
    print(f"# sentinel readings: {sentinels}", file=sys.stderr)

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = None
    # full per-query map goes to a separate artifact; the final stdout
    # line stays under ~1 kB (the driver's tail capture is 2000 chars —
    # the 65-query inline map overflowed it in round 6 and the recorded
    # bench came back machine-unreadable), so "queries" carries only the
    # 21-query comparable subset that BASELINE.md anchors against.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump({"sf": sf_val, "queries": timings,
                   "sentinel_sec": sentinels,
                   "samples": {n: [round(v, 3) for v in s]
                               for n, s in samples.items()}},
                  f, indent=1, sort_keys=True)
    print(json.dumps({
        "metric": "headline_query_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {n: timings[n] for n in HEADLINE},
        "value_comparable21": round(
            sum(timings[n] for n in HEADLINE), 3),
        "n_queries": len(timings),
        "sentinel_sec": sentinels,
        "detail": "BENCH_DETAIL.json",
        "sf": sf_val,
        # the core count the timings were taken on (r01-r10: 32 cores)
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
