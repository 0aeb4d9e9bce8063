"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE compact JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

The printed "queries" map holds only the FLAGSHIP subset (the driver's
tail capture is bounded — round 1's 62-entry JSON overflowed it and
parsed as null); the full per-query table for all measured queries is
written to bench_full.json next to this script.

Each query executes via a noop-format write so we measure distributed
compute + full result materialisation without driver-side collect
overhead dominating (aggregates are tiny anyway; scans are not).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from database_anonymiser_minimiser_spark import queries as Q
from database_anonymiser_minimiser_spark.session import get_spark

HEADLINE = [
    # reference-parity pipeline
    "full_export_customer",
    "retain_count_orders",
    "retain_date_events",
    "anonymise_customer_full",
    "mask_email",
    "consistency_mapping",
    "consistency_broadcast_apply",
    "sqldump_tuple_customer",
    # analytics
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q12_priority_shipping",
    "q14_promo_share",
    "q18_large_volume_customers",
    "q19_discounted_revenue",
    "q10_returned_item_revenue",
    "q17_small_quantity_revenue",
    "q2_min_cost_supplier",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_type_profit",
    "q11_important_stock",
    "q15_top_supplier",
    "q16_supplier_part_count",
    "zscore_events_exact",
    "ann_ivf_topk",
    "window_top_orders_per_customer",
    "events_tumbling_hourly",
    "events_sliding_2h_1h",
    "events_sessionize",
    # training-data pipeline
    "dedup_exact_documents",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "ann_topk_cosine",
    "ann_lsh_topk",
    "ann_int8_topk",
    "embedding_neardup",
    "text_token_count",
    "text_fingerprint",
    "text_quality_score",
    "text_language_id",
    "text_repetition_quality",
    "doc_chunks_128_64",
    "corpus_vocab_top100",
    "tfdf_top_terms",
    "multimodal_features",
    "multimodal_frame_sample",
    "multimodal_decode_wav",
    "dedup_simhash_wide_pairs",
    # dedup_ngram_jaccard_prefix is EXCLUDED (round-6): a
    # measured-and-rejected design kept as documentation (PERFORMANCE.md)
    # — 3.6x the default at sf1; sweeping it re-measures a
    # known-superseded plan without informing any decision.
    "realistic_mask_profile",
    "streaming_events_tumbling",
    # temporal / privacy / profiling
    # (streaming_stateful_user_totals / streaming_anonymise_events are
    # correctness-gated in the oracle suite but excluded here: their
    # wall time is micro-batch machinery + file splitting, not operator
    # throughput — streaming_events_tumbling represents streaming)
    "asof_join_events_orders",
    "range_join_events_windows",
    "privacy_k_anonymity_stats",
    "privacy_suppress_below_k",
    "privacy_shift_dates",
    "scrub_text_pii",
    # round-8: PII discovery (profile + rule suggestion)
    "pii_profile_tables",
    "pii_suggest_rules",
    # round-9: typed-column discovery (catalog-sized; measures the
    # string-profile aggregate it shares with the pair above).
    # streaming_percentiles_tdigest is correctness-gated in the oracle
    # suite but excluded here like the other stateful streaming queries:
    # its wall is micro-batch harness + file splitting, not operator
    # throughput — percentiles_tdigest_band_orders measures the digest.
    "pii_suggest_rules_typed",
    "consistency_fk_integrity",
    "snapshot_diff_cdc",
    "text_token_count_bpe",
    "text_winnow_fingerprint",
    "privacy_risk_metrics",
    "dedup_clusters",
    "percentiles_orders_by_status",
    "events_multires_rollup",
    "profile_customer",
    "sample_hash_10pct",
    "sample_stratified_by_lang",
    "string_suite_part",
    "json_schema_agg",
    "window_running_totals",
    "setop_union_intersect_except",
    "semi_join_orders_with_big_items",
    "corpus_curation_pipeline",
    "dedup_incremental_ingest",
    # round-9: the near-dup sibling (delta-vs-landed MinHash ingest)
    "dedup_minhash_incremental",
    # round-10: the two-phase salted aggregate, oracle-graded (skew probe)
    "salted_agg_user_value",
    "corpus_mix_budget",
    "q20_excess_supply",
    "q21_waiting_suppliers",
    "semantic_dedup_embeddings",
    "pivot_orders_priority",
    "unpivot_customer_metrics",
    "q4_order_priority_check",
    "q13_customer_order_distribution",
    "q22_global_sales_opportunity",
    "streaming_dedup_events",
    "contamination_check",
    "contamination_ngram_overlap",
    # round-10: key_mode promotion — the defaults above now run the
    # hashed (xxhash64 key) production path; the string/md5 reference
    # shapes are swept as *_oracle so both sides of the key strategy
    # stay measured round-over-round
    "contamination_ngram_overlap_oracle",
    "dedup_common_spans_oracle",
    # production MinHash (xxhash shingle + band keys; rows-only gated)
    "dedup_minhash_lsh_xxhash",
    "pack_sequences_2048",
    "ann_lsh_multiprobe",
    "sample_fixed_per_lang",
    "dedup_exact_keep_best",
    "ann_topk_cosine_numpy",
    # round-4: grouped-map path + the sketch accuracy-band gates
    "zscore_events_pandas",
    "zscore_pandas_band_events",
    "percentiles_band_orders_by_status",
    "approx_distinct_band_events",
    # round-4: corpus-governance operators
    "vocab_oov_rate",
    "source_overlap_matrix",
    # round-5 late additions: sub-document dedup, tokenizer training,
    # bloom screening, lexical retrieval
    "dedup_common_spans",
    "bpe_merge_pairs",
    "decontaminate_bloom",
    "bm25_search_topk",
    "shard_assignment_stats",
    "heavy_hitters_sketch_pairs",
    "streaming_heavy_hitters_users",
    "subset_fk_closed_counts",
    "cdc_apply_orders",
    "sample_weighted_by_length",
    "text_bigram_novelty",
    # round-6 additions: the flagship subset->anonymise->dump pipeline,
    # and the sketch-ONLY heavy-hitters path (heavy_hitters_sketch_pairs
    # measures the exact-side verification gate, not the operator — this
    # label records the production path's own cost)
    "subset_export_lines",
    "heavy_hitters_sketch_only",
    "hybrid_search_rrf",
    "bpe_learn_merges",
    "bpe_encode_token_count",
    # bucketed-layout co-located join: time includes BOTH bucketed table
    # writes plus the shuffle-free join — i.e. the one-off layout cost a
    # production pipeline amortises over every downstream join
    "bucketed_join_segment_revenue",
    # event-sequence analytics: stacked-window funnel (one corpus
    # shuffle) and calendar-bounded cohort retention
    "funnel_view_click_purchase",
    "cohort_retention_weekly",
    # dense time-series resample (gap-filled hourly grid, single scan)
    "events_resample_hourly_dense",
    # exists-semantics windowed funnel (running-max window passes)
    "funnel_windowed_24h",
    # round-7 addition: user-space mergeable t-digest (two-level digest
    # merge, band-gated). streaming_sessions_gap is correctness-gated in
    # the oracle suite but excluded here for the same reason as
    # streaming_dedup/anonymise above: its wall is micro-batch harness +
    # spool machinery, not operator throughput.
    "percentiles_tdigest_band_orders",
    # round-11 second-half additions: the DP release family (noise on
    # the aggregated relation — should price like the plain aggregates),
    # exact-k sampling, markup extraction, gap-fill, and the two new
    # privacy audits
    "privacy_dp_noisy_counts",
    "privacy_dp_noisy_sum",
    "privacy_dp_noisy_avg",
    "privacy_dp_user_counts",
    "privacy_t_closeness",
    "sample_k_per_lang",
    "text_strip_markup",
    "events_interpolate_hourly",
    "events_locf_hourly",
    # round-12: DP counts densified against a public key domain (the
    # known-domain variant; prices like the plain count + a broadcast
    # literal domain join), the DP histogram over public bins, the
    # trailing range-window moving average, exact-integer weighted
    # sampling, and the one-pass data-contract expectations gate
    "privacy_dp_known_domain",
    "privacy_dp_histogram",
    "events_moving_avg_24h",
    "sample_weighted_chars",
    "expectations_events",
    # round-12: directed containment near-dups (short-doc-inside-long,
    # shares the jaccard index machinery) and token-window chunking
    # (the RAG/training-sequence slicing shape, scan-bound)
    "dedup_containment_pairs",
    "chunk_documents_64_48",
    # round-12: the float production gram (zero-amplification
    # mapInPandas partials; the PCA/whitening pre-step). Its
    # decimal-exact twin embedding_gram_matrix is correctness-graded in
    # the oracle suite but excluded here like the other verification
    # twins (ngram prefix mode): interpreted HOF product generation
    # prices it ~20x — it is the GATE for this query, not a pipeline
    # operator.
    "embedding_gram_fast",
    # round-13: the persisted-ANN-index daily screen (seed + delta
    # screen against the on-disk inverted lists — the measured figure
    # includes the one-time index seed, which a deployment amortises;
    # the screen itself is broadcast + DPP directory seek).
    # streaming_dp_counts remains correctness-gated in the oracle suite
    # and excluded here with the other micro-batch-harness canaries.
    "ann_screen_delta",
    # round-13: temperature-mixed source sampling (one groupBy + quota
    # broadcast + per-source window) and mutual-top-1 bitext mining
    # (shared-cell blocked candidates, two id-keyed windows)
    "sample_temperature_by_source",
    "bitext_mutual_top1",
    # round-13: PQ+ADC approximate top-k (one literal-codebook encode
    # projection; the ADC scan reads m codes per vector, not d floats)
    "ann_pq_adc_topk",
    "ann_ivf_pq_topk",
    # round-13: DP quantiles (post-processing of the histogram release
    # — prices like the histogram + a bounded public-grid window)
    "privacy_dp_quantiles",
    # round-14: margin-scored bitext mining (same cell-blocked
    # candidates as mutual-top-1 plus two grid-keyed neighbourhood
    # aggregations feeding the ratio margin)
    "bitext_margin_pairs",
    # round-14: IVFADC+R — the ADC shortlist re-ranked by exact cosine
    # (grid-sized shortlist broadcast for the vector fetch; prices like
    # ivf_pq + one broadcast-join pass over the corpus)
    "ann_pq_rescore_topk",
    # round-14: stability-based DP heavy hitters (one groupBy +
    # TakeOrderedAndProject) and the recursive (c,l)-diversity audit
    # (two map-side-combined aggregations)
    "privacy_dp_stable_topk",
    "privacy_recursive_cl_diversity",
    # round-14: unigram-LM tokenizer (Viterbi hard-EM on the
    # distinct-word relation; encode = train + one broadcast join back
    # to the corpus — the trainer's cost is the difference)
    "unigram_learn_vocab",
    "unigram_encode_token_count",
]

# printed in the driver-facing JSON line (bounded tail capture); one
# representative per operator family
FLAGSHIP = [
    "full_export_customer",
    "anonymise_customer_full",
    "sqldump_tuple_customer",
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q18_large_volume_customers",
    "events_tumbling_hourly",
    "window_running_totals",
    "dedup_exact_documents",
    "dedup_minhash_lsh",
    "ann_topk_cosine",
    "asof_join_events_orders",
    "scrub_text_pii",
    "streaming_events_tumbling",
    # round-2 verdict watch items: the restructured IVF and the slowest
    # headline query, surfaced in the driver-visible line for trend
    "ann_ivf_topk",
    "dedup_ngram_jaccard",
    # round-6: the end-to-end subset->anonymise->topo-dump pipeline
    "subset_export_lines",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="dbmask-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers once so per-query numbers measure the
    # plan, not first-touch JIT/IO
    try:
        Q.load(spark, sf_dir, "lineitem").count()
    except Exception:
        pass  # per-query isolation below still produces a bench line

    # Per-query failure isolation: one broken query must NEVER zero the
    # whole bench round (round 2's single streaming failure aborted the
    # process before any timing was printed). Errors are recorded as
    # short strings in `errors`; timings holds only successful runs.
    #
    # Each query: one unmeasured warm run (whole-stage-codegen JIT
    # compiles on first execution, ~10s for heavy array expressions;
    # steady-state throughput is what 100 TB jobs amortise to), then
    # N_RUNS measured runs. The reported figure is the MEDIAN; per-query
    # stddev lands in bench_full.json so 0.2 s-class JIT/GC noise is
    # distinguishable from real plan regressions round-over-round.
    N_RUNS = 3
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    runs_map: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        fn = Q.QUERIES[name]
        try:
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            runs: list[float] = []
            for _ in range(N_RUNS):
                spark.catalog.clearCache()  # drop operator-internal persists
                start = time.perf_counter()
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                runs.append(time.perf_counter() - start)
            runs.sort()
            med = runs[len(runs) // 2]
            mean = sum(runs) / len(runs)
            timings[name] = round(med, 3)
            spreads[name] = round(
                (sum((r - mean) ** 2 for r in runs) / (len(runs) - 1)) ** 0.5, 3
            )
            runs_map[name] = [round(r, 3) for r in runs]
        except Exception as exc:  # noqa: BLE001 - isolate, record, continue
            # `or [""]`: an empty exception message yields no lines, and the
            # handler itself must never raise (that re-creates the round-2
            # all-timings-lost failure this isolation exists to prevent)
            first = (str(exc).splitlines() or [""])[0][:160]
            errors[name] = f"{type(exc).__name__}: {first}"
        finally:
            try:
                spark.catalog.clearCache()
            except Exception:
                pass

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    full = {
        "metric": "headline-queries wall time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "stddev": spreads,
        "runs": runs_map,
        "n_runs": N_RUNS,
        "errors": errors,
        "sf": sf_val,
        "n_queries": len(timings),
    }
    # Anchor hygiene (r5 verdict item 4): the committed bench_full.json
    # must be the DRIVER's artifact of record, not a builder-local rerun
    # (the two disagreed by ~10% in r4/r5 — inside the documented
    # variance envelope, but the repo should carry one file of record).
    # Builder-local iteration runs set SPARK_GRAFT_BENCH_FULL to a /tmp
    # path; the driver's default invocation keeps writing bench_full.json.
    full_path = os.environ.get(
        "SPARK_GRAFT_BENCH_FULL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_full.json"),
    )
    with open(full_path, "w") as fh:
        json.dump(full, fh, indent=1)

    # compact single line for the driver: flagship subset only
    print(
        json.dumps(
            {
                "metric": "headline-queries wall time",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": {k: timings[k] for k in FLAGSHIP if k in timings},
                "sf": sf_val,
                "n_queries": len(timings),
                "n_errors": len(errors),
                "full": "bench_full.json",
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
