"""Regenerate PLANS.md: formatted physical plans for the flagship
queries with the scale property each plan demonstrates. Run from the
repo root: python tools/dump_plans.py [sf_dir].

Plan snapshots for an optimisation write-up instead write each named
query's full ``explain("formatted")`` to ``<out>/<query>_<tag>.txt``:
python tools/dump_plans.py SF_DIR --queries a,b --tag before --out plans/rNN"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from database_anonymiser_minimiser_spark import queries as Q
from database_anonymiser_minimiser_spark.session import get_spark

# query -> the scale property the reader should see in the plan
SHOWCASE = [
    (
        "anonymise_customer_full",
        "Whole mask stack is ONE projection over the scan (no Exchange): "
        "masking needs no state, so 1000 executors scale linearly in splits.",
    ),
    (
        "retain_date_events",
        "Date-retain predicate is not in the plan body - it rides the scan "
        "(PushedFilters) and prunes parquet row groups at the reader.",
    ),
    (
        "q5_local_supplier_volume",
        "Star join: all four dimensions broadcast (BroadcastHashJoin); the "
        "only big exchange is the orders|x|lineitem key shuffle, AQE-coalesced.",
    ),
    (
        "q18_large_volume_customers",
        "Aggregate sits BELOW the join: lineitem is reduced before joining "
        "orders/customer, and the agg output is already partitioned on the "
        "join key, so no second shuffle.",
    ),
    (
        "dedup_minhash_lsh",
        "LSH banding: signatures are map-side; the only shuffle is the "
        "band-bucket self-join (bounded by bucket occupancy, never n^2).",
    ),
    (
        "ann_ivf_topk",
        "IVF assignment is a single projection over centroid literals "
        "(array_max argmax - no crossJoin, no Window shuffle of the corpus); "
        "the query side broadcasts; the sole exchange ranks candidates.",
    ),
    (
        "asof_join_events_orders",
        "As-of join via union-merge: one shuffle of (left+right) on the key "
        "plus one window pass - same cost class as a plain join, no range "
        "explosion, no BroadcastNestedLoopJoin.",
    ),
    (
        "pack_sequences_2048",
        "Sequence packing: ONE hash exchange on the bucket key, sort local "
        "to partitions (global=false) - a global cumulative sum would "
        "serialise at 100 TB.",
    ),
    (
        "quality_quantile_filter",
        "Per-language medians are a tiny aggregate broadcast back onto the "
        "corpus: the big table is scanned once and never shuffles.",
    ),
    (
        "contamination_ngram_overlap",
        "Benchmark shingles broadcast; corpus shingles explode map-side - "
        "the 100 TB side never shuffles before the per-language rollup.",
    ),
    (
        "dedup_ngram_jaccard",
        "Count-then-verify: the candidate pair stream is aggregated "
        "(shared-shingle count) on the shuffle the old distinct() paid "
        "anyway, and the intersection upper bound c + min(|A|-rA, |B|-rB) "
        "rejects pairs before the array-verify joins - verify degenerates "
        "to confirming true pairs.",
    ),
    (
        "decontaminate_bloom",
        "Bloom decontamination: the benchmark set rides as a 256-word "
        "bitmap literal, so corpus membership is map-side bit arithmetic "
        "- NO join anywhere in the plan (compare contamination_ngram_"
        "overlap's broadcast join); memory is m bits at any benchmark "
        "size.",
    ),
    (
        "bm25_search_topk",
        "BM25 retrieval: corpus stats (N, avgdl, df per term) reduce to "
        "ONE aggregate row - the plan's only exchange - broadcast back "
        "via a single-row BNLJ; per-doc scoring is map-side array "
        "arithmetic (no explode) and the top-20 is TakeOrderedAndProject.",
    ),
    (
        "subset_export_lines",
        "Flagship pipeline: the FK cascade is two left-semi joins "
        "(selectivity compounds down customer->orders->lineitem); "
        "anonymise + INSERT-tuple formatting are pure projections fused "
        "into the scans (zero Python, zero extra Exchange); topo order "
        "is driver-side metadata only.",
    ),
    (
        "hybrid_search_rrf",
        "RRF fusion: each retriever collapses to its bounded top-100 "
        "candidate list FIRST (TakeOrderedAndProject - the corpus never "
        "globally sorts); fusion is a UNION of the two ~100-row "
        "contribution lists + one per-doc aggregate - no join at all, so "
        "disjoint candidate lists still fuse (the inner-join form "
        "returned 0 rows once the lists stopped overlapping at sf1+).",
    ),
    (
        "bucketed_join_segment_revenue",
        "Bucketed co-located join: both scans read pre-hash-bucketed "
        "managed tables (Bucketed: true), so the SortMergeJoin needs NO "
        "Exchange on either side - the plan's only Exchange is the "
        "5-group final aggregation. The write-once bucket layout turns "
        "every downstream join on the key into a local merge.",
    ),
    (
        "funnel_view_click_purchase",
        "Ordered funnel: three stacked Window ops over ONE user_id "
        "partitioning (one Exchange + one Sort for the whole funnel); "
        "the per-user reduction reuses that partitioning, so the only "
        "other Exchange is the single-row final count. No self-join "
        "(the SQL form is 3 corpus scans + shuffles), no collect_list "
        "(unbounded for hot users).",
    ),
    (
        "funnel_windowed_24h",
        "Windowed funnel, EXACT exists-semantics: each step is a "
        "running max of qualifying prior-step timestamps over a RANGE "
        "(-inf,-1] frame on epoch-microseconds - same one-Exchange "
        "shape as the plain funnel where the SQL equivalent is a "
        "correlated-EXISTS per-event subquery scan.",
    ),
    (
        "events_resample_hourly_dense",
        "Dense gap-filled resample: the corpus is scanned ONCE into a "
        "persisted calendar-bounded (hour, type) aggregate; bounds, "
        "grid (sequence()-generated) and types all read the "
        "InMemoryRelation, and the zero-fill joins broadcast - no "
        "second corpus scan, no sort-merge join.",
    ),
    (
        "percentiles_tdigest_band_orders",
        "User-space mergeable t-digest: raw rows never cross an "
        "Exchange - the mapInPandas stage emits O(delta) centroid "
        "arrays per (Arrow batch, group), the sharded pre-merge and "
        "final merge shuffle only digests, and the 5% accuracy band "
        "joins the exact in-plan percentile as a bounded broadcast.",
    ),
    (
        "q15_top_supplier",
        "Scalar-max subquery WITHOUT the double scan: the per-supplier "
        "revenue relation is persisted (r7 plan-audit find - Catalyst "
        "reuses neither scan nor exchange across its two consumers), "
        "so the quarter's lineitem pass runs once; max re-aggregates "
        "the cached partials and broadcasts back as a 1-row filter.",
    ),
    (
        "privacy_dp_noisy_counts",
        "DP release costs NOTHING over the plain count: one map-side-"
        "combined groupBy Exchange, then the geometric noise is a "
        "literal-table lookup computed ON the aggregated relation - "
        "no extra shuffle, no Python, released values integer-exact "
        "cross-engine.",
    ),
    (
        "events_interpolate_hourly",
        "Gap-fill interpolation touches the corpus ONCE: the sparse "
        "hourly aggregate is persisted and calendar-bounded, the dense "
        "grid and type list derive from it (no second scan), fills "
        "join as broadcasts, and the IGNORE-NULLS windows shuffle only "
        "grid-sized rows keyed by type.",
    ),
    (
        "events_moving_avg_24h",
        "Per-user trailing 24h features: ONE Exchange on user_id "
        "feeding ONE Window with a RANGE frame over epoch-micros - a "
        "sliding aggregate, never a self-join, and parallelism grows "
        "with entity cardinality (the same frame per 5-value "
        "event_type measured 7.5x slower and would serialise on 5 "
        "tasks at any corpus size).",
    ),
    (
        "privacy_dp_histogram",
        "DP histogram: binning is a scan-side projection, the count is "
        "one map-side-combined Exchange, and the PUBLIC bin grid "
        "densifies through a literal-array BroadcastHashJoin - no "
        "Python anywhere (a createDataFrame domain would drag in a "
        "Scan ExistingRDD Python stage; the explode-literal form stays "
        "in whole-stage codegen).",
    ),
    (
        "sample_weighted_chars",
        "Length-weighted Bernoulli sampling entirely in exact integer "
        "arithmetic: the 1-row max aggregate broadcasts back and the "
        "inclusion test u*max < n_chars*2^52 runs as DECIMAL(19,0) "
        "products inside the scan-bound filter - no float "
        "probabilities, no shuffle of the corpus.",
    ),
    (
        "dedup_containment_pairs",
        "Directed containment (short-doc-inside-long): shares the "
        "Jaccard inverted index - rare-shingle candidates under the "
        "adaptive df-cap, 8-byte hashed-shingle self-join bounded by "
        "bucket sizes, size (|B| >= t|A|) and count-then-verify "
        "prunes, exact verification only on survivors.",
    ),
    (
        "ann_screen_delta",
        "Persisted-ANN-index screen (r13): the landed index side is a "
        "parquet scan with DYNAMIC PARTITION PRUNING on cid (the "
        "inverted-list directory seek) feeding a BroadcastHashJoin "
        "whose build side is the day's delta - ZERO Exchange ever "
        "touches the corpus-sized index; the plan's only shuffle "
        "carries batch-keyed aggregate partials (query_id).",
    ),
    (
        "bitext_mutual_top1",
        "Cross-corpus mutual-top-1 (r13): both sides cell-assigned by "
        "one literal-centroid projection (map-side), candidates join "
        "WITHIN cells only (sum(cell_a x cell_b), never |A| x |B|); "
        "the two ranking windows key on a_id / b_id, whose cardinality "
        "grows with the corpora, so task parallelism scales.",
    ),
    (
        "ann_ivf_pq_topk",
        "IVF-PQ (r13): ONE map-side projection labels every vector "
        "with its cell and its m PQ codes; the bounded query side "
        "(probe cells + ADC tables as literals) broadcasts; the sole "
        "exchange ranks nprobe/cells of the corpus per query.",
    ),
    (
        "sample_temperature_by_source",
        "Temperature source mixing (r13): one groupBy(source) "
        "aggregate, a 1-row broadcast of the ordered sqrt-share fold, "
        "a broadcast quota join, and a per-source ranking window - "
        "the corpus is scanned once and shuffled once (on source).",
    ),
    (
        "bitext_margin_pairs",
        "Margin-scored bitext (r14): the ratio margin reuses the SAME "
        "ranked candidate relation the mutuality filter reads - the "
        "two neighbourhood aggregations key on a_id / b_id (grid-"
        "sized groups that grow with the corpora), so scoring adds "
        "no second candidate pass and no corpus-sized shuffle.",
    ),
    (
        "privacy_dp_quantiles",
        "DP quantiles (r14 reshape): the histogram release is "
        "collected eagerly (grid-sized, it IS the public release) and "
        "rebuilt as Catalyst literals - the post-processing plan "
        "touches NO corpus scan at all, aggregates the corpus exactly "
        "once at call time, and leaves no session-lifetime cache.",
    ),
    (
        "privacy_dp_stable_topk",
        "Stability-based DP heavy hitters: ONE map-side-combined groupBy "
        "Exchange, then TakeOrderedAndProject (per-partition partial top-k "
        "- a global Sort of the key domain never happens); the rank window "
        "runs after the limit, over k rows.",
    ),
    (
        "privacy_recursive_cl_diversity",
        "Recursive (c,l)-diversity: exactly two map-side-combined "
        "aggregations (class x sensitive, then class with a sorted "
        "frequency-list fold) - no join, no window, no Python; all-integer "
        "comparisons keep it bit-exact cross-engine.",
    ),
]


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="dbmask-spark-plans", master="local[4]",
                      shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — physical plans of the flagship queries",
        "",
        "Generated by `python tools/dump_plans.py` (re-run after plan-affecting",
        "changes; `tests/test_plans.py` gates the load-bearing properties in CI).",
        "Each section states the scale property the plan demonstrates, then the",
        "`explain('formatted')` tree at sf0.001 — the tree shape (what shuffles,",
        "what broadcasts, what reaches the scan) is scale-invariant.",
        "",
    ]
    for name, why in SHOWCASE:
        df = Q.QUERIES[name](spark, sf_dir)
        tree = plan_of(df)
        # keep the tree + the scan/exchange details, drop the long tail of
        # per-node columns to keep the file reviewable
        head, _, detail = tree.partition("\n\n")
        keep = [head, ""]
        for block in detail.split("\n\n"):
            block = block.strip("\n")
            first = block.splitlines()[0] if block.splitlines() else ""
            if any(t in first for t in ("Scan", "Exchange", "Sort", "Window",
                                        "HashAggregate", "Join", "TakeOrdered")):
                keep.append(block)
                keep.append("")
        out += [f"## {name}", "", why, "", "```", "\n".join(keep).rstrip(), "```", ""]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "PLANS.md")
    with open(path, "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path}")
    spark.stop()


def snapshots(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(description="per-query plan snapshots")
    ap.add_argument("sf_dir")
    ap.add_argument("--queries", required=True, help="comma-separated names")
    ap.add_argument("--tag", default="before", help="file-name suffix")
    ap.add_argument("--out", required=True, help="directory, e.g. plans/r16")
    args = ap.parse_args(argv)
    os.makedirs(args.out, exist_ok=True)
    spark = get_spark(app_name="dbmask-spark-plans", master="local[4]",
                      shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    for name in args.queries.split(","):
        plan = plan_of(Q.QUERIES[name](spark, args.sf_dir))
        path = os.path.join(args.out, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    spark.stop()


if __name__ == "__main__":
    if any(a.startswith("--") for a in sys.argv[1:]):
        snapshots(sys.argv[1:])
    else:
        main()
