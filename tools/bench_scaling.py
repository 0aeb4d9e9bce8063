"""Measured scaling curve for the heaviest operators.

Runs the selected queries at three scale factors (generated by
tools/gen_corpus.py — sf0.01 / sf0.1 / sf1, a 100x spread) plus the
driver's sf0.1 as an anchor point, and writes SCALING.json with
median-of-N timings. PERFORMANCE.md's "Measured scaling" section is the
human-readable rendering.

Usage:
    python tools/gen_corpus.py --sf 0.01 --out /tmp/dbmask_scale/sf0.01
    python tools/gen_corpus.py --sf 0.1  --out /tmp/dbmask_scale/sf0.1
    python tools/gen_corpus.py --sf 1    --out /tmp/dbmask_scale/sf1
    python tools/bench_scaling.py [--runs 3] [--out SCALING.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the heavy set from the round-4 verdict's plan audit + the full-table top
# costs: dedup family, ANN family, the 3 heaviest TPC-H shapes, streaming
HEAVY = [
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_minhash_lsh",
    "dedup_simhash_wide_pairs",
    "embedding_neardup",
    "ann_topk_cosine",
    "ann_ivf_topk",
    "ann_lsh_topk",
    "ann_int8_topk",
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q18_large_volume_customers",
    "streaming_events_tumbling",
    "streaming_dedup_events",
    # round-6 additions (all measured flat-to-sub-linear in r6; kept in
    # the sweep so a future regression shows up as a curve change)
    "bucketed_join_segment_revenue",
    "funnel_view_click_purchase",
    "funnel_windowed_24h",
    "cohort_retention_weekly",
    "events_resample_hourly_dense",
]

POINTS = [
    ("sf0.01", 0.01, "/tmp/dbmask_scale/sf0.01"),
    ("sf0.1", 0.1, "/tmp/dbmask_scale/sf0.1"),
    ("sf1", 1.0, "/tmp/dbmask_scale/sf1"),
    # round-6 extension points for the steepest r5 curves (skipped when
    # the corpus dir is absent — gen_corpus.py --sf 2/4 creates them)
    ("sf2", 2.0, "/tmp/dbmask_scale/sf2"),
    ("sf4", 4.0, "/tmp/dbmask_scale/sf4"),
    # driver corpus anchor: proves the generator doesn't shift the workload
    ("driver-sf0.1", 0.1, "/root/testdata/sf0.1"),
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default="SCALING.json")
    ap.add_argument("--queries", default=None, help="comma list override")
    args = ap.parse_args()
    queries = args.queries.split(",") if args.queries else HEAVY

    from database_anonymiser_minimiser_spark.session import get_spark
    from database_anonymiser_minimiser_spark.queries import QUERIES

    spark = get_spark()
    results: dict[str, dict[str, float]] = {}
    rows: dict[str, dict[str, int]] = {}
    for label, sf, d in POINTS:
        if not os.path.isdir(d):
            print(f"skip {label}: {d} missing", file=sys.stderr)
            continue
        for name in queries:
            fn = QUERIES[name]
            fn(spark, d).count()  # warm (file scan cache, JIT)
            ts = []
            for _ in range(args.runs):
                t = time.monotonic()
                n = fn(spark, d).count()
                ts.append(time.monotonic() - t)
            med = sorted(ts)[len(ts) // 2]
            results.setdefault(name, {})[label] = round(med, 3)
            rows.setdefault(name, {})[label] = n
            print(f"{label} {name}: {med:.3f}s ({n} rows)", flush=True)
            # measurement hygiene: several operators persist
            # intermediates (shingle sets etc.) — drop them so later
            # queries aren't timed under another query's cache pressure
            spark.catalog.clearCache()

    out = {"runs": args.runs, "timings_sec": results, "result_rows": rows}
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
