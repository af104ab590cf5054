"""Bench spread (VERDICT r5 #6, extended r8 per VERDICT r7 #2): run the
22 queries common to the r4 and r5 headline suites PLUS the heavyweight
trio (x31 PageRank, x32 mixture sampling, x33 classifier training) 5x
IN ONE PROCESS at sf0.1 and print per-run subtotal spreads for both
groups, so README bench notes can cite a measured spread instead of a
point estimate — and so iterative-query swings (the x33 +19% question
from the r7 verdict) can be adjudicated against run-to-run variance.
Usage:

    python scripts/bench_spread.py [n_runs]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES
from mapreduce_stockheadlines_spark.session import get_spark

SHARED_22 = [
    "q01_filter_project", "q02_group_agg", "q03_topk_rank",
    "q09_window_partitioned", "q13_tokenize_count",
    "q15_word_count_analogue", "q19_large_join", "q21_time_windows",
    "q22_dedup", "q23_asof_join", "q24_range_join", "x01_dedup_exact",
    "x03_minhash_signatures", "x06_embedding_neardup", "x07_ann_topk",
    "x08_text_stats", "x09_repetition_stats", "x12_pii_redact",
    "x13_multimodal_pipeline", "x14_session_window",
    "x17_lsh_bucketed_neardup", "x18_ivf_topk",
]

# The three iterative heavyweights excluded from SHARED_22 (they joined
# the suite in round 6). Measured as a separate group so their spread
# can adjudicate swings like x33's r6->r7 +19% without muddying the
# shared-22 series README already publishes.
HEAVY_3 = ["x31_pagerank", "x32_sampling", "x33_train_classifier"]


def main() -> None:
    n_runs = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench-spread")
    spark.sparkContext.setLogLevel("ERROR")

    # settle probe caches / JIT once, same as bench.py's warm-up
    for name in SHARED_22 + HEAVY_3:
        ALL_QUERIES[name].builder(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    shared_subtotals: list[float] = []
    heavy_subtotals: list[float] = []
    per_query: dict[str, list[float]] = {n: [] for n in SHARED_22 + HEAVY_3}
    for run in range(n_runs):
        shared_total = 0.0
        heavy_total = 0.0
        for name in SHARED_22 + HEAVY_3:
            t0 = time.time()
            ALL_QUERIES[name].builder(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.time() - t0
            per_query[name].append(dt)
            if name in HEAVY_3:
                heavy_total += dt
            else:
                shared_total += dt
        shared_subtotals.append(round(shared_total, 2))
        heavy_subtotals.append(round(heavy_total, 2))
        print(
            f"run {run + 1}: shared-22 subtotal {shared_total:.2f}s, "
            f"heavy-3 subtotal {heavy_total:.2f}s",
            flush=True,
        )

    print(json.dumps({
        "subtotals": shared_subtotals,
        "min": min(shared_subtotals),
        "max": max(shared_subtotals),
        "heavy_subtotals": heavy_subtotals,
        "heavy_min": min(heavy_subtotals),
        "heavy_max": max(heavy_subtotals),
        "per_query_minmax": {
            n: [round(min(v), 3), round(max(v), 3)]
            for n, v in per_query.items()
        },
    }))


if __name__ == "__main__":
    main()
