#!/usr/bin/env python
"""sf1 bench point for the heavy tail (VERDICT r11 next-round #1).

At sf0.1 the suite runs FASTER on 8 cores than 32 (driver's
BENCH_r11_c8): nearly every query is per-job/driver-overhead-bound, so
the local bench can no longer demonstrate data-parallel speedup.
This harness times the ~30 slowest batch queries + the 9 streaming
replays at sf1 (10x sf0.1, synthesized by tools/scalecheck.ensure_sf1
with per-replica key remapping) so optimization rounds measure
data-parallel work instead of job floors.

Usage:
    SPARK_GRAFT_CPUS=32 python tools/benchsf1.py
    SPARK_GRAFT_CPUS=8  python tools/benchsf1.py
    python tools/benchsf1.py <query> ...        # subset

Each run records min-of-REPEATS per query under its core count in
BENCH_SF1.json (merging with previous runs); when both 8- and 32-core
numbers exist it emits ``ratio_low_over_high`` per query — a ratio ≫1
means the query genuinely uses the cores. Same methodology as bench.py
(warmup pass, min over repeats, streaming last).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPEATS = 3

# 30 slowest batch queries by the driver's BENCH_r11 queries_min
HEAVY_BATCH = [
    "customer_entity_resolution",
    "orders_lineitem_join_ivm",
    "emb_power_iteration_pc1",
    "hybrid_dedup_clusters",
    "emb_kmeans_clusters",
    "doc_bpe_train_merges",
    "doc_bpe_apply_compression",
    "emb_semantic_dedup",
    "orders_lineitem_join_size_sketch",
    "token_graph_triangles",
    "emb_kcenter_coreset",
    "emb_hubness_profile",
    "revenue_cube",
    "part_association_rules",
    "customer_name_fuzzy_pairs",
    "emb_ivf_recall_curve",
    "doc_prefix_jaccard_join",
    "token_graph_kcore",
    "emb_lsh_near_dup_pairs",
    "emb_quantize_error",
    "doc_token_communities",
    "events_session_stats",
    "doc_dup_span_coverage",
    "doc_retrieval_rrf",
    "q18_large_volume_customers",
    "q1_pricing_summary",
    "emb_perceptron_train",
    "doc_textrank_keywords",
    "source_gram_containment",
    "doc_dup_span_scrub",
]


def main(argv: list[str]) -> int:
    from harness import is_streaming, load_context, merge_record, select, timed
    from scalecheck import ensure_sf1

    from datagouv_tools_spark.queries import QUERIES
    from datagouv_tools_spark.session import get_spark

    names = select(
        argv, QUERIES, default=HEAVY_BATCH + [n for n in QUERIES if is_streaming(n)]
    )
    sf1 = os.environ.get("SPARK_GRAFT_SF1_DIR") or ensure_sf1()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("benchsf1")
    spark.sparkContext.setLogLevel("ERROR")

    minima: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"benchsf1:{name}")
        samples = timed(lambda: QUERIES[name](spark, sf1).collect(), REPEATS)
        minima[name] = round(min(samples), 4)
        print(f"{name} cpus={cpus}: {minima[name]}", file=sys.stderr)
    spark.sparkContext.setJobDescription(None)

    out = os.environ.get("SPARK_GRAFT_BENCH_SF1", "BENCH_SF1.json")
    data = merge_record(out, {
        "sf": 1.0, "sf_dir": sf1, "repeats": REPEATS,
        "cpus": {str(cpus): minima}, "load_context": load_context(),
    })
    # low/high core ratio per query when two core counts are present
    counts = sorted(data["cpus"], key=int)
    if len(counts) >= 2:
        lo, hi = data["cpus"][counts[0]], data["cpus"][counts[-1]]
        merge_record(out, {
            "ratio_low_over_high": {
                n: round(lo[n] / hi[n], 2) for n in hi if n in lo and hi[n] > 0
            },
            "cpus_low": int(counts[0]), "cpus_high": int(counts[-1]),
        })
    print(json.dumps({"metric": "benchsf1", "cpus": cpus,
                      "total_min": round(sum(minima.values()), 2),
                      "n": len(minima), "out": out}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
