"""Scale-curvature probe (r5 verdict item 4; extended decades r6 item 5).

    python tools/gen_scale_probe.py /tmp/sf1     # once
    python tools/scale_probe.py [/tmp/sf1]

    # multi-point ladder, e.g. the graph family at sf0.1/sf1/sf5:
    python tools/gen_scale_probe.py /tmp/sf5 --copies 50 \\
        --tables orders,lineitem,embeddings
    python tools/scale_probe.py --points \\
        0.1:/root/testdata/sf0.1,1:/tmp/sf1,5:/tmp/sf5 \\
        --queries graph_pagerank_fixedpoint,graph_kcore_peeling,graph_knn_components

Times each query at every point and prints the per-segment scaling
exponent alpha = log(t2/t1) / log(sf2/sf1): alpha = 1 is linear, < 1
means fixed costs (scheduling, broadcast builds, JVM) still dominate at
this size, > 1 is super-linear growth that needs a documented reason.
Results are recorded in docs/BENCH_NOTES.md — this converts 'the plan
should scale' claims into measured curvature.
"""

from __future__ import annotations

import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PROBE = [
    # the 10 most expensive headliners by r5 driver medians
    "graph_knn_components",
    "dedup_lsh_band_sweep",
    "curation_split_cluster_safe",
    "graph_pagerank_fixedpoint",
    "pipeline_training_data_prep",
    "graph_kcore_peeling",
    "dedup_cluster_canonical",
    "dedup_editdistance_pairs",
    "dedup_ngram_jaccard_pairs",
    "sim_pq_rerank_topk",
    # TPC-H controls
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "q10_returned_items",
]

N_RUNS = 3


def main(
    points: list[tuple[float, str]],
    queries: list[str] | None = None,
) -> None:
    from bench import timed_runs
    from trike_spark.registry import load_all_query_modules
    from trike_spark.session import get_spark

    load_all_query_modules()
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    def best_of(name: str, sf_dir: str) -> float:
        # the first run is a warm-up and is dropped
        return min(timed_runs(spark, name, sf_dir, N_RUNS + 1)[1:])

    header = " ".join(f"sf{sf:>6g}" for sf, _ in points)
    alphas = " ".join(
        f"a[{points[i][0]:g}->{points[i + 1][0]:g}]" for i in range(len(points) - 1)
    )
    print(f"{'query':34s} {header}  {alphas}")
    for name in queries or PROBE:
        ts = [best_of(name, d) for _, d in points]
        segs = [
            math.log(ts[i + 1] / ts[i]) / math.log(points[i + 1][0] / points[i][0])
            for i in range(len(points) - 1)
        ]
        t_str = " ".join(f"{t:8.2f}" for t in ts)
        a_str = " ".join(f"{a:10.2f}" for a in segs)
        print(f"{name:34s} {t_str}  {a_str}")


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("sf1_dir", nargs="?", default="/tmp/sf1")
    ap.add_argument(
        "--points",
        default=None,
        help="comma list of sf:dir pairs, ascending sf (overrides sf1_dir)",
    )
    ap.add_argument("--queries", default=None, help="comma list; default = PROBE")
    args = ap.parse_args()
    if args.points:
        pts = [
            (float(p.split(":", 1)[0]), p.split(":", 1)[1])
            for p in args.points.split(",")
        ]
    else:
        small = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        pts = [(0.1, small), (1.0, args.sf1_dir)]
    main(pts, queries=args.queries.split(",") if args.queries else None)
