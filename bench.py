"""Benchmark runner: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is forced with a full collect (the driver-comparable unit of
work: plan → execute → materialize results on the driver). Queries come
from the central registry, so bench coverage grows with the engine.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the scan/join/agg-heavy queries that dominate at scale.
# Extended as operator families land (window/dedup/similarity are the
# next-most-expensive shapes).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "q10_returned_items",
    "q7_volume_shipping",
    "q18_large_volume_customers",
    "agg_cube_flags",
    "window_running_total",
    "join_asof_event_order",
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard_pairs",
    "sim_topk_bruteforce",
    "sim_lsh_bucket_topk",
    "sim_ivf_search",
    "text_tokens_top20",
    "text_quality_score",
    "text_tfidf_top3",
    "events_sessionization",
    "trike_cloud_event_project",
    "curation_contamination_trigram",
    "curation_pack_sequences",
    "sketch_countmin_heavyhitters",
    # round-4 additions
    "events_time_rollup",
    "sim_ivf_multiprobe",
    "multimodal_resize",
    "events_scd2_intervals",
    "sim_sq_int8_topk",
    "sim_kmeans_refine",
    "sim_pq_adc_topk",
    "text_unigram_logprob",
    # the iterative / composed heavyweights — where regressions would hide
    "dedup_cluster_canonical",
    "dedup_embedding_cosine_pairs",
    "dedup_embedding_lsh_cosine_pairs",
    "dedup_incremental_lsh",
    "pipeline_chunk_dedup",
    "pipeline_training_data_prep",
    # round-4 late additions
    "graph_pagerank_fixedpoint",
    "window_equidepth_histogram",
    "dedup_editdistance_pairs",
    "join_bloom_prefilter_revenue",
    "text_bpe_merges",
    "text_bigram_logprob",
    "sketch_join_size_estimate",
    "events_scd2_point_in_time_join",
    # round-4 session-2 additions
    "dedup_substring_spans",
    "join_interval_binned",
    "sim_pq_rerank_topk",
    "events_sessionization_dynamic_gap",
    # round-4 session-3 additions
    "text_bm25_topk",
    "sim_mmr_rerank",
    # round-4 session-4 additions
    "sim_hybrid_rrf",
    "sketch_hll_daily_merge",
    "events_dau_wau_mau",
    "curation_split_cluster_safe",
    "dedup_lsh_band_sweep",
    "graph_knn_components",
    # round-5 additions
    "sim_ivfpq_adc_topk",
    "graph_kcore_peeling",
    "sketch_threshold_topk",
    # round-6 additions: faces rewritten onto operators/banded.py — keep
    # the banded plans' cost visible round-over-round
    "agg_rfm_segmentation",
    "join_nearest_acctbal",
    "text_zipf_slope",
    # round-7 additions: user-facing production shapes from late round 6
    # (r6 verdict item 6) + the fused banded pareto rewrite
    "sim_filtered_topk",
    "curation_pii_redact",
    "agg_pareto_revenue_share",
    # mid-round-7 additions: the new layout face, the real-codec stage,
    # and the q1 rewrite is already tracked above
    "scan_hilbert_cells",
    "multimodal_png_roundtrip",
    # round-9 additions: the now-REAL decode/resize kernels, the 4:2:0
    # color JPEG certification, and the materialized-index IVF probe
    "multimodal_decode_features",
    "multimodal_jpeg420_roundtrip",
    "sim_ivf_index_probe",
    "multimodal_jpeg_header_catalog",
    # session-3 additions: the banded training-epoch layout faces
    "curation_epoch_shuffle",
    "curation_token_budget_select",
    # round-8 additions: the real JPEG/Y4M codec stages, the binaryFile
    # quarantine e2e, and the O(1)-output session-merge twin
    "multimodal_jpeg_roundtrip",
    "multimodal_y4m_frame_sample",
    "multimodal_decode_quarantine",
    "events_session_stats_dynamic_gap",
    # round-10 addition: the index-served IVFPQ/ADC probe (the
    # quarantine face above now also carries the progressive-JPEG
    # members, so its row tracks the SOF2 decode cost round-over-round)
    "sim_ivfpq_index_adc",
]


def timed_runs(spark, name: str, sf_dir: str, n: int) -> list[float]:
    """Wall times of ``n`` runs of registry query ``name``, in run order.

    Each run rebuilds the DataFrame, so no shuffle stages are reused
    across runs, and ``fn()`` is INSIDE the timer: iterative queries
    (connected components) materialize eager checkpoints during plan
    build, so construction is real work, not just lazy plan assembly."""
    from trike_spark.cache import release_checkpoints
    from trike_spark.registry import REGISTRY

    runs: list[float] = []
    for _ in range(n):
        t0 = time.perf_counter()
        REGISTRY[name].fn(spark, sf_dir).collect()
        runs.append(time.perf_counter() - t0)
        # untimed cleanup: each run rebuilds its checkpoints, so release
        # the previous run's blocks or n runs accumulate n copies
        release_checkpoints()
    # Untimed inter-query isolation: drop any cached plans and nudge the
    # JVM to collect. Without this, queries late in the suite time GC
    # debt accumulated by 100+ prior jobs instead of their own plan
    # (observed: the last query's median 3x its min at sf0.1; standalone
    # the same query is flat).
    spark.catalog.clearCache()
    spark._jvm.System.gc()
    return runs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    # 1-minute load BEFORE any Spark work: >~ the core count means the
    # box was already busy and timings below carry ambient noise.
    try:
        loadavg = [round(v, 2) for v in os.getloadavg()]
    except OSError:
        loadavg = None

    from trike_spark.registry import REGISTRY, load_all_query_modules
    from trike_spark.session import get_spark, task_slots

    load_all_query_modules()
    spark = get_spark("trike_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    names = [n for n in HEADLINE if n in REGISTRY]
    # Test hook: SPARK_GRAFT_BENCH_ONLY="a,b" restricts the suite so the
    # output-contract test can exercise the real code path in seconds.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        wanted = {w.strip() for w in only.split(",") if w.strip()}
        names = [n for n in names if n in wanted]

    from trike_spark.cache import release_checkpoints

    # Warm-up pass: JVM JIT, whole-stage codegen compile, and the session's
    # parquet schema cache (trike_spark.io.load_table infers each table's
    # schema once per session). We benchmark steady-state execution, which
    # is what a long-lived cluster sees; cold-start is a one-time cost
    # amortized over a session.
    for name in names:
        REGISTRY[name].fn(spark, sf_dir).collect()
        release_checkpoints()

    # n timed runs per query (default 5): single-run timings in this
    # container are noisy (±30%), and best-of-2 could not distinguish noise
    # from regression (round-2 verdict). min = the query's actual cost;
    # median = what a user typically sees — both are persisted so
    # round-over-round deltas are adjudicable with data.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    for name in names:
        runs = sorted(timed_runs(spark, name, sf_dir, n_runs))
        timings[name] = round(runs[0], 3)
        mid = len(runs) // 2
        med = runs[mid] if len(runs) % 2 else (runs[mid - 1] + runs[mid]) / 2
        medians[name] = round(med, 3)

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "runs_per_query": n_runs,
        "sf": sf,
        "loadavg": loadavg,
        # task slots of the session's master: the host the timings are from
        "cpus": task_slots(spark.sparkContext.master),
    }
    print(json.dumps(payload))
    # The driver records only the stdout TAIL (2000 chars), which truncates
    # the per-query record once the suite is large (r6 verdict item 7).
    # Persist the complete JSON beside the round artifacts too; round is
    # taken from SPARK_GRAFT_ROUND when the driver sets it, else "local".
    # A SPARK_GRAFT_BENCH_ONLY run is a partial suite (contract tests,
    # quick spot checks): never let it overwrite a full round artifact.
    if only:
        return
    rnd = os.environ.get("SPARK_GRAFT_ROUND", "local")
    out = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), f"BENCH_LOCAL_r{rnd}.json"
    )
    try:
        with open(out, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError:
        pass  # read-only checkout: stdout line above is still complete


if __name__ == "__main__":
    main()
