"""Property tests for the round-5 faces, beyond the DuckDB oracle gate:
the threshold-top-k CERTIFICATE must imply exactness, the k-core output
must actually be a k-core, and IVF+PQ results must come from the probed
cell. All at sf0.001 (the smoke scale)."""

from __future__ import annotations

from collections import Counter

import pytest

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_threshold_topk_certificate_implies_exactness(spark):
    """proven_exact=true must mean the pruned answer EQUALS the exact
    top-k computed with no pruning (same tie-break)."""
    from trike_spark.queries.sketches import TPUT_K, sketch_threshold_topk

    out = sketch_threshold_topk(spark, SF_DIR).collect()
    assert out, "face returned no rows"
    proven = out[0]["proven_exact"]
    # exact top-k, no pruning anywhere
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    toks = F.split(F.col("text"), " ")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    exact = (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "bigram")
        .limit(TPUT_K)
        .collect()
    )
    if proven:
        assert [(r["bigram"], r["cnt"]) for r in sorted(out, key=lambda r: r["rank"])] == [
            (r["bigram"], r["cnt"]) for r in exact
        ]
    else:
        pytest.skip("certificate not provable at this SF — nothing to assert")


def test_kcore_counts_monotone_and_terminal_core_valid(spark):
    """Survivor counts never increase round-over-round, and every node in
    the final round's edge set keeps >= K neighbors inside it (when the
    trajectory has converged by the last round)."""
    from trike_spark.queries.graph_analytics import (
        KCORE_K,
        KCORE_ROUNDS,
        graph_kcore_peeling,
    )

    rows = {r["round"]: r for r in graph_kcore_peeling(spark, SF_DIR).collect()}
    assert set(rows) == set(range(KCORE_ROUNDS + 1))
    for r in range(1, KCORE_ROUNDS + 1):
        assert rows[r]["n_nodes"] <= rows[r - 1]["n_nodes"]
        assert rows[r]["n_edges"] <= rows[r - 1]["n_edges"]
    if rows[KCORE_ROUNDS]["n_nodes"] == rows[KCORE_ROUNDS - 1]["n_nodes"]:
        # converged: re-derive the terminal edge set and check min degree
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
            "o_orderkey", "o_custkey"
        )
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
            "l_orderkey", "l_suppkey"
        )
        e0 = (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .select("o_custkey", "l_suppkey")
            .distinct()
        )
        cnode = F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
        snode = F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
        edges = e0.select(cnode.alias("src"), snode.alias("dst")).unionAll(
            e0.select(snode.alias("src"), cnode.alias("dst"))
        )
        for _ in range(KCORE_ROUNDS):
            deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
            keep = deg.filter(F.col("d") >= KCORE_K).select(
                F.col("src").alias("node")
            )
            edges = (
                edges.join(keep.withColumnRenamed("node", "src"), "src")
                .join(keep.withColumnRenamed("node", "dst"), "dst")
                .select("src", "dst")
            )
        final_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        n_bad = final_deg.filter(F.col("d") < KCORE_K).count()
        assert n_bad == 0, "terminal induced subgraph is not a valid k-core"


def _peel_reference(edges: list[tuple[int, int]], k: int, rounds: int) -> list[tuple]:
    """Synchronous k-peeling in plain Python: (round, nodes, edges) per round."""
    out = []
    live = list(edges)
    for r in range(rounds + 1):
        deg = Counter(src for src, _ in live)
        out.append((r, len(deg), sum(deg.values())))
        keep = {n for n, d in deg.items() if d >= k}
        live = [(a, b) for a, b in live if a in keep and b in keep]
    return out


def test_kcore_census_matches_python_peel_on_a_cascade(spark):
    """A 4-cycle with a 4-node tail peels one tail node per round, and a
    star's hub loses its leaves in round 1 and itself after: the census
    must follow the reference peel through every round, which the purchase
    graph (flat after round 1 at every test SF) cannot show."""
    from trike_spark.cache import release_checkpoints
    from trike_spark.queries.graph_analytics import _kcore_census

    und = [(1, 2), (2, 3), (3, 4), (4, 1), (4, 5), (5, 6), (6, 7), (7, 8),
           (10, 11), (10, 12), (10, 13)]
    edges = [e for a, b in und for e in ((a, b), (b, a))]
    want = _peel_reference(edges, 2, 5)
    assert [n for _, n, _ in want] == [12, 7, 6, 5, 4, 4]  # cascades 3+ rounds
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(tuple(r) for r in _kcore_census(df, 2, 5).collect())
    release_checkpoints()
    assert got == want


def test_ivfpq_results_come_from_probed_cell(spark):
    """Every neighbor the compound index returns must be a member of the
    query's probed cell — the restriction that makes IVF+PQ cheap."""
    from trike_spark.queries.vectors import sim_ivfpq_adc_topk

    out = sim_ivfpq_adc_topk(spark, SF_DIR)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        F.col("vec_id").alias("n_vec_id"), F.col("label").alias("member_label")
    )
    joined = out.join(emb, "n_vec_id")
    n_outside = joined.filter(
        F.col("member_label") != F.col("probe_label")
    ).count()
    assert n_outside == 0
    assert out.count() > 0
