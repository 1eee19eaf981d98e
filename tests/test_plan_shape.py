"""Plan-shape regression tests: the physical properties that make these
queries survive a 100x scale-up are asserted, not assumed."""

from __future__ import annotations

from trike_spark import plans
from trike_spark.queries.relational import q1_pricing_summary, q5_revenue_by_nation
from trike_spark.queries.joins import join_asof_event_order, join_inner_big_orders

SF_DIR = "/root/testdata/sf0.001"


def test_q1_filter_pushed_to_scan(spark):
    df = q1_pricing_summary(spark, SF_DIR)
    assert plans.has_pushed_filter(df, "l_shipdate"), plans.formatted_plan(df)


def test_q1_column_pruning(spark):
    df = q1_pricing_summary(spark, SF_DIR)
    schemas = plans.read_schemas(df)
    assert schemas, "no ReadSchema found"
    # only the 7 referenced columns are read, not all 11
    assert "l_orderkey" not in schemas[0]
    assert "l_partkey" not in schemas[0]


def test_q5_dims_broadcast_no_fact_shuffle_join(spark):
    """lineitem must never be the build side of a shuffle join: all dim
    joins broadcast; the only exchanges are for the final small agg."""
    df = q5_revenue_by_nation(spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 2, plans.formatted_plan(df)


def test_inner_join_pushes_selective_filter(spark):
    df = join_inner_big_orders(spark, SF_DIR)
    assert plans.has_pushed_filter(df, "o_totalprice")
    assert plans.broadcast_join_count(df) >= 2


def test_q1_partial_aggregation_before_exchange(spark):
    """Map-side combine: the shuffle must carry pre-aggregated rows
    (partial_sum), never raw lineitem rows."""
    import io
    from contextlib import redirect_stdout

    df = q1_pricing_summary(spark, SF_DIR)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("simple")
    plan = buf.getvalue()
    assert "partial_sum" in plan
    # partial agg appears below (after in text) the Exchange
    assert plan.index("Exchange") < plan.index("partial_sum")


def test_tfidf_broadcasts_vocabulary(spark):
    from trike_spark.queries.text import text_tfidf_top3

    df = text_tfidf_top3(spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 1, plans.formatted_plan(df)


def test_ivf_broadcasts_centroids(spark):
    from trike_spark.queries.vectors import sim_ivf_search

    df = sim_ivf_search(spark, SF_DIR)
    assert plans.formatted_plan(df).count("BroadcastExchange") >= 1


def test_ivf_index_probe_prunes_partitions_dynamically(spark):
    """The materialized-index probe must read ONLY the probed cells: the
    members scan (parquet partitioned by cell) carries a dynamic-pruning
    subquery fed by the broadcast best-cell set, so at scale a probe
    touches 1 of ~√n cell directories instead of the whole index."""
    from trike_spark.queries.vectors import sim_ivf_index_probe

    df = sim_ivf_index_probe(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    # and the results keep matching the rebuild-per-call face exactly
    from trike_spark.queries.vectors import sim_ivf_search

    a = {tuple(r) for r in df.collect()}
    b = {tuple(r) for r in sim_ivf_search(spark, SF_DIR).collect()}
    assert a == b


def test_ivf_index_multiprobe_prunes_partitions_dynamically(spark):
    """The nprobe>1 serving path keeps the index read discipline: the
    members scan's dynamic-pruning subquery admits NPROBE partitions per
    query (still fed by a broadcast probe set), and results match the
    rebuild-per-call multiprobe face exactly."""
    from trike_spark.queries.vectors import (
        sim_ivf_index_multiprobe,
        sim_ivf_multiprobe,
    )

    df = sim_ivf_index_multiprobe(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    a = {tuple(r) for r in df.collect()}
    b = {tuple(r) for r in sim_ivf_multiprobe(spark, SF_DIR).collect()}
    assert a == b


def test_ivfpq_index_adc_prunes_partitions_dynamically(spark):
    """The PQ serving path must inherit the IVF index's read discipline:
    the pq_codes scan (parquet partitioned by cell) carries a
    dynamic-pruning subquery from the broadcast best-cell set, and the
    codebook decode is a broadcast join — per-query bytes are
    cell-occupancy x M codes, never the corpus."""
    from trike_spark.queries.vectors import sim_ivfpq_adc_topk, sim_ivfpq_index_adc

    df = sim_ivfpq_index_adc(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    # the only loop joins are the bounded broadcast crosses against the
    # O(n_cells) centroid table (the sim_ivf_search pattern); a true
    # unbounded cartesian is banned suite-wide by the plan lint
    assert "CartesianProduct" not in plan, plan
    # and the index-served scores match the rebuild-per-call face exactly
    a = {tuple(r) for r in df.collect()}
    b = {tuple(r) for r in sim_ivfpq_adc_topk(spark, SF_DIR).collect()}
    assert a == b


def test_embedding_cosine_pairs_no_nested_loop(spark):
    """The exact all-pairs op must distribute via the grid equality join:
    no BroadcastNestedLoopJoin / CartesianProduct anywhere in the plan."""
    from trike_spark.queries.dedup import dedup_embedding_cosine_pairs

    plan = plans.plan_tree(dedup_embedding_cosine_pairs(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_embedding_lsh_pairs_bucket_equality_join(spark):
    """The LSH candidate path is a bucket-equality join, never a loop."""
    from trike_spark.queries.dedup import dedup_embedding_lsh_cosine_pairs

    plan = plans.plan_tree(dedup_embedding_lsh_cosine_pairs(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_connected_components_constant_plan_depth(spark):
    """Each CC iteration must localCheckpoint: the returned labels' plan
    reads materialized blocks (ExistingRDD scan), not a 20-iteration-deep
    join lineage — the r1 O(d²)-recompute anti-pattern."""
    from trike_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], ["doc_a", "doc_b"]
    )
    labels = connected_components(edges, src="doc_a", dst="doc_b", max_iter=20)
    plan = plans.plan_tree(labels)
    assert "ExistingRDD" in plan or "LocalTableScan" in plan, plan
    # lineage truncated: no joins survive into the returned plan
    assert "Join" not in plan, plan
    got = {(r.node, r.lbl) for r in labels.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (20, 20), (21, 20)}


def test_asof_join_no_event_shuffle(spark):
    """The event side must reach the result without a repartition exchange:
    only broadcast exchanges (dimension) are allowed to touch it."""
    df = join_asof_event_order(spark, SF_DIR)
    plan = plans.formatted_plan(df)
    assert plan.count("BroadcastExchange") >= 1
    # the events scan feeds a BroadcastHashJoin / BroadcastNestedLoopJoin,
    # never a SortMergeJoin
    assert plans.sort_merge_join_count(df) == 0, plan


def test_contamination_broadcasts_benchmark_side(spark):
    """The corpus side must probe a broadcast trigram set, never shuffle
    for a SortMergeJoin against the benchmark."""
    from trike_spark.queries.curation import curation_contamination_trigram

    df = curation_contamination_trigram(spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 1, plans.formatted_plan(df)
    assert plans.sort_merge_join_count(df) == 0, plans.formatted_plan(df)


def test_uniform_sample_is_take_ordered(spark):
    """Fixed-N sampling must run as TakeOrderedAndProject (per-partition
    top-N + driver merge), never a global Sort of the corpus."""
    from trike_spark.queries.curation import curation_uniform_fixed_n

    plan = plans.plan_tree(curation_uniform_fixed_n(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_pack_sequences_window_is_partitioned(spark):
    """The packing cumsum must never be a single-partition global window:
    every Window's partition spec carries the shard key."""
    from trike_spark.queries.curation import curation_pack_sequences

    plan = plans.formatted_plan(curation_pack_sequences(spark, SF_DIR))
    assert "SinglePartition" not in plan, plan


def test_bloom_bits_broadcast_to_probe_side(spark):
    """The bit set broadcasts to the probe side; since the K hash legs
    collapsed to one explode, exactly one broadcast join remains (it was
    >= 3 when each hash function probed through its own union leg)."""
    from trike_spark.queries.sketches import sketch_bloom_membership

    df = sketch_bloom_membership(spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 1, plans.formatted_plan(df)
    assert plans.sort_merge_join_count(df) == 0, plans.formatted_plan(df)


def test_countmin_partial_agg_before_exchange(spark):
    """The CMS cell build must map-side combine: the shuffle carries
    (cell, partial_count), never raw token rows."""
    import io
    from contextlib import redirect_stdout

    from trike_spark.queries.sketches import sketch_countmin_heavyhitters

    df = sketch_countmin_heavyhitters(spark, SF_DIR)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("simple")
    plan = buf.getvalue()
    assert "partial_count" in plan, plan


def test_q2_dims_broadcast_correlation_decorrelated(spark):
    """The correlated min must decorrelate into aggregations + joins with
    every dimension broadcast — never a per-part re-execution or a
    cartesian. The only shuffles are the two (partkey, suppkey) aggs."""
    from trike_spark.queries.relational import q2_min_cost_supplier

    df = q2_min_cost_supplier(spark, SF_DIR)
    tree = plans.plan_tree(df)
    assert "CartesianProduct" not in tree
    assert plans.broadcast_join_count(df) >= 3, tree


def test_q16_not_in_is_broadcast_anti_join(spark):
    from trike_spark.queries.relational import q16_supplier_part_counts

    df = q16_supplier_part_counts(spark, SF_DIR)
    tree = plans.plan_tree(df)
    assert "LeftAnti" in tree, tree
    assert plans.broadcast_join_count(df) >= 2, tree


def test_q21_semi_anti_are_equi_joins_not_cartesian(spark):
    """EXISTS/NOT EXISTS ride the l_orderkey equi-key with the supplier
    inequality as a residual: both must plan as hash/sort-merge semi and
    anti joins, never BroadcastNestedLoop/Cartesian over lineitem."""
    from trike_spark.queries.relational import q21_sole_blame_supplier

    df = q21_sole_blame_supplier(spark, SF_DIR)
    tree = plans.plan_tree(df)
    assert "CartesianProduct" not in tree
    assert "LeftSemi" in tree, tree
    assert "LeftAnti" in tree, tree


def test_q7_dual_role_nation_broadcasts(spark):
    from trike_spark.queries.relational import q7_volume_shipping

    df = q7_volume_shipping(spark, SF_DIR)
    tree = plans.plan_tree(df)
    assert "CartesianProduct" not in tree
    assert plans.broadcast_join_count(df) >= 2, tree


def test_q18_in_over_having_is_semi_join(spark):
    from trike_spark.queries.relational import q18_large_volume_customers

    df = q18_large_volume_customers(spark, SF_DIR)
    assert "LeftSemi" in plans.plan_tree(df)


def test_q17_brand_filter_pushed_to_part_scan(spark):
    from trike_spark.queries.relational import q17_small_quantity_revenue

    df = q17_small_quantity_revenue(spark, SF_DIR)
    assert plans.has_pushed_filter(df, "p_brand")


def test_q22_not_exists_is_anti_join(spark):
    from trike_spark.queries.relational import q22_idle_rich_customers

    df = q22_idle_rich_customers(spark, SF_DIR)
    assert "LeftAnti" in plans.plan_tree(df)


def test_countmin_single_pass_sketch_build(spark):
    """r4 rewrite: all D CMS hash rows build in ONE token-stream pass
    (posexplode over the cell-id array), so the whole query is exactly two
    scans (sketch build + exact ground truth), at most three exchanges,
    and one broadcast probe join — not one groupBy+join per hash row."""
    from trike_spark.queries.sketches import sketch_countmin_heavyhitters

    df = sketch_countmin_heavyhitters(spark, SF_DIR)
    assert plans.scan_count(df) == 2, plans.formatted_plan(df)
    assert plans.shuffle_count(df) <= 3, plans.formatted_plan(df)
    assert plans.broadcast_join_count(df) == 1, plans.formatted_plan(df)


def test_contamination_filters_before_explode(spark):
    """The bench/train split must happen BELOW each Generate: exploding
    first would blow the full corpus up once per join branch (2x trigram
    volume). Every Generate in the plan sits directly above its branch's
    split filter."""
    from trike_spark.queries.curation import curation_contamination_trigram

    df = curation_contamination_trigram(spark, SF_DIR)
    tree = plans.plan_tree(df)
    lines = tree.splitlines()
    gen_lines = [i for i, l in enumerate(lines) if "Generate" in l]
    assert gen_lines, tree
    for i in gen_lines:
        below = "\n".join(lines[i + 1 : i + 3])
        assert "Filter" in below, f"Generate without pre-filter:\n{tree}"


def test_q8_q9_dims_broadcast_no_smj(spark):
    """The round-4 TPC-H additions keep the fact-side contract: every
    dimension join broadcasts (no sort-merge joins anywhere), and the only
    exchanges are the aggregations + (q9) the ps emulation shuffle."""
    from trike_spark.queries.relational import (
        q8_national_market_share,
        q9_product_type_profit,
    )

    q8 = q8_national_market_share(spark, SF_DIR)
    assert plans.sort_merge_join_count(q8) == 0, plans.formatted_plan(q8)
    assert plans.broadcast_join_count(q8) >= 3, plans.formatted_plan(q8)
    q9 = q9_product_type_profit(spark, SF_DIR)
    assert plans.sort_merge_join_count(q9) == 0, plans.formatted_plan(q9)
    assert plans.broadcast_join_count(q9) >= 3, plans.formatted_plan(q9)
    assert plans.shuffle_count(q9) <= 3, plans.formatted_plan(q9)


def test_scd2_intervals_single_shuffle(spark):
    """The SCD2 build must plan exactly ONE Exchange: run collapse and
    interval stitching are window passes over the same user_id
    partitioning, never a re-shuffling groupBy on (user, run)."""
    from trike_spark.queries.events import events_scd2_intervals

    df = events_scd2_intervals(spark, SF_DIR)
    assert plans.shuffle_count(df) == 1, plans.plan_tree(df)


def test_sq_int8_broadcasts_scalar_and_query_set(spark):
    """Int8 ANN: the global max-abs scalar and the query set both arrive
    via broadcast (BroadcastNestedLoopJoin) — the corpus scan is never a
    shuffle-join side."""
    from trike_spark.queries.vectors import sim_sq_int8_topk

    df = sim_sq_int8_topk(spark, SF_DIR)
    tree = plans.plan_tree(df)
    assert tree.count("BroadcastNestedLoopJoin") >= 2, tree
    assert plans.sort_merge_join_count(df) == 0, tree


def test_funnel_single_shuffle(spark):
    """Three chained funnel stages + the per-user collapse must share ONE
    user_id exchange — stages add window passes, never shuffles."""
    from trike_spark.queries.events import events_funnel_conversion

    df = events_funnel_conversion(spark, SF_DIR)
    assert plans.shuffle_count(df) == 1, plans.plan_tree(df)


def test_cdc_upsert_no_fact_broadcast(spark):
    """CDC merge: both dedup legs are row_number windows on user_id and the
    full-outer merge joins on that key — no nested-loop join anywhere."""
    from trike_spark.queries.events import events_cdc_upsert

    df = events_cdc_upsert(spark, SF_DIR)
    tree = plans.plan_tree(df)
    assert "BroadcastNestedLoopJoin" not in tree, tree
    assert "CartesianProduct" not in tree, tree


def test_repetition_signals_no_shuffle_no_python(spark):
    """Repetition signals are pure per-row array expressions: zero
    exchanges, zero Python/Arrow stages — the whole pass is codegen."""
    from trike_spark.queries.text import text_repetition_signals

    df = text_repetition_signals(spark, SF_DIR)
    tree = plans.plan_tree(df)
    assert plans.shuffle_count(df) == 0, tree
    assert "ArrowEvalPython" not in tree and "MapInPandas" not in tree, tree


def test_vocab_coverage_broadcasts_vocabulary(spark):
    """The top-V vocabulary must broadcast to the token stream: the corpus
    never shuffles on token for the membership probe (the only wide
    exchanges are the tiny vocab top-V and the per-doc count)."""
    from trike_spark.queries.text import text_vocab_coverage

    df = text_vocab_coverage(spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 1, plans.formatted_plan(df)


def test_unigram_model_broadcasts(spark):
    """The unigram model (vocab-sized) broadcasts to the scoring pass."""
    from trike_spark.queries.text import text_unigram_logprob

    df = text_unigram_logprob(spark, SF_DIR)
    assert plans.broadcast_join_count(df) >= 1, plans.formatted_plan(df)


def test_chunk_overlap_shuffle_free_codegen(spark):
    """The chunker is a generator inside the scan stage: zero exchanges,
    zero Python stages — chunk fan-out must not cost a shuffle."""
    from trike_spark.queries.curation import curation_chunk_overlap

    df = curation_chunk_overlap(spark, SF_DIR)
    tree = plans.plan_tree(df)
    assert plans.shuffle_count(df) == 0, tree
    assert "ArrowEvalPython" not in tree and "MapInPandas" not in tree, tree


def test_retention_cohorts_no_nested_loop(spark):
    """Retention joins events⋈firsts on user_id — an equi-join (SMJ or
    broadcast under AQE), never a nested-loop/cartesian shape."""
    from trike_spark.queries.events import events_retention_cohorts

    df = events_retention_cohorts(spark, SF_DIR)
    tree = plans.plan_tree(df)
    assert "BroadcastNestedLoopJoin" not in tree, tree
    assert "CartesianProduct" not in tree, tree


def test_kmeans_refine_broadcasts_centroids(spark):
    """Lloyd assignment: the K centroid vectors broadcast to the embedding
    scan (BroadcastNestedLoopJoin over the tiny centroid set is the
    expected shape for the crossJoin); the big side must not be the build
    side of any shuffle join."""
    from trike_spark.queries.vectors import sim_kmeans_refine

    df = sim_kmeans_refine(spark, SF_DIR)
    tree = plans.plan_tree(df)
    assert "BroadcastNestedLoopJoin" in tree or plans.broadcast_join_count(df) >= 1, tree
    assert "CartesianProduct" not in tree, tree


def test_hll_registers_partial_agg_before_exchange(spark):
    """The HLL register build must map-side combine: the shuffle carries
    (group, reg, partial max-rho), never raw event rows."""
    import io as _io
    from contextlib import redirect_stdout

    from trike_spark.queries.sketches import sketch_hll_distinct

    df = sketch_hll_distinct(spark, SF_DIR)
    buf = _io.StringIO()
    with redirect_stdout(buf):
        df.explain("simple")
    plan = buf.getvalue()
    assert "partial_max" in plan, plan
    assert plan.index("Exchange") < plan.index("partial_max")


def test_pq_adc_broadcasts_codebook_and_queries(spark):
    """PQ: both small sides (the one-row codebook pack, the per-query ADC
    lookup rows) arrive by broadcast nested-loop — the corpus never
    build-sides a shuffle join, nothing degenerates to an unbroadcast
    cartesian product, and the ONLY exchange left is the final per-query
    top-k window (code assignment and ADC scoring are narrow passes)."""
    from trike_spark.queries.vectors import sim_pq_adc_topk

    df = sim_pq_adc_topk(spark, SF_DIR)
    tree = plans.plan_tree(df)
    assert tree.count("BroadcastNestedLoopJoin") >= 2, tree
    assert "CartesianProduct" not in tree, tree
    assert plans.shuffle_count(df) <= 1, tree
    assert plans.sort_merge_join_count(df) == 0, tree


def test_bloom_prefilter_probe_before_exchange(spark):
    """The Bloom probe must be a scan-side filter: the bitset map arrives
    by broadcast (never a shuffle of orders against the bitset), and the
    dim join itself is also broadcast — orders never shuffles for the
    prefilter or the join, only for the final aggregation."""
    from trike_spark.queries.joins import join_bloom_prefilter_revenue

    df = join_bloom_prefilter_revenue(spark, SF_DIR)
    tree = plans.plan_tree(df)
    # two broadcasts: the 1-row bloom map (nested-loop/cross) + the dim join
    assert "BroadcastNestedLoopJoin" in tree, tree
    assert plans.broadcast_join_count(df) >= 1, tree
    assert plans.sort_merge_join_count(df) == 0, tree


def test_equidepth_heavy_window_is_band_partitioned(spark):
    """The fact-table window must be partitioned by band (parallelism =
    #bands); the only global-order window runs over the tiny band-stats
    side. Offsets come back by broadcast, not a fact shuffle."""
    from trike_spark.queries.windows import window_equidepth_histogram

    df = window_equidepth_histogram(spark, SF_DIR)
    plan = plans.formatted_plan(df)
    # the per-row rank window is hash-partitioned by band
    assert "hashpartitioning(band" in plan, plan
    assert plans.broadcast_join_count(df) >= 1, plan


def test_pagerank_constant_plan_depth_and_edge_reuse(spark):
    """Iterative PageRank must not grow the plan with the iteration count:
    edges are checkpointed once (scan count stays bounded) and each round
    shuffles (node, score) pairs only."""
    from trike_spark.queries.graph_analytics import graph_pagerank_fixedpoint

    df = graph_pagerank_fixedpoint(spark, SF_DIR)
    # edges come from the checkpoint: orders/lineitem parquet scans do NOT
    # appear once per iteration (3 rounds × 2 joins would be ≥6 scans)
    assert plans.scan_count(df) <= 2, plans.formatted_plan(df)
    from trike_spark.cache import release_checkpoints

    release_checkpoints()


def test_profile_orders_single_scan_single_expand(spark):
    """The profiler's whole point: ONE scan feeds all five per-column
    stat families (the oracle's naive shape is five scans)."""
    from trike_spark.queries.scans import scan_profile_orders

    df = scan_profile_orders(spark, SF_DIR)
    assert plans.scan_count(df) == 1, plans.formatted_plan(df)


def test_weighted_sample_topk_no_global_sort(spark):
    """Top-k by draw must be TakeOrdered (per-partition heads), never a
    full Exchange+Sort of the ticket explosion."""
    from trike_spark.queries.curation import curation_weighted_sample

    df = curation_weighted_sample(spark, SF_DIR)
    tree = plans.plan_tree(df)
    assert "TakeOrderedAndProject" in tree, tree


def test_max_by_top1_partial_agg_no_window(spark):
    """The whole point of the max_by form: top-1-per-group as ONE
    aggregation with a PARTIAL stage before the exchange — the shuffle
    carries one (key, argmax-state) row per group per task, never the
    raw rows, and no Window appears (the row_number form shuffles and
    sorts every row). Spark picks SortAggregate for the struct-ordered
    buffer; its sorts are on the group key over partial state, which is
    exactly the cheap side of the trade."""
    from trike_spark.queries.joins import join_top_order_max_by

    df = join_top_order_max_by(spark, SF_DIR)
    tree = plans.plan_tree(df)
    assert "Window" not in tree, tree
    assert "partial_max_by" in plans.formatted_plan(df), plans.formatted_plan(df)
    assert tree.count("Exchange") == 1, tree


def test_nearest_join_is_sort_not_join(spark):
    """The sort-merge 1-NN form must contain NO data-sized join — the
    union + ordered fill IS the algorithm; a SortMergeJoin would mean
    the band-join formulation snuck back. Since round 6 the fills run
    banded (operators/banded.banded_fill), so the ONLY joins allowed are
    the two broadcasts of the band-stats offset tables, and the heavy
    windows are band-partitioned."""
    from trike_spark.queries.joins import join_nearest_acctbal

    df = join_nearest_acctbal(spark, SF_DIR)
    tree = plans.plan_tree(df)
    assert "SortMergeJoin" not in tree, tree
    assert "Window" in tree, tree
    assert plans.broadcast_join_count(df) <= 2, tree
    assert any("band" in s for s in plans.window_partition_specs(df) if s)


def test_bm25_topk_is_take_ordered_with_broadcasts(spark):
    """BM25's scale contract: df/stats broadcast (no shuffle of the hit
    stream for scoring) and the final top-k is TakeOrderedAndProject,
    never a global Exchange+Sort."""
    from trike_spark.queries.text import text_bm25_topk

    df = text_bm25_topk(spark, SF_DIR)
    tree = plans.plan_tree(df)
    assert "TakeOrderedAndProject" in tree, tree
    assert tree.count("BroadcastExchange") >= 2, tree


def test_ab_lift_two_aggregations_no_join(spark):
    """The experiment readout is aggregation-only: a narrow map, the
    per-arm rollup, and the 1-row pivot — no join of any kind."""
    from trike_spark.queries.events import events_ab_lift

    df = events_ab_lift(spark, SF_DIR)
    tree = plans.plan_tree(df)
    for node in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert node not in tree, tree


# --- round-6 banded rewrites: the five r5-flagged global-window faces -------
# Each face's HEAVY window (over facts / the dimension) must be partitioned
# by its band; the only unpartitioned Window nodes left are the band-STATS
# prefix windows (a few hundred rows — the same sanctioned shape as
# window_equidepth_histogram's offsets pass). plans.unpartitioned_window_count
# is the census "gwin" metric, so any new global window fails the monotone
# census gate repo-wide.


def _banded_shape(df, expected_gwin):
    from trike_spark import plans as P

    specs = P.window_partition_specs(df)
    assert any("band" in s for s in specs if s), specs
    assert P.unpartitioned_window_count(df) == expected_gwin, specs


def test_lateness_frontier_is_band_partitioned(spark):
    """Running-max frontier decomposes over md5-prefix bands: per-band
    running max partitioned BY BAND + broadcast prefix maxima; one
    unpartitioned window remains, over the 256-row band-stats table."""
    from trike_spark.queries.events import events_lateness_report

    _banded_shape(events_lateness_report(spark, SF_DIR), 1)


def test_mann_whitney_rank_is_band_partitioned(spark):
    from trike_spark.queries.aggregates import agg_mann_whitney_u

    _banded_shape(agg_mann_whitney_u(spark, SF_DIR), 1)


def test_rfm_ntiles_are_band_partitioned(spark):
    """Three exact ntiles → three banded passes, each materialized before
    the next (a pass references its input twice, so unmaterialized
    chaining duplicated the orders scan 2³ times). Only the final pass is
    in the visible plan: 1 unpartitioned window, over its band-stats
    table; the earlier passes run behind checkpoints with the same
    banded shape."""
    from trike_spark.cache import release_checkpoints
    from trike_spark.queries.aggregates import agg_rfm_segmentation

    _banded_shape(agg_rfm_segmentation(spark, SF_DIR), 1)
    release_checkpoints()


def test_heaps_cumulatives_are_band_partitioned(spark):
    from trike_spark.queries.text import text_heaps_law_fit

    _banded_shape(text_heaps_law_fit(spark, SF_DIR), 1)


def test_kmv_sketch_is_two_stage_takeordered(spark):
    """Per-side K-smallest must run TakeOrdered-style: stage-1 window
    keyed by (side, partition id), stage-2 merge keyed by side — no
    unpartitioned window anywhere in the visible plan (the checkpointed
    union merge runs over the ≤2K side-sketch rows)."""
    from trike_spark.cache import release_checkpoints
    from trike_spark.queries.sketches import sketch_kmv_setops

    df = sketch_kmv_setops(spark, SF_DIR)
    from trike_spark import plans as P

    assert P.unpartitioned_window_count(df) == 0, P.window_partition_specs(df)
    release_checkpoints()


def test_gini_and_pareto_ranks_are_band_partitioned(spark):
    """The customer-dimension rank/cumsum windows run banded — at
    LLM-corpus scale the 'dimension' is billions of rows."""
    from trike_spark.queries.aggregates import (
        agg_gini_spend,
        agg_pareto_revenue_share,
    )

    _banded_shape(agg_gini_spend(spark, SF_DIR), 1)
    # pareto fuses rank + cumsum into ONE stats pass (banded_rank_cumsum)
    _banded_shape(agg_pareto_revenue_share(spark, SF_DIR), 1)


def test_decile_lift_ntile_is_band_partitioned(spark):
    """User-dimension decile cut via banded_ntile; the two remaining
    unpartitioned windows run over the 10-row decile table + band stats."""
    from trike_spark.queries.events import events_decile_lift_table

    _banded_shape(events_decile_lift_table(spark, SF_DIR), 2)


def test_uncertainty_sample_is_take_ordered(spark):
    """Active-learning top-K must plan as TakeOrderedAndProject; the rank
    window numbers only the K surviving rows (bounded pool)."""
    from trike_spark import plans as P
    from trike_spark.queries.curation import curation_uncertainty_sample

    df = curation_uncertainty_sample(spark, SF_DIR)
    assert "TakeOrderedAndProject" in P.plan_tree(df), P.plan_tree(df)


def test_filtered_topk_pushes_label_and_takeordered(spark):
    """Filtered ANN, pre-filter leg: the label predicate must reach the
    parquet scan and both legs must plan as TakeOrderedAndProject — the
    only rank window runs over the bounded shortlist pool."""
    from trike_spark.queries.vectors import sim_filtered_topk

    df = sim_filtered_topk(spark, SF_DIR)
    assert plans.has_pushed_filter(df, "label"), plans.formatted_plan(df)
    assert "TakeOrderedAndProject" in plans.plan_tree(df)
    assert plans.unpartitioned_window_count(df) == 1  # 10-row pool rank


# --- gwin allowlist: every unpartitioned window consumes a bounded input ------

import json
import os

import pytest

_CENSUS_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "PLAN_CENSUS.json"
)
with open(_CENSUS_PATH) as _f:
    _CENSUS = json.load(_f)
_GWIN_NAMES = sorted(n for n, v in _CENSUS.items() if v.get("gwin", 0) > 0)

# Operators that bound the cardinality flowing INTO a single-task window:
# an aggregation (band stats / calendar cell / dimension rollup / sketch
# merge — one row per group of a bounded domain) or a top-k. A scan of a
# bounded dimension table (nation/region) also qualifies.
_BOUNDING_AGG = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")
_BOUNDING_TOPK = ("TakeOrderedAndProject", "GlobalLimit", "CollectLimit")
_BOUNDED_DIM_TABLES = ("nation", "region")


@pytest.mark.parametrize("name", _GWIN_NAMES)
def test_gwin_allowlist_windows_consume_bounded_inputs(spark, name):
    """The census gate is monotone (gwin can't grow), but this holds the
    REMAINING allowlist to its justification (SCALE.md "sanctioned
    unpartitioned windows"): walking each such window's leftmost input
    SPINE (the streamed data lineage — not any join branch, so a
    broadcast 1-row total crossJoined onto raw facts can't vouch for
    them), the first cardinality-shaping operator reached must be an
    aggregation-to-bounded-granularity, a top-k, or a bounded dim scan —
    the single task sees band-stats/cell/pool rows, never raw facts.
    Removing the banding from any allowlisted face fails here even though
    the monotone count gate alone wouldn't notice."""
    from trike_spark.cache import release_checkpoints
    from trike_spark.registry import REGISTRY, load_all_query_modules

    load_all_query_modules()
    df = REGISTRY[name].fn(spark, SF_DIR)
    spines = plans.unpartitioned_window_spines(df)
    scan_locs = plans.scan_locations(df)
    release_checkpoints()
    assert spines, f"{name}: census says gwin>0 but no unpartitioned window found"
    for spine in spines:
        verdict = "no bounding operator on the spine"
        for op, nid in spine:
            if op.startswith(_BOUNDING_AGG + _BOUNDING_TOPK):
                verdict = "bounded"
                break
            if op.startswith("Scan parquet"):
                loc = scan_locs.get(nid, "")
                if any(t in loc for t in _BOUNDED_DIM_TABLES):
                    verdict = "bounded"
                else:
                    verdict = f"raw fact scan reached first: {loc}"
                break
        assert verdict == "bounded", (
            f"{name}: unpartitioned window's input spine is unbounded "
            f"({verdict}); spine = {[op for op, _ in spine]}"
        )


def test_recall_faces_keep_rank_pushdown(spark):
    """Round-10 finding (OPTIMIZATION_r10.md §20): the two-leg recall
    faces rely on WindowGroupLimit's Partial mode BELOW the exchange —
    each leg shuffles ~top-k rows per query per map partition, not the
    full scored pair stream. A "fused" single-pass variant is locally
    faster but loses the pushdown and shuffles corpus×Q rows; this pins
    the shape so the fusion cannot silently return."""
    from trike_spark.queries.vectors import (
        sim_mips_reduction_check,
        sim_prefix_dim_recall,
        sim_sq_recall_at_k,
        sim_topk_bruteforce,
    )

    for fn in (
        sim_topk_bruteforce,
        sim_prefix_dim_recall,
        sim_mips_reduction_check,
        sim_sq_recall_at_k,
    ):
        df = fn(spark, SF_DIR)
        plan = plans.formatted_plan(df)
        assert "WindowGroupLimit" in plan, (fn.__name__, plan[:2000])
        assert ", Partial" in plan, (fn.__name__, plan[:2000])


def test_kmeans_refine_assignment_is_window_free(spark):
    """Round-10 rewrite (OPTIMIZATION_r10.md §15): Lloyd assignment is an
    in-row argmax against a broadcast centroid pack — the corpus×K
    row_number window (and its corpus-wide exchange) must not come back."""
    from trike_spark.queries.vectors import sim_kmeans_refine

    df = sim_kmeans_refine(spark, SF_DIR)
    assert "Window" not in plans.plan_tree(df), plans.plan_tree(df)
