"""Graph analytics over the purchase graph (customers ↔ suppliers via
orders⋈lineitem) — PageRank, degrees, link prediction, LPA and its
modularity, BFS, k-core, harmonic centrality — plus the near-duplicate
graph's triangle census.

The reference has no graph surface; these extend the LLM-data-pipeline set
(web-graph-style quality signals — PageRank-weighted source scoring is the
classic crawl-prioritization input, cf. Common Crawl's harmonic-centrality
ranks) with the same engine rules as everything else here:

  * **Integer fixed-point arithmetic** (scores scaled by 10^6, integer
    division everywhere): BIGINT sums are order-independent, so the
    iterative computation hash-matches the DuckDB oracle exactly — no
    float drift across engines, partitionings, or AQE re-plans.
  * **Unrolled, bounded rounds** of node-keyed joins and aggregations —
    at 100 TB each round shuffles O(V) (node, value) pairs, never
    adjacency lists. One builder makes the edge set (``_purchase_edges``),
    which each face checkpoints once; ``_lpa_labels``, ``_bfs`` and
    ``_kcore_census`` hold the LPA rounds, the BFS frontier loop and the
    k-core peeling rounds.
  * Degree buckets via an explicit power-of-two CASE chain — integer
    comparisons only, no log2 float round-off at bucket edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from trike_spark import cache
from trike_spark.io import load_table
from trike_spark.registry import register

PR_SCALE = 1_000_000  # fixed-point score scale
PR_ITERS = 3
PR_BASE = 15 * PR_SCALE // 100  # (1 - d) · SCALE with d = 0.85

_DEG_BUCKETS = [1, 2, 4, 8, 16, 32, 64, 128, 256]


def _purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (customer, supplier) purchase pairs ``(c, s)`` from
    orders⋈lineitem — the oracle's ``e0``."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )


def _purchase_edges(
    spark: SparkSession, sf_dir: str, long_ids: bool = False
) -> DataFrame:
    """Symmetric purchase edges ``(src, dst)`` — the oracle's ``edges``.

    Node ids are the oracle's 'c…'/'s…' strings, or with ``long_ids``
    custkey·2 / suppkey·2+1: 8-byte keys for faces whose loops shuffle
    and join node ids every round (the narrower-types move, guide §2.3).

    Symmetrized with ONE reference to the pairs: explode a per-row
    two-struct array instead of ``unionAll(select(c→s), select(s→c))``.
    Spark does not CSE across union branches, so the union form evaluated
    the orders⋈lineitem distinct subtree twice — with exchange reuse the
    shuffles dedup at runtime, but the post-exchange distinct aggregation
    and projection still ran once per branch. Identical directed-edge
    multiset either way (guide §2.4, the _grid_tag move)."""
    if long_ids:
        cnode = F.col("c").cast("long") * 2
        snode = F.col("s").cast("long") * 2 + 1
    else:
        cnode = F.concat(F.lit("c"), F.col("c").cast("string"))
        snode = F.concat(F.lit("s"), F.col("s").cast("string"))
    return _purchase_pairs(spark, sf_dir).select(
        F.explode(
            F.array(
                F.struct(cnode.alias("src"), snode.alias("dst")),
                F.struct(snode.alias("src"), cnode.alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def _sql_edges() -> str:
    """Symmetric purchase edges with namespaced node ids ('c…' / 's…')."""
    return """
    e0 AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    edges AS (
      SELECT 'c' || CAST(c AS VARCHAR) AS src, 's' || CAST(s AS VARCHAR) AS dst FROM e0
      UNION ALL
      SELECT 's' || CAST(s AS VARCHAR), 'c' || CAST(c AS VARCHAR) FROM e0)
    """


def _sql_pr_iter(prev: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT n.node,
             CAST({PR_BASE} + (85 * COALESCE(SUM(p.score // d.deg), 0)) // 100
                  AS BIGINT) AS score
      FROM nodes n
      LEFT JOIN edges e ON e.dst = n.node
      LEFT JOIN {prev} p ON p.node = e.src
      LEFT JOIN outdeg d ON d.src = e.src
      GROUP BY n.node)
    """


@register(
    "graph_pagerank_fixedpoint",
    f"""
    WITH {_sql_edges()},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    s0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS score FROM nodes),
    {','.join(_sql_pr_iter(f's{i}', f's{i + 1}') for i in range(PR_ITERS))}
    SELECT node, score FROM s{PR_ITERS}
    """,
    doc=(
        f"PageRank ({PR_ITERS} unrolled rounds, d=0.85) over the symmetric "
        "customer↔supplier purchase graph in 10^6-scaled integer "
        "fixed-point — BIGINT-exact, so the iterative result hash-matches."
    ),
)
def graph_pagerank_fixedpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PageRank with hash-verifiable determinism: scores are
    10^6-scaled BIGINTs, contributions use integer division
    (score div outdeg), and the damping update is
    base + (85·Σcontrib) div 100 — every operation exact, so three
    iterations on Spark and on DuckDB produce identical bits.

    Scale shape: the edge set (computed once, checkpointed, reused by all
    rounds) and the per-round shuffles all key on node id; each round is
    exactly one join (scores onto edge sources) plus one aggregation
    (summing contributions at destinations) plus one left join back onto
    the node list so sink/in-edge-less nodes keep the base score. State
    per round is one (node, score) row per node — the O(V) frontier, never
    O(E) — and plan depth is constant per round. Symmetric edges make the
    graph non-bipartite so mass genuinely mixes across rounds (customers'
    ranks differ by purchase breadth, suppliers' by customer reach)."""
    # One materialization of the LONG-id edges (8-byte keys in every round's
    # shuffles and joins; the strings return in the final projection only)
    # feeds every round's join — without it the orders⋈lineitem distinct
    # would recompute 2·ITERS+1 times. The out-degree rides INSIDE the
    # checkpoint as a whole-partition window count (one shuffle, paid once)
    # instead of a separate outdeg table joined back every round (ITERS
    # extra joins of the full edge list).
    edges = cache.checkpoint(
        _purchase_edges(spark, sf_dir, long_ids=True).withColumn(
            "deg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        )
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()

    scores = nodes.select("node", F.lit(PR_SCALE).cast("long").alias("score"))
    for _ in range(PR_ITERS):
        contrib = edges.join(scores, edges.src == scores.node).select(
            F.col("dst"), F.expr("score div deg").alias("contrib")
        )
        incoming = contrib.groupBy("dst").agg(F.sum("contrib").alias("inc"))
        scores = nodes.join(incoming, nodes.node == incoming.dst, "left").select(
            "node",
            (
                F.lit(PR_BASE)
                + F.expr("(85 * coalesce(inc, CAST(0 AS BIGINT))) div 100")
            ).cast("long").alias("score"),
        )
    return scores.select(
        F.concat(
            F.when(F.col("node") % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
            F.expr("node div 2").cast("string"),
        ).alias("node"),
        "score",
    )


def _bucket_case_sql(col: str) -> str:
    branches = " ".join(
        f"WHEN {col} < {b} THEN {i}" for i, b in enumerate(_DEG_BUCKETS)
    )
    return f"CASE {branches} ELSE {len(_DEG_BUCKETS)} END"


def _bucket_case_spark(col: F.Column) -> F.Column:
    expr = F.when(col < _DEG_BUCKETS[0], 0)
    for i, b in enumerate(_DEG_BUCKETS[1:], start=1):
        expr = expr.when(col < b, i)
    return expr.otherwise(len(_DEG_BUCKETS))


@register(
    "graph_degree_distribution",
    f"""
    WITH {_sql_edges()},
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)
    SELECT substr(src, 1, 1) AS node_kind,
           {_bucket_case_sql('outdeg')} AS deg_bucket,
           COUNT(*) AS n_nodes,
           MIN(outdeg) AS min_deg, MAX(outdeg) AS max_deg
    FROM deg
    GROUP BY substr(src, 1, 1), {_bucket_case_sql('outdeg')}
    """,
    doc=(
        "Power-of-two degree histogram of the purchase graph per node kind "
        "— the skew report that tells you whether a graph join needs "
        "salting before you run it."
    ),
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution report — the pre-flight skew check for any
    graph workload: a heavy tail here is exactly the hot-key population
    that makes the PageRank contribution join (or a CC round) skew, and
    the histogram is what picks the salting factor. Buckets are
    power-of-two via an integer CASE chain (no float log2 at the bucket
    edges). Two aggregations, both keyed on node id / (kind, bucket);
    output is at most 2·(buckets+1) rows."""
    edges = _purchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    return (
        deg.select(
            F.substring("src", 1, 1).alias("node_kind"),
            _bucket_case_spark(F.col("outdeg")).alias("deg_bucket"),
            "outdeg",
        )
        .groupBy("node_kind", "deg_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("outdeg").alias("min_deg"),
            F.max("outdeg").alias("max_deg"),
        )
    )


# --- co-occurrence link prediction ------------------------------------------

CN_TOP_K = 20
CN_DEG_CAP = 50  # hot-customer guard: degree d contributes C(d,2) pairs


@register(
    "graph_common_neighbors_topk",
    f"""
    WITH e0 AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    deg AS (SELECT c, COUNT(*) AS d FROM e0 GROUP BY c),
    kept AS (SELECT e0.c, e0.s FROM e0 JOIN deg ON e0.c = deg.c
             WHERE deg.d <= {CN_DEG_CAP}),
    pairs AS (
      SELECT a.s AS supp_a, b.s AS supp_b, COUNT(*) AS common_customers
      FROM kept a JOIN kept b ON a.c = b.c AND a.s < b.s
      GROUP BY a.s, b.s)
    SELECT supp_a, supp_b, common_customers
    FROM pairs
    ORDER BY common_customers DESC, supp_a, supp_b
    LIMIT {CN_TOP_K}
    """,
    doc=(
        f"Link prediction by common neighbors: top-{CN_TOP_K} supplier "
        "pairs sharing the most customers (degree-capped two-hop join) — "
        "the co-occurrence recommender primitive."
    ),
)
def graph_common_neighbors_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors scoring — the simplest link-prediction /
     'suppliers also used together' signal: a two-hop self-join through
    the shared customer. The scale hazard is the same as the shingle
    join's: a customer of degree d contributes C(d,2) pairs, so one
    mega-customer quadratically dominates — capped with the DF-guard
    pattern (drop customers above degree {CN_DEG_CAP}; at web scale you'd
    also sample within the cap, cf. the hot-bucket grid in the LSH
    kernel). One distinct, one keyed count, the capped pair join keyed on
    customer, a (pair) count, TakeOrdered top-k."""
    e0 = cache.checkpoint(_purchase_pairs(spark, sf_dir))
    deg = e0.groupBy("c").agg(F.count(F.lit(1)).alias("d"))
    kept = e0.join(deg.filter(F.col("d") <= CN_DEG_CAP), "c").select("c", "s")
    a = kept.alias("a")
    b = kept.alias("b")
    pairs = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("supp_a"), F.col("b.s").alias("supp_b"))
        .agg(F.count(F.lit(1)).alias("common_customers"))
    )
    return pairs.orderBy(
        F.desc("common_customers"), "supp_a", "supp_b"
    ).limit(CN_TOP_K)


# --- triangle counting ------------------------------------------------------

# Composite orientation key deg·SCALE + doc_id: one BIGINT that orders
# nodes by (degree, id) so edge orientation needs no struct comparison.
TRI_KEY_SCALE = 100_000_000


def _sql_jaccard_edges() -> str:
    from trike_spark.registry import REGISTRY

    return REGISTRY["dedup_ngram_jaccard_pairs"].oracle


@register(
    "graph_triangle_count",
    f"""
    WITH edges AS (
      SELECT doc_a AS u, doc_b AS v FROM ({_sql_jaccard_edges()})),
    sym AS (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges),
    deg AS (SELECT node, COUNT(*) AS d FROM sym GROUP BY node),
    agg AS (
      SELECT COUNT(*) AS n_nodes,
             CAST(COALESCE(SUM(d * (d - 1) // 2), 0) AS BIGINT) AS n_wedges
      FROM deg),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v)
    SELECT agg.n_nodes, (SELECT COUNT(*) FROM edges) AS n_edges,
           agg.n_wedges, tri.n_triangles,
           ROUND(CASE WHEN agg.n_wedges = 0 THEN 0.0
                      ELSE 3.0 * tri.n_triangles / agg.n_wedges END,
                 6) AS closure
    FROM agg CROSS JOIN tri
    """,
    doc=(
        "Triangle census of the near-duplicate graph (edges = Jaccard ≥ 0.3 "
        "doc pairs): node/edge/wedge/triangle counts + global clustering "
        "coefficient, via degree-ordered orientation."
    ),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed triangle counting — the classic MapReduce graph
    kernel (Suri & Vassilvitskii's degree-ordered orientation). Each
    undirected edge is oriented from its lower (degree, id) endpoint to
    the higher; wedges are then built only at each edge's LOW endpoint, so
    a degree-d hub generates O(sqrt(E)) out-wedges instead of C(d, 2) —
    the orientation bounds every node's out-degree by ~sqrt(E), which is
    what keeps the wedge join alive on a power-law graph at 100 TB. The
    count itself is one self-join on the wedge apex plus one equi-join
    probing the closing edge — all BIGINT, hash-exact vs the oracle's
    id-ordered triple join (both orientations count each triangle exactly
    once). The global clustering coefficient 3T/W is one pinned double
    division of two exact integers.

    The graph is the near-duplicate graph (Jaccard ≥ 0.3 doc pairs from
    ``dedup_ngram_jaccard_pairs``, composed unchanged) — its transitivity
    is a real curation diagnostic: closure ≈ 1 means near-dup clusters are
    cliques (template families, safe to keep one representative); low
    closure means chain-shaped similarity where transitive-closure dedup
    over-merges and a stricter threshold is warranted."""
    from trike_spark.queries.dedup import dedup_ngram_jaccard_pairs

    edges = dedup_ngram_jaccard_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    # Edge set feeds degrees, orientation, the wedge join AND the closing-
    # edge probe — one materialization, four consumers.
    edges = cache.checkpoint(edges)
    sym = edges.select(F.col("u").alias("node")).unionAll(
        edges.select(F.col("v").alias("node"))
    )
    # node-sized degree table, read by both orientation joins and the
    # wedge-count aggregate — materialize the union+groupBy once
    deg = cache.checkpoint(sym.groupBy("node").agg(F.count(F.lit(1)).alias("d")))
    keyed = (
        edges.join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
        .select(
            "u",
            "v",
            (F.col("du").cast("long") * TRI_KEY_SCALE + F.col("u")).alias("ku"),
            (F.col("dv").cast("long") * TRI_KEY_SCALE + F.col("v")).alias("kv"),
        )
    )
    # oriented edge list feeds both wedge-join sides AND the closing-edge
    # probe — without the barrier the degree joins above run three times
    oriented = cache.checkpoint(
        keyed.select(
            F.when(F.col("ku") < F.col("kv"), F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(F.col("ku") < F.col("kv"), F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.greatest("ku", "kv").alias("kdst"),
        )
    )
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.src") == F.col("w2.src")) & (F.col("w1.kdst") < F.col("w2.kdst")),
    ).select(F.col("w1.dst").alias("x"), F.col("w2.dst").alias("y"))
    # The closing edge (x, y) has k(x) < k(y), so it is oriented x→y:
    # one semi-join against the oriented set closes each wedge at most once.
    closed = wedges.join(
        oriented,
        (wedges.x == oriented.src) & (wedges.y == oriented.dst),
        "left_semi",
    )
    tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    counts = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.coalesce(
            F.sum(F.expr("d * (d - 1) div 2")), F.lit(0)
        ).cast("bigint").alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        counts.crossJoin(broadcast(n_edges))
        .crossJoin(broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                F.when(F.col("n_wedges") == 0, F.lit(0.0)).otherwise(
                    3.0 * F.col("n_triangles") / F.col("n_wedges")
                ),
                6,
            ).alias("closure"),
        )
    )


# --- label propagation (community detection) ---------------------------------

LPA_ITERS = 3


def _sql_lpa_iter(prev: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT dst AS node, label FROM (
        SELECT e.dst, p.label, COUNT(*) AS c,
               ROW_NUMBER() OVER (PARTITION BY e.dst
                                  ORDER BY COUNT(*) DESC, p.label) AS rn
        FROM edges e JOIN {prev} p ON p.node = e.src
        GROUP BY e.dst, p.label)
      WHERE rn = 1)
    """


def _lpa_labels(edges: DataFrame) -> DataFrame:
    """``(node, label)`` after LPA_ITERS synchronous vote rounds from
    identity labels; ties break to the smallest label (``_sql_lpa_iter``)."""
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(LPA_ITERS):
        votes = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("dst").orderBy(F.col("c").desc(), F.col("label"))
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("dst").alias("node"), "label")
        )
    return labels


@register(
    "graph_label_propagation",
    f"""
    WITH {_sql_edges()},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    l0 AS (SELECT node, node AS label FROM nodes),
    {','.join(_sql_lpa_iter(f'l{i}', f'l{i + 1}') for i in range(LPA_ITERS))}
    SELECT label, COUNT(*) AS n_members
    FROM l{LPA_ITERS}
    GROUP BY label
    ORDER BY label
    """,
    doc=(
        f"Synchronous label propagation ({LPA_ITERS} rounds, majority "
        "vote with min-label tie-break) over the customer-supplier "
        "purchase graph: community label -> member count."
    ),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by label propagation (Raghavan et al. 2007),
    made deterministic for the hash gate: SYNCHRONOUS updates (every
    round reads only the previous round's labels — asynchronous LPA is
    schedule-dependent) and ties in the neighbor-majority vote break to
    the lexicographically smallest label. Same distributed skeleton as
    PageRank: per round ONE join (labels onto edge sources) + one
    (dst, label) count + one per-dst top-1 window — state is O(V) label
    pairs, never adjacency lists; edges computed once, checkpointed,
    reused by all rounds. Bounded rounds (3) rather than
    convergence-looped: LPA oscillates on bipartite structure (this
    purchase graph IS bipartite), so production runs fix the round budget
    — exactly what the unrolled oracle verifies."""
    edges = cache.checkpoint(_purchase_edges(spark, sf_dir))
    return (
        _lpa_labels(edges)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("label")
    )


# --- bounded BFS (frontier expansion) -----------------------------------------

BFS_SEED = "c1"  # customer node 'c' + custkey 1 exists at every SF
BFS_HOPS = 3


def _bfs(edges: DataFrame, visited: DataFrame, hops: int) -> DataFrame:
    """Grow ``visited`` — the seed rows, keyed by every column but
    ``dist`` (one key is ``node``) — by ``hops`` frontier rounds over
    ``edges``. Each round checkpoints the newly reached rows and the grown
    visited set, then frees the generation they supersede; the last
    frontier is freed too, so the returned visited set is the only
    checkpoint the loop leaves, whatever the hop count."""
    keys = [c for c in visited.columns if c != "dist"]
    carried = [c for c in keys if c != "node"]
    new = visited
    for k in range(1, hops + 1):
        frontier = new.select(*keys)
        nxt = (
            edges.join(frontier, edges.src == frontier.node)
            .select(*carried, F.col("dst").alias("node"))
            .distinct()
        )
        reached = cache.checkpoint(
            nxt.join(visited, keys, "left_anti").select(
                *keys, F.lit(k).cast("int").alias("dist")
            )
        )
        grown = cache.checkpoint(visited.unionByName(reached))
        cache.release(visited)
        cache.release(new)
        visited, new = grown, reached
    if new is not visited:
        cache.release(new)
    return visited


@register(
    "graph_bfs_distances",
    f"""
    WITH {_sql_edges()},
    d0 AS (SELECT '{BFS_SEED}' AS node, 0 AS dist),
    f1 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN d0 ON e.src = d0.node),
    d1 AS (SELECT node, 1 AS dist FROM f1
           WHERE node NOT IN (SELECT node FROM d0)),
    u1 AS (SELECT node, dist FROM d0 UNION ALL SELECT node, dist FROM d1),
    f2 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN d1 ON e.src = d1.node),
    d2 AS (SELECT node, 2 AS dist FROM f2
           WHERE node NOT IN (SELECT node FROM u1)),
    u2 AS (SELECT node, dist FROM u1 UNION ALL SELECT node, dist FROM d2),
    f3 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN d2 ON e.src = d2.node),
    d3 AS (SELECT node, 3 AS dist FROM f3
           WHERE node NOT IN (SELECT node FROM u2)),
    u3 AS (SELECT node, dist FROM u2 UNION ALL SELECT node, dist FROM d3)
    SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM u3 GROUP BY dist
    """,
    doc=(
        f"Bounded BFS from {BFS_SEED!r} over the purchase graph: nodes "
        f"first reached at each hop ≤ {BFS_HOPS} (frontier sizes)."
    ),
)
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest hop counts, the frontier-expansion primitive
    under k-hop neighborhoods, reachability audits, and graph-sampled
    crawls. Each round is ONE join (edges onto the previous frontier) +
    one distinct + one anti-join against the visited set — state is the
    O(V) visited list, never O(E); frontier and visited are checkpointed
    per round so plan depth stays constant (same discipline as the CC
    and PageRank loops). Hop count is bounded (unrolled), which is how a
    production k-hop query should run — unbounded BFS on a 100 TB graph
    is a different algorithm (CC), not a bigger loop."""
    edges = cache.checkpoint(_purchase_edges(spark, sf_dir))
    seed = spark.createDataFrame([(BFS_SEED, 0)], "node string, dist int")
    return _bfs(edges, seed, BFS_HOPS).groupBy("dist").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )


# --- degree assortativity ------------------------------------------------------


@register(
    "graph_degree_assortativity",
    f"""
    WITH {_sql_edges()},
    deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
    ed AS (
      SELECT CAST(ds.d AS DECIMAL(18,6)) AS x, CAST(dd.d AS DECIMAL(18,6)) AS y
      FROM edges e JOIN deg ds ON ds.node = e.src
                   JOIN deg dd ON dd.node = e.dst),
    s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy
      FROM ed)
    SELECT CAST(n AS BIGINT) AS n_directed_edges,
           ROUND((n * sxy - sx * sy) /
                 (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6)
             AS assortativity
    FROM s
    """,
    doc=(
        "Degree assortativity of the purchase graph: Pearson correlation "
        "of endpoint degrees over directed edges (negative = hubs link to "
        "leaves, the disassortative web-graph signature)."
    ),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman's assortativity coefficient — one number separating
    social-network-like graphs (positive: hubs befriend hubs) from
    web/crawl-like graphs (negative: hubs link to leaves). For a crawl
    corpus it predicts whether PageRank mass concentrates; bipartite
    purchase graphs skew disassortative, and the sign here is the check.

    Determinism: degrees are exact counts, quantized to DECIMAL before
    the moment sums (same pinned-Pearson recipe as the rolling-corr
    face); the symmetric edge list makes the directed-edge correlation
    equal the undirected definition.

    Scale shape: degree table = one keyed count; the edge⨝degree joins
    key on node id (degree table broadcastable at |V| ≪ |E|); moments
    reduce to one row."""
    edges = cache.checkpoint(_purchase_edges(spark, sf_dir))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ds = deg.select(F.col("src").alias("s_node"), F.col("d").alias("xd"))
    dd = deg.select(F.col("src").alias("d_node"), F.col("d").alias("yd"))
    ed = (
        edges.join(broadcast(ds), edges.src == F.col("s_node"))
        .join(broadcast(dd), edges.dst == F.col("d_node"))
        .select(
            F.col("xd").cast("decimal(18,6)").alias("x"),
            F.col("yd").cast("decimal(18,6)").alias("y"),
        )
    )
    s = ed.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return s.select(
        n.cast("bigint").alias("n_directed_edges"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("assortativity"),
    )


# --- k-core peeling ------------------------------------------------------------

KCORE_K = 45
KCORE_ROUNDS = 4


def _sql_kcore_round(prev: str, out: str) -> str:
    return f"""
    deg_{out} AS (SELECT src, COUNT(*) AS d FROM {prev} GROUP BY src),
    keep_{out} AS (SELECT src AS node FROM deg_{out} WHERE d >= {KCORE_K}),
    {out} AS (
      SELECT e.src, e.dst FROM {prev} e
      JOIN keep_{out} a ON e.src = a.node
      JOIN keep_{out} b ON e.dst = b.node)
    """


def _sql_kcore_count(edges: str, rnd: int) -> str:
    return f"""
    SELECT {rnd} AS round,
           (SELECT COUNT(DISTINCT src) FROM {edges}) AS n_nodes,
           (SELECT COUNT(*) FROM {edges}) AS n_edges
    """


@register(
    "graph_kcore_peeling",
    f"""
    WITH {_sql_edges()},
    ke0 AS (SELECT src, dst FROM edges),
    {','.join(_sql_kcore_round(f'ke{i}', f'ke{i + 1}') for i in range(KCORE_ROUNDS))}
    {' UNION ALL '.join(_sql_kcore_count(f'ke{i}', i) for i in range(KCORE_ROUNDS + 1))}
    """,
    doc=(
        f"k-core decomposition by synchronous peeling (k={KCORE_K}, "
        f"{KCORE_ROUNDS} unrolled rounds) over the purchase graph: node and "
        "edge survivor counts per round — the dense-subgraph extraction "
        "primitive under community mining and spam/bot-ring detection."
    ),
)
def graph_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core extraction (Seidman 1983) by synchronous peeling: each round
    drops every node whose degree in the CURRENT induced subgraph is below
    k, then re-induces the edge set — the cascade converges to the maximal
    subgraph where every node keeps ≥ k neighbors. The k-core is the
    standard dense-subgraph primitive: for a crawl corpus it isolates the
    mutually-reinforcing link farms PageRank alone over-trusts; for the
    purchase graph it isolates the dense customer-supplier nucleus.

    Determinism: peeling is a monotone fixpoint (each round's survivor set
    depends only on the previous round's edge set, and the k-core is
    order-independent), so synchronous rounds are deterministic and the
    unrolled DuckDB oracle matches bit-for-bit; all counts are BIGINT.

    Scale shape: per round ONE keyed degree count, checkpointed, over the
    live edges — the round-0 edge checkpoint rescanned as a map-side
    filter (two semi-joins) against ONE O(V) broadcast of the previous
    round's survivors, instead of writing a shrinking edge checkpoint
    each round. Plan depth stays constant because each round reads only
    checkpoints (same discipline as the CC/PageRank/BFS loops). Rounds are
    bounded and unrolled — production k-core on a 100 TB graph fixes the
    round budget and reports the trajectory, exactly what this face emits
    (round → surviving nodes/edges)."""
    # LONG node ids: the face only outputs per-round COUNTS, so the
    # oracle's "c…"/"s…" strings would be pure shuffle/compare overhead.
    edges = cache.checkpoint(_purchase_edges(spark, sf_dir, long_ids=True))
    return _kcore_census(edges, KCORE_K, KCORE_ROUNDS)


def _kcore_census(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """``(round, n_nodes, n_edges)`` for rounds 0..``rounds`` of
    synchronous k-peeling of the symmetric edge list ``edges`` (src, dst).

    Survivor sets only shrink: a node with degree ≥ k in round r has an
    edge in round r, so it survived round r−1. The live edges of round r
    are therefore ``edges`` restricted to the previous round's survivors
    at both ends, and each round checkpoints only its degree table.

    ONE |V|-row degree table per round serves the census AND the survivor
    filter: n_nodes = |deg| (every src with ≥1 edge has a deg row) and
    n_edges = Σd (the doubled edge list counts each row once under its
    src) — the same longs count_distinct(src)/count(*) gave, without a
    second full-edge aggregation pass per round."""
    out: DataFrame | None = None
    live = edges
    for r in range(rounds + 1):
        deg = cache.checkpoint(live.groupBy("src").agg(F.count(F.lit(1)).alias("d")))
        cnt = deg.agg(
            F.lit(r).cast("int").alias("round"),
            F.count(F.lit(1)).alias("n_nodes"),
            F.coalesce(F.sum("d"), F.lit(0)).cast("bigint").alias("n_edges"),
        )
        out = cnt if out is None else out.unionByName(cnt)
        if r == rounds:
            break
        # one broadcast, probed for both endpoints, so its exchange is reused
        keep = broadcast(deg.filter(F.col("d") >= k).select(F.col("src").alias("node")))
        live = edges.join(keep, F.col("src") == F.col("node"), "left_semi").join(
            keep, F.col("dst") == F.col("node"), "left_semi"
        )
    return out


@register(
    "graph_jaccard_link_prediction",
    f"""
    WITH e0 AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    cdeg AS (SELECT c, COUNT(*) AS d FROM e0 GROUP BY c),
    kept AS (SELECT e0.c, e0.s FROM e0 JOIN cdeg ON e0.c = cdeg.c
             WHERE cdeg.d <= {CN_DEG_CAP}),
    sdeg AS (SELECT s, COUNT(*) AS d FROM kept GROUP BY s),
    pairs AS (
      SELECT a.s AS supp_a, b.s AS supp_b, COUNT(*) AS cn
      FROM kept a JOIN kept b ON a.c = b.c AND a.s < b.s
      GROUP BY a.s, b.s),
    scored AS (
      SELECT supp_a, supp_b, cn,
             ROUND(CAST(cn AS DOUBLE) / (da.d + db.d - cn), 6) AS jaccard
      FROM pairs
      JOIN sdeg da ON supp_a = da.s
      JOIN sdeg db ON supp_b = db.s
      WHERE cn >= 3)
    SELECT supp_a, supp_b, cn AS common_customers, jaccard
    FROM scored ORDER BY jaccard DESC, supp_a, supp_b LIMIT {CN_TOP_K}
    """,
    doc=(
        "Jaccard-normalized link prediction: common customers over the "
        "union of the two suppliers' customer sets — the degree-corrected "
        "upgrade of the raw common-neighbors score."
    ),
)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard similarity over neighbor sets, J = |A∩B| / (|A|+|B|−|A∩B|)
    — normalizes the common-neighbors count so two mid-degree suppliers
    with near-identical customer bases outrank a mega-supplier pair that
    shares customers only by volume. Same degree-capped two-hop join as
    the raw face, plus one broadcast of the supplier-degree dimension
    (node-sized, tiny next to the pair set at any scale); the cn >= 3
    floor keeps noise pairs out of the ranking. One keyed shuffle for
    pairs, TakeOrdered top-k."""
    e0 = cache.checkpoint(_purchase_pairs(spark, sf_dir))
    cdeg = e0.groupBy("c").agg(F.count(F.lit(1)).alias("d"))
    kept = e0.join(cdeg.filter(F.col("d") <= CN_DEG_CAP), "c").select("c", "s")
    sdeg = kept.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    a = kept.alias("a")
    b = kept.alias("b")
    pairs = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("supp_a"), F.col("b.s").alias("supp_b"))
        .agg(F.count(F.lit(1)).alias("cn"))
        .filter(F.col("cn") >= 3)
    )
    da = sdeg.select(F.col("s").alias("supp_a"), F.col("d").alias("da"))
    db = sdeg.select(F.col("s").alias("supp_b"), F.col("d").alias("db"))
    scored = (
        pairs.join(broadcast(da), "supp_a")
        .join(broadcast(db), "supp_b")
        .select(
            "supp_a",
            "supp_b",
            F.col("cn").alias("common_customers"),
            F.round(
                F.col("cn").cast("double") / (F.col("da") + F.col("db") - F.col("cn")), 6
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(F.desc("jaccard"), "supp_a", "supp_b").limit(CN_TOP_K)


# --- sampled harmonic centrality --------------------------------------------------

HC_SEEDS = ("c1", "c2", "c3")
HC_HOPS = 3
HC_TOP = 20
_HC_LCM = 6  # lcm(1..HC_HOPS): 6/dist is an exact integer for dist <= 3


def _sql_hc_round(prev_d: str, prev_u: str, k: int) -> str:
    return f"""
    f{k} AS (SELECT DISTINCT d.seed, e.dst AS node
             FROM edges e JOIN d{k - 1} d ON e.src = d.node),
    d{k} AS (SELECT f{k}.seed, f{k}.node, {k} AS dist FROM f{k}
             WHERE NOT EXISTS (SELECT 1 FROM {prev_u} u
                               WHERE u.seed = f{k}.seed
                                 AND u.node = f{k}.node)),
    u{k} AS (SELECT seed, node, dist FROM {prev_u}
             UNION ALL SELECT seed, node, dist FROM d{k})
    """


@register(
    "graph_harmonic_centrality_sampled",
    f"""
    WITH {_sql_edges()},
    d0 AS (SELECT seed, seed AS node, 0 AS dist
           FROM (SELECT unnest({list(HC_SEEDS)!r}) AS seed)),
    u0 AS (SELECT seed, node, dist FROM d0),
    {','.join(_sql_hc_round(f'd{k - 1}', f'u{k - 1}', k) for k in range(1, HC_HOPS + 1))}
    SELECT node,
           CAST(SUM({_HC_LCM} // dist) AS BIGINT) AS harmonic_x{_HC_LCM},
           CAST(COUNT(*) AS BIGINT) AS n_seeds_reaching
    FROM u{HC_HOPS}
    WHERE dist > 0
    GROUP BY node
    ORDER BY harmonic_x{_HC_LCM} DESC, node
    LIMIT {HC_TOP}
    """,
    doc=(
        f"Sampled harmonic centrality: bounded multi-source BFS from "
        f"{len(HC_SEEDS)} seeds, score = Σ 1/dist in exact LCM-{_HC_LCM} "
        "fixed point, top-{top} nodes — the Common-Crawl-style "
        "crawl-prioritization rank, estimated from pivots.".replace(
            "{top}", str(HC_TOP)
        )
    ),
)
def graph_harmonic_centrality_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality Σ_u 1/d(u, v) is THE web-graph quality rank
    (Common Crawl publishes it for every host), but the exact version is
    all-pairs shortest paths — at any real scale it is ESTIMATED from a
    seed sample (Eppstein–Wang style pivoting), which is precisely this
    face: a bounded multi-source BFS from S fixed seeds, each node scored
    by the seeds that reach it. More seeds tighten the estimate linearly
    in cost — the sample size is the accuracy dial.

    Determinism: contributions 1/dist fold as exact integers (LCM·6/dist
    for dist ≤ 3), so the BIGINT score is partition-order-free; top-k
    carries the node-id tie-break.

    Scale shape: the frontier loop is the audited BFS skeleton with a
    seed column — per round ONE edges⋈frontier join keyed on node, one
    (seed, node) distinct, one anti-join against the visited set; state
    is O(S·V) (seed, node, dist) rows, never O(E); rounds are bounded and
    checkpointed (constant plan depth). The final score is one keyed
    aggregation + TakeOrdered."""
    edges = cache.checkpoint(_purchase_edges(spark, sf_dir))
    seeds = spark.createDataFrame(
        [(s, s, 0) for s in HC_SEEDS], "seed string, node string, dist int"
    )
    return (
        _bfs(edges, seeds, HC_HOPS)
        .filter(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.sum(F.expr(f"{_HC_LCM} div dist")).cast("bigint").alias(
                f"harmonic_x{_HC_LCM}"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_seeds_reaching"),
        )
        .orderBy(F.col(f"harmonic_x{_HC_LCM}").desc(), "node")
        .limit(HC_TOP)
    )


# --- modularity of the LPA communities ---------------------------------------------


def _sql_lpa_labels() -> str:
    """The LPA face's label table, reused verbatim (same rounds/ties)."""
    return f"""
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    l0 AS (SELECT node, node AS label FROM nodes),
    {','.join(_sql_lpa_iter(f'l{i}', f'l{i + 1}') for i in range(LPA_ITERS))}
    """


@register(
    "graph_modularity_lpa",
    f"""
    WITH {_sql_edges()},
    {_sql_lpa_labels()},
    lab AS (SELECT node, label FROM l{LPA_ITERS}),
    m AS (SELECT COUNT(*) // 2 AS m FROM edges),
    intra AS (
      SELECT COUNT(*) // 2 AS e_intra
      FROM edges e
      JOIN lab a ON a.node = e.src
      JOIN lab b ON b.node = e.dst
      WHERE a.label = b.label),
    deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
    comm AS (
      SELECT lab.label, CAST(SUM(deg.d) AS BIGINT) AS d_c
      FROM deg JOIN lab ON lab.node = deg.node
      GROUP BY lab.label),
    sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
             CAST(SUM(d_c * d_c) AS BIGINT) AS sum_dsq
      FROM comm)
    SELECT m.m AS m_edges, sums.n_communities, intra.e_intra, sums.sum_dsq,
           ROUND(CAST(intra.e_intra AS DOUBLE) / m.m
                 - CAST(sums.sum_dsq AS DOUBLE) / (4.0 * m.m * m.m), 6)
             AS modularity
    FROM m CROSS JOIN intra CROSS JOIN sums
    """,
    doc=(
        "Newman modularity Q of the LPA communities: Q = Σe_c/m − "
        "Σd_c²/4m² from three exact integer sums — the quality score "
        "that says whether the community detection found real structure."
    ),
)
def graph_modularity_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection without its quality metric is unfalsifiable —
    modularity Q compares intra-community edge mass against the
    degree-preserving random graph's expectation: Q ≈ 0 means the
    'communities' are noise (the expected reading here: LPA on a
    bipartite purchase graph oscillates, which the LPA face documents),
    Q ≳ 0.3 means real structure worth acting on. Running the metric
    against this engine's own LPA output closes the loop the same way
    recall@k gates the ANN paths.

    Determinism: the identity Q = (Σ_c e_c)/m − (Σ_c d_c²)/(4m²) turns
    the per-community float sum into THREE exact BIGINT reductions
    (intra-edge count, degree sums squared, edge count) and ONE pinned
    double expression — no float accumulation anywhere.

    Scale shape: reuses the LPA rounds (audited: O(V) state, checkpointed
    edges); the intra count is two node-keyed label joins; degree and
    community sums are keyed aggregations; output is one row."""
    edges = cache.checkpoint(_purchase_edges(spark, sf_dir))
    labels = cache.checkpoint(_lpa_labels(edges))
    m = edges.agg(F.expr("count(1) div 2").alias("m"))
    la = labels.select(F.col("node").alias("src"), F.col("label").alias("la"))
    lb = labels.select(F.col("node").alias("dst"), F.col("label").alias("lb"))
    intra = (
        edges.join(broadcast(la), "src")
        .join(broadcast(lb), "dst")
        .filter(F.col("la") == F.col("lb"))
        .agg(F.expr("count(1) div 2").alias("e_intra"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    comm = (
        deg.join(labels, deg.src == labels.node)
        .groupBy("label")
        .agg(F.sum("d").cast("bigint").alias("d_c"))
    )
    sums = comm.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        F.sum(F.col("d_c") * F.col("d_c")).cast("bigint").alias("sum_dsq"),
    )
    return (
        m.crossJoin(broadcast(intra))
        .crossJoin(broadcast(sums))
        .select(
            F.col("m").alias("m_edges"),
            "n_communities",
            "e_intra",
            "sum_dsq",
            F.round(
                F.col("e_intra").cast("double") / F.col("m")
                - F.col("sum_dsq").cast("double")
                / (4.0 * F.col("m") * F.col("m")),
                6,
            ).alias("modularity"),
        )
    )
