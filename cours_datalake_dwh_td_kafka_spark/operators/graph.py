"""Iterative graph analytics over lake-derived graphs: PageRank on the
part co-purchase graph (parts sharing an order, the classic
recommendation graph; course analog: the reference's two-table joins,
work/Intro_pySpark.ipynb:1158, never iterate). Companion to the
connected-components operator in dedup.py — together they cover the two
standard message-passing shapes (min-label convergence, weighted-sum
power iteration).

Unlike LDA/IVF (rows-only by necessity), this iterative operator IS
value-oracled: a FIXED iteration count unrolls into chained CTEs on the
DuckDB side, and both engines follow the same exact algebra per step —
decimal(38,18) contribution sums, one ROUND(.,12) per iteration — so
ranks match bit-for-bit after 10 rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cours_datalake_dwh_td_kafka_spark.io import load_table
from cours_datalake_dwh_td_kafka_spark.registry import register

PAGERANK_ITERS = 4
PAGERANK_DAMPING = 0.85
PAGERANK_TELEPORT = 0.15
PAGERANK_TOP_K = 20

#: broadcast gate for the iterative operators' O(nodes) state vectors
#: (rank / label / degree tables); beyond it every loop falls back to
#: its original shuffle-join + checkpoint path.
#:
#: r15 default 100k, MEASURED on the 10x lake (plans/r15/scaling): at
#: 20k nodes the broadcast regime wins pagerank 5.9 vs 7.7 s, but at
#: 200k nodes it LOSES 3.3x (71.2 vs 21.7 s — four per-iteration
#: driver collect+build+ship rounds of the rank vector with no
#: intermediate materialization) and is a wash for components (16.2 vs
#: 14.4 s). The r14 default of 5M was sized by broadcast-cap arithmetic
#: alone; the measured crossover is far lower, and above the gate the
#: shuffle path is the robust default.
GRAPH_BC_MAX_NODES = 100_000


def _pagerank_sql(iters: int = PAGERANK_ITERS, top_k: int = PAGERANK_TOP_K) -> str:
    steps = []
    for t in range(iters):
        steps.append(
            f"""r{t + 1} AS (
      SELECT n.node,
             ROUND({PAGERANK_TELEPORT} / nn.n
                   + {PAGERANK_DAMPING} * CAST(COALESCE(SUM(
                       CAST(r{t}.rank / d.deg AS DECIMAL(38,18))
                     ), 0) AS DOUBLE), 12) AS rank
      FROM nodes n
      CROSS JOIN nn
      LEFT JOIN edges e ON e.dst = n.node
      LEFT JOIN r{t} ON r{t}.node = e.src
      LEFT JOIN deg d ON d.node = e.src
      GROUP BY n.node, nn.n
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (
      SELECT node, ROUND(1.0 / nn.n, 12) AS rank FROM nodes CROSS JOIN nn
    ),
    {chain}
    SELECT node AS part, rank
    FROM r{iters}
    ORDER BY rank DESC, part
    LIMIT {top_k}
"""


def copurchase_edges(li: DataFrame) -> DataFrame:
    """Directed co-purchase edges: (src, dst) for every ordered pair of
    distinct parts sharing an order. The self-join key is the order id,
    so fan-out per order is lines² — bounded by the few lines an order
    has, NOT corpus-scale (same per-key-bounded-blowup argument as the
    grid KNN join). DISTINCT collapses repeat co-purchases."""
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst")
    )
    return (
        a.join(b, "ok")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    iters: int = PAGERANK_ITERS,
    damping: float = PAGERANK_DAMPING,
) -> DataFrame:
    """Power-iteration PageRank over a (src, dst) edge table, returning
    (node, rank) after ``iters`` rounds.

    Semantics: simplified PageRank restricted to nodes that appear as a
    source (every node of the symmetric co-purchase graph has both
    directions, so no dangling-mass redistribution is needed; on a
    graph with sinks, add it before trusting the ranks).

    Scale shape per iteration: one equi-join of the rank vector against
    the degree-annotated edge list on src (built ONCE outside the loop
    — the edge/degree join does not vary), one aggregation on dst, one
    left join back onto the node set for teleport-only nodes. State
    between rounds is the O(nodes) rank vector, localCheckpoint-ed
    every CHECKPOINT_EVERY rounds (same lineage-bounding trick as
    dedup_clusters, amortized: a short join chain between checkpoints
    is fine; an unbounded one is not). A lost executor re-reads the
    last checkpoint, not the whole chain.

    Cross-engine exactness: the per-node inbound sum accumulates in
    decimal(38,18) (order-insensitive), is damped in doubles, and is
    rounded to 12 dp before feeding the next round — the rank vector
    is therefore IDENTICAL on both engines at every iteration, not
    just close at the last one.

    Join strategy (r14 optimization, guide §3.1): the rank vector and
    the degree table are O(nodes); below ``GRAPH_BC_MAX_NODES`` they
    are explicitly broadcast — the per-iteration state frames descend
    from ``localCheckpoint`` (LogicalRDD, no size statistics), so the
    planner can never pick the broadcast join on its own and every
    iteration otherwise pays a full shuffle+sort of the edge list
    (measured 11.4 -> 8.0 s at sf0.1, plans in plans/r14/). Above the
    gate the original shuffle-join + periodic-checkpoint path runs
    unchanged — the broadcast is a size-gated hint, not an assumption."""
    checkpoint_every = 2
    teleport = 1.0 - damping
    edges = edges.localCheckpoint(eager=True)
    # degree table doubles as the node set: one eager materialization
    # (and one count) instead of separate nodes/e2 checkpoints
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    nodes = deg.select(F.col("src").alias("node"))
    n = deg.count()
    if n == 0:
        # empty graph: 1/n below would constant-fold to a divide-by-zero
        # under ANSI mode before any row could even exist
        return nodes.select(
            "node", F.lit(None).cast("double").alias("rank")
        )
    small = n <= GRAPH_BC_MAX_NODES
    # the per-iteration message structure never changes: annotate each
    # edge with its source degree ONCE, outside the loop. Small graphs
    # keep e2 lazy (a map-side broadcast join over the edge checkpoint
    # re-derives it for free); big graphs materialize it once.
    e2 = edges.join(F.broadcast(deg) if small else deg, "src")
    if not small:
        e2 = e2.localCheckpoint(eager=True)
    ranks = nodes.select(
        "node", F.round(F.lit(1.0) / n, 12).alias("rank")
    )
    for it in range(iters):
        r = F.broadcast(ranks) if small else ranks
        contribs = e2.join(r, e2["src"] == r["node"]).select(
            F.col("dst"),
            (F.col("rank") / F.col("deg")).cast("decimal(38,18)").alias(
                "contrib"
            ),
        )
        inbound = contribs.groupBy("dst").agg(
            F.sum("contrib").cast("double").alias("s")
        )
        ib = F.broadcast(inbound) if small else inbound
        ranks = nodes.join(
            ib, nodes["node"] == ib["dst"], "left"
        ).select(
            "node",
            F.round(
                F.lit(teleport) / n
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0)),
                12,
            ).alias("rank"),
        )
        # small branch: every iteration's broadcast build materializes
        # the O(nodes) vector on the driver, which already bounds the
        # executed lineage — extra checkpoints would only add jobs
        if not small and (
            (it + 1) % checkpoint_every == 0 or it == iters - 1
        ):
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


@register("pagerank_copurchase", _pagerank_sql())
def q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    ranks = pagerank(copurchase_edges(li))
    return (
        ranks.select(F.col("node").alias("part"), "rank")
        .orderBy(F.desc("rank"), "part")
        .limit(PAGERANK_TOP_K)
    )


# ---------------------------------------------------------------------------
# association rules over the same baskets: support / confidence / lift
# ---------------------------------------------------------------------------
BASKET_MIN_PAIR = 3
BASKET_TOP_N = 20

_LIFT_SQL = f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
      FROM lineitem
    ),
    n AS (SELECT CAST(COUNT(DISTINCT basket) AS DOUBLE) AS n_baskets
          FROM items),
    item_n AS (
      SELECT item, COUNT(*) AS n_item FROM items GROUP BY item
    ),
    pair_n AS (
      SELECT a.item AS part_a, b.item AS part_b, COUNT(*) AS n_pair
      FROM items a JOIN items b
        ON a.basket = b.basket AND a.item < b.item
      GROUP BY a.item, b.item
      HAVING COUNT(*) >= {BASKET_MIN_PAIR}
    )
    SELECT part_a, part_b, CAST(n_pair AS BIGINT) AS n_pair,
           ROUND(n_pair / n.n_baskets, 6) AS support,
           ROUND(CAST(n_pair AS DOUBLE) / ia.n_item, 6) AS confidence,
           ROUND(n_pair * n.n_baskets / (ia.n_item * CAST(ib.n_item
                 AS DOUBLE)), 6) AS lift
    FROM pair_n
    JOIN item_n ia ON ia.item = part_a
    JOIN item_n ib ON ib.item = part_b
    CROSS JOIN n
    ORDER BY lift DESC, part_a, part_b
    LIMIT {BASKET_TOP_N}
"""


@register("market_basket_lift", _LIFT_SQL)
def q_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: the top part pairs by lift
    (n_pair * N / (n_a * n_b)) with support and confidence — the
    frequent-itemset mining step product analytics runs over the same
    co-purchase structure PageRank above ranks.

    Scale shape: distinct (basket, item) once; the pair join is keyed on
    the basket id, fan-out bounded by basket size squared (the KNN-grid
    argument again); the min-pair HAVING prunes the long tail BEFORE the
    two item-frequency joins; item counts broadcast (one row per part).
    All ratios are exact-integer arithmetic in doubles (counts << 2^53),
    rounded once — bit-identical across engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
    )
    items = li.distinct().localCheckpoint(eager=False)  # 3 consumers below
    n_baskets = items.select("basket").distinct().count()
    item_n = items.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    a = items.select("basket", F.col("item").alias("part_a"))
    b = items.select("basket", F.col("item").alias("part_b"))
    pair_n = (
        a.join(b, "basket")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= BASKET_MIN_PAIR)
    )
    ia = item_n.select(
        F.col("item").alias("ia_item"), F.col("n_item").alias("n_a")
    )
    ib = item_n.select(
        F.col("item").alias("ib_item"), F.col("n_item").alias("n_b")
    )
    nb = float(n_baskets)
    return (
        pair_n.join(F.broadcast(ia), F.col("part_a") == F.col("ia_item"))
        .join(F.broadcast(ib), F.col("part_b") == F.col("ib_item"))
        .select(
            "part_a",
            "part_b",
            F.col("n_pair").cast("bigint").alias("n_pair"),
            F.round(F.col("n_pair") / nb, 6).alias("support"),
            F.round(
                F.col("n_pair").cast("double") / F.col("n_a"), 6
            ).alias("confidence"),
            F.round(
                F.col("n_pair") * nb
                / (F.col("n_a") * F.col("n_b").cast("double")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(BASKET_TOP_N)
    )


# ---------------------------------------------------------------------------
# triangle counting over the same co-purchase graph (degree-ordered)
# ---------------------------------------------------------------------------
TRIANGLE_TOP_N = 20

_TRIANGLE_SQL = f"""
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    members AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT node AS part, COUNT(*) AS n_triangles
    FROM members
    GROUP BY node
    ORDER BY n_triangles DESC, part
    LIMIT {TRIANGLE_TOP_N}
"""


def triangle_counts(
    edges: DataFrame, small_graph: bool = False
) -> DataFrame:
    """Per-node triangle counts over an undirected edge table (directed
    (src, dst) pairs in both orientations, as :func:`copurchase_edges`
    emits). Classic clustering-coefficient numerator: which parts sit in
    densely co-purchased cliques.

    Scale shape (degree-ordered compact-forward, Latapy 2008 — the
    adjacency-intersection formulation of the Suri & Vassilvitskii
    WWW'11 wedge recipe): orient every edge from the lower-(degree, id)
    endpoint to the higher — each triangle {a, b, c} (rank-ordered) is
    then found EXACTLY once, on its (a, b) edge, as c in
    N+(a) ∩ N+(b). Degree-ordering bounds every out-list by O(sqrt(m))
    regardless of how big a hub is, so the per-edge intersection work
    stays O(m^1.5) total with NO hot key.

    r14 optimization (guide §2.4): the previous implementation
    materialized every wedge as a ROW (sum_v C(outdeg_v, 2) rows — 41 M
    at sf0.1) and shuffled+sorted them into a closure join. The
    intersection form aggregates the directed edges into per-node
    sorted out-lists ONCE and intersects two O(sqrt(m)) arrays per edge
    inside codegen — the only remaining exploded output is the
    triangles themselves (1.9 M at sf0.1). Measured 12.5 -> 4.5 s at
    sf0.1 with bit-identical per-node counts; the wedge row-stream
    never exists. ``small_graph=True`` (size-gated by the caller, e.g.
    from parquet footer counts — never assumed) additionally broadcasts
    the out-list table (total payload O(m) longs) so the edge stream is
    never shuffled at all; the default shuffle join is the 100 TB path.
    """
    # the canonical edge set feeds three consumers (degrees, orientation,
    # the per-edge probe) — materialize the order self-join + distinct
    # once instead of recomputing the corpus-scale upstream per consumer
    und = (
        edges.where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    if small_graph:
        du, dv = F.broadcast(du), F.broadcast(dv)
    ranked = und.join(du, "u").join(dv, "v")
    fwd = F.col("du") < F.col("dv")
    tie = (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    directed = ranked.select(
        F.when(fwd | tie, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(fwd | tie, F.col("v")).otherwise(F.col("u")).alias("hi"),
    ).localCheckpoint(eager=False)
    # per-node sorted out-lists; each bounded O(sqrt(m)) by the
    # degree-ordering, so no single row can blow up executor memory
    adj = directed.groupBy("lo").agg(
        F.sort_array(F.collect_list("hi")).alias("nb")
    )
    a1 = adj.select("lo", F.col("nb").alias("nb_lo"))
    a2 = adj.select(F.col("lo").alias("hi"), F.col("nb").alias("nb_hi"))
    if small_graph:
        a1, a2 = F.broadcast(a1), F.broadcast(a2)
    # inner joins are exact here: every lo has an out-list by
    # construction, and an edge whose hi has NO out-list cannot close
    # any triangle (c must be in N+(hi)), so dropping it loses nothing
    tri = (
        directed.join(a1, "lo")
        .join(a2, "hi")
        .select(
            F.col("lo").alias("a"),
            F.col("hi").alias("b"),
            F.explode(F.array_intersect("nb_lo", "nb_hi")).alias("c"),
        )
    )
    members = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return members.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


#: lineitem row count below which the co-purchase graph's out-list
#: table (payload O(edges) ~ 4x lineitem rows of longs) is broadcast —
#: ~4 M rows keeps the built relation well under the broadcast caps.
#: Decided from parquet FOOTER metadata (no Spark job), so the gate
#: costs nothing and flips to the shuffle join as the lake grows.
TRIANGLE_BC_MAX_LI_ROWS = 4_000_000


@register("triangle_count", _TRIANGLE_SQL)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cours_datalake_dwh_td_kafka_spark.io import parquet_row_count

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    small = (
        parquet_row_count(f"{sf_dir}/lineitem.parquet")
        <= TRIANGLE_BC_MAX_LI_ROWS
    )
    return (
        triangle_counts(copurchase_edges(li), small_graph=small)
        .select(F.col("node").alias("part"), "n_triangles")
        .orderBy(F.desc("n_triangles"), "part")
        .limit(TRIANGLE_TOP_N)
    )


# ---------------------------------------------------------------------------
# beyond-ref: degree distribution of the co-purchase graph
# ---------------------------------------------------------------------------
_DEGREE_DIST_SQL = """
    WITH edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src AS node, COUNT(*) AS degree FROM edges GROUP BY src)
    SELECT CAST(FLOOR(LOG2(degree)) AS INT) AS log2_bucket,
           CAST(POW(2, FLOOR(LOG2(degree))) AS BIGINT) AS bucket_min_degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(degree) AS BIGINT) AS min_degree,
           CAST(MAX(degree) AS BIGINT) AS max_degree
    FROM deg
    GROUP BY 1, 2
    ORDER BY log2_bucket
"""


def degree_distribution(li: DataFrame) -> DataFrame:
    """Log2-bucketed out-degree histogram of the co-purchase graph —
    the first diagnostic before any graph algorithm (PageRank /
    triangles): a heavy tail here predicts hub-induced skew in every
    subsequent neighborhood join, and the bucket counts are what sizes
    the degree-ordering defence (graph.triangle_count) against.

    Scale shape: edges come from the same per-order bounded self-join
    as PageRank (fan-out = order line count squared, never corpus
    scale), degree is one keyed count, the histogram is a ~log(max
    degree)-group aggregate. Integer-exact throughout; LOG2 only
    buckets integers (exact for any degree < 2^53)."""
    deg = copurchase_edges(li).groupBy(
        F.col("src").alias("node")
    ).agg(F.count(F.lit(1)).alias("degree"))
    bucket = F.floor(F.log2("degree")).cast("int")
    return (
        deg.groupBy(bucket.alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("degree").cast("bigint").alias("min_degree"),
            F.max("degree").cast("bigint").alias("max_degree"),
        )
        .select(
            "log2_bucket",
            F.pow(F.lit(2.0), F.col("log2_bucket").cast("double"))
            .cast("bigint")
            .alias("bucket_min_degree"),
            "n_nodes",
            "min_degree",
            "max_degree",
        )
        .orderBy("log2_bucket")
    )


@register("degree_distribution", _DEGREE_DIST_SQL)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return degree_distribution(load_table(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# beyond-ref: connected components of the co-purchase graph (hash-min)
# ---------------------------------------------------------------------------
#: minimum distinct-order co-purchase support for a CC edge — prunes the
#: one-off clique blowup (every multi-line order connects all its parts)
#: down to REPEATED co-purchases, the market-basket convention
CC_MIN_SUPPORT = 2

_COMPONENTS_SQL = f"""
    WITH RECURSIVE edges AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(DISTINCT a.l_orderkey) >= {CC_MIN_SUPPORT}
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ),
    comp AS (SELECT node, MIN(r) AS comp FROM reach GROUP BY node),
    sizes AS (SELECT comp, COUNT(*) AS sz FROM comp GROUP BY comp)
    SELECT CAST(FLOOR(LOG2(sz)) AS INT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(MIN(sz) AS BIGINT) AS min_size,
           CAST(MAX(sz) AS BIGINT) AS max_size,
           CAST(SUM(sz) AS BIGINT) AS n_nodes
    FROM sizes
    GROUP BY 1
    ORDER BY log2_bucket
"""


def graph_components(li: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components of the co-purchase graph by hash-min label
    propagation, summarized as a log2 histogram of component sizes —
    the fragmentation diagnostic behind dedup clustering and any
    "related products" feature: one giant component means transitive
    similarity chains everything together; many small ones mean the
    graph is actually informative.

    Scale shape: the same bounded per-order edge self-join as PageRank,
    then a support filter (>= CC_MIN_SUPPORT distinct orders) that prunes
    the one-off clique noise every multi-line order injects — the
    market-basket convention, and what keeps both the component
    structure informative and the oracle's transitive closure bounded;
    each round is ONE (edge join + node-keyed min) — the standard
    distributed CC (hash-min), rounds bounded by the graph diameter
    with an early exit when a round changes no label (the change count
    is a one-scalar driver read per round, the PageRank convention, and
    at most ``max_iters`` rounds run). The inter-round state is the
    O(nodes) label vector, localCheckpoint-ed so lineage doesn't stack.
    Oracle: DuckDB transitive closure via recursive CTE + MIN — a
    different algorithm entirely, so agreement pins semantics, not
    implementation. For path-compressed O(log n) rounds at web scale,
    swap in the star-contraction kernel dedup_clusters already uses.

    r14 optimizations (guide §2.3/§2.4/§3.1, all value-identical):
    (a) the support count dedupes (order, part) BEFORE the pair
    fan-out, so the grouped count is a plain count(*) instead of a
    count_distinct over the exploded pairs (one exchange of pair rows
    saved); (b) only the src<dst orientation is aggregated (support is
    symmetric) and the mirror is unioned back after the filter — the
    support groupBy exchanges half the rows; (c) below
    ``GRAPH_BC_MAX_NODES`` the per-round label/jump vectors are
    broadcast (they descend from localCheckpoint, so the planner has
    no size statistics to pick this itself); (d) the old-label column
    rides the round's own select, so convergence detection is a filter
    over the already-materialized round frame, not a second
    labels-vs-labels join per round."""
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("item")
    ).distinct()
    a = items.select("ok", F.col("item").alias("src"))
    b = items.select("ok", F.col("item").alias("dst"))
    half = (
        a.join(b, "ok")
        .where(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= CC_MIN_SUPPORT)
        .select("src", "dst")
    )
    edges = half.unionAll(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    small = labels.count() <= GRAPH_BC_MAX_NODES
    for _ in range(max_iters):
        # candidate label per node: min over (its own, each neighbor's)
        lab_b = F.broadcast(labels) if small else labels
        neigh = (
            edges.join(
                lab_b.withColumnRenamed("node", "dst").withColumnRenamed(
                    "comp", "n_comp"
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("n_comp").alias("n_comp"))
        )
        if small:
            neigh = F.broadcast(neigh)
        stepped = (
            labels.join(neigh, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("n_comp"), F.col("comp"))
                ).alias("comp"),
                # carried so convergence detection needs no second join
                F.col("comp").alias("old"),
            )
            # the pointer jump below self-joins this frame: pin ONE
            # materialization so the edge-join subtree doesn't run twice
            # per round (the shared-subtree convention)
            .localCheckpoint(eager=False)
        )
        # pointer jump: comp := min(comp, comp[comp]) — a label is always
        # itself a node id, so chasing one hop of the label chain per
        # round turns the O(diameter) propagation into O(log diameter)
        # (the pointer-doubling half of star contraction)
        jump = stepped.select(
            F.col("node").alias("j_node"), F.col("comp").alias("j_comp")
        )
        if small:
            jump = F.broadcast(jump)
        nxt = (
            stepped.join(
                jump, stepped["comp"] == jump["j_node"], "left"
            )
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("j_comp"), F.col("comp"))
                ).alias("comp"),
                "old",
            )
            .localCheckpoint(eager=True)
        )
        changed = nxt.where(F.col("comp") != F.col("old")).count()
        labels = nxt.select("node", "comp")
        if changed == 0:
            break
    sizes = labels.groupBy("comp").agg(F.count(F.lit(1)).alias("sz"))
    bucket = F.floor(F.log2("sz")).cast("int")
    return (
        sizes.groupBy(bucket.alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_components"),
            F.min("sz").cast("bigint").alias("min_size"),
            F.max("sz").cast("bigint").alias("max_size"),
            F.sum("sz").cast("bigint").alias("n_nodes"),
        )
        .orderBy("log2_bucket")
    )


@register("graph_components", _COMPONENTS_SQL)
def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph_components(load_table(spark, sf_dir, "lineitem"))
