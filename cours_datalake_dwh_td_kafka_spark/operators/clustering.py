"""Distributed Lloyd k-means over the embeddings corpus — the full-data
clustering rung the ANN family has so far only sampled around.

The IVF quantizers (`similarity._fit_cells`) train on an O(1)
driver-side sample, which is the right call for cheap index builds; but
a curation pipeline also needs the FULL-CORPUS clustering pass —
SemDeDup-style cluster-then-prune, cluster-aware split remedies, and
quantizer refreshes that must see every vector, not a sample. That is
this operator: Lloyd's algorithm (assignment / mean alternation) run as
`rounds` bounded Spark rounds over all n vectors, the same
iterate-with-a-checkpointed-state recipe as `graph.pagerank`.

Cross-engine exactness (what makes the driver hash match): every
quantity that crosses a round boundary is EXACT DECIMAL —

- vectors quantize once to DECIMAL(28,6) (`embedding_centroids`'s
  spelling, so the cast is the already-attested one);
- each M-step mean is one exact decimal sum divided once in doubles and
  rounded to 6 dp (identical IEEE doubles on both engines, re-cast to
  DECIMAL(28,6));
- each E-step distance is a sum of DECIMAL(18,6)x(18,6) squared diffs —
  scale-12 exact, no float accumulation order anywhere — and the argmin
  tie-breaks on (dist, cell) over exact decimals.

So the assignment vector is IDENTICAL on both engines at every round
(the pagerank guarantee transplanted to clustering), and the DuckDB
oracle can simply unroll the rounds as CTEs.

Initialisation is the deterministic random-partition rule cell =
vec_id % k (no RNG, SQL-expressible on both engines). Classic Lloyd
cell-death semantics: a cell that loses all members simply has no
M-step row and can win no assignment in later rounds.

Scale shape per round (n vectors, d dims, k cells):

- M-step: one shuffle join of the O(n) assignment vector onto the
  PACKED vector table (n rows of d-float arrays — d x fewer shuffle
  rows than joining the exploded form for the same bytes), a map-side
  posexplode after the join, one (cell, pos) aggregate whose map-side
  partials absorb the d-fold blowup — output k x d rows.
- E-step: the k x d centroid table BROADCASTS onto the exploded table
  keyed by pos (no shuffle), the (vec_id, cell) aggregate carries
  n x k rows after map-side combine, and the per-vector argmin is a
  plain groupBy — never a window.
- State between rounds is the O(n) assignment, localCheckpoint-ed each
  round so a lost executor replays one round, not the whole chain.

This is the textbook O(n k d) kmeans cost with k x d control tables —
the shape MLlib's KMeans pays per iteration, minus its driver-side
aggregation of centroid updates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cours_datalake_dwh_td_kafka_spark.io import load_table
from cours_datalake_dwh_td_kafka_spark.registry import register

K_CELLS = 8
LLOYD_ROUNDS = 3

#: vector count below which each round's O(n) assignment table
#: broadcasts onto the PINNED quantized explode for the M-step —
#: 5M (long, long) rows framed sits well inside the broadcast caps
#: (the graph.py GRAPH_BC_MAX_NODES rule). Above it every round falls
#: back to the original packed shuffle join against the source table.
KMEANS_BC_MAX_VECS = 5_000_000


def _flat(emb: DataFrame) -> DataFrame:
    """(vec_id, pos, vq) — the vector table exploded to one row per
    dimension, quantized once to the exact DECIMAL(28,6) grid every
    round then reads (the `embedding_centroids` cast, so both engines
    agree on the quantized values by prior attestation)."""
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "vec_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("v").cast("double").cast("decimal(28,6)").alias("vq"),
    )


def _estep(flat: DataFrame, cent: DataFrame) -> DataFrame:
    """E-step: broadcast the k x d centroid table onto the exploded
    vector table, exact DECIMAL(18,6)^2 squared-L2 per (vec, cell),
    argmin with (dist, cell) tie-break. Returns (vec_id, cell, dist)."""
    diff = (F.col("vq") - F.col("cq")).cast("decimal(18,6)")
    dist = (
        flat.join(F.broadcast(cent), "pos")
        .select("vec_id", "cell", (diff * diff).alias("term"))
        .groupBy("vec_id", "cell")
        .agg(F.sum("term").alias("dist"))
    )
    return (
        dist.groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cell")).alias("m"))
        .select(
            "vec_id",
            F.col("m.cell").alias("cell"),
            F.col("m.dist").alias("dist"),
        )
    )


def kmeans_lloyd(
    e: DataFrame, k: int = K_CELLS, rounds: int = LLOYD_ROUNDS
) -> DataFrame:
    """Lloyd k-means: `rounds` alternations of exact-decimal M-step
    (per-cell per-dimension mean, rounded to 6 dp) and E-step (squared-
    L2 argmin with (dist, cell) tie-break), from the deterministic
    vec_id % k partition. Returns one row per (cell, pos) of the final
    centroid table, annotated with the final assignment's cell sizes
    and exact per-cell within-cluster cost:

        (cell, pos, c DOUBLE, n_vecs BIGINT, cell_cost DOUBLE)

    The returned centroids are the ones the FINAL assignment was scored
    against (a cell with a centroid row but no surviving members keeps
    the row with n_vecs = 0 — that is the cell-death signal a refresh
    loop keys re-seeding on)."""
    # the gate count pins the source scan: the explode below and (above
    # the gate) every M-step read these blocks, never the source again
    emb = e.select("vec_id", "embedding").localCheckpoint(eager=False)
    small = emb.count() <= KMEANS_BC_MAX_VECS
    # read by every round's E-step AND (below the gate) every M-step:
    # materialize the explode once
    flat = _flat(emb).localCheckpoint(eager=True)
    # r15 (VERDICT r14 #5): below the gate each round's M-step reuses
    # the PINNED quantized explode with the O(n) assignment broadcast —
    # no per-round re-explode, re-cast, and no shuffle join (the
    # checkpointed assignment has no stats, so the planner can never
    # pick the broadcast itself — the CC_BC_MAX_NODES rule). Decimal
    # sums are exact (order-independent), so `craw` is bit-identical on
    # both paths.
    assign = emb.select("vec_id", (F.col("vec_id") % k).alias("cell"))
    m_agg = [
        F.round(F.sum("vq").cast("double") / F.count(F.lit(1)), 6).alias(
            "craw"
        )
    ]
    cent = None
    scored = None
    for _ in range(rounds):
        # M-step: exact decimal sum, ONE double division, round, re-grid.
        if small:
            grouped = (
                flat.join(F.broadcast(assign), "vec_id")
                .groupBy("cell", "pos")
                .agg(*m_agg)
            )
        else:
            # the assignment joins the PACKED vector table (n rows of
            # d-float arrays) and the explode happens map-side after
            # the join — same bytes through the exchange as the
            # exploded join but d x fewer shuffle rows (and d x fewer
            # join-key hashes).
            grouped = (
                emb.join(assign, "vec_id")
                .select(
                    "cell", F.posexplode("embedding").alias("pos", "v")
                )
                .select(
                    "cell",
                    F.col("pos").cast("long").alias("pos"),
                    F.col("v")
                    .cast("double")
                    .cast("decimal(28,6)")
                    .alias("vq"),
                )
                .groupBy("cell", "pos")
                .agg(*m_agg)
            )
        cent = grouped.select(
            "cell", "pos", F.col("craw").cast("decimal(28,6)").alias("cq")
        )
        scored = _estep(flat, cent)
        assign = scored.select("vec_id", "cell").localCheckpoint(eager=True)
    cells = scored.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("dist").cast("double").alias("cell_cost"),
    )
    return (
        cent.join(F.broadcast(cells), "cell", "left")
        .select(
            "cell",
            "pos",
            F.col("cq").cast("double").alias("c"),
            F.coalesce(F.col("n_vecs"), F.lit(0).cast("long")).alias(
                "n_vecs"
            ),
            F.coalesce(F.col("cell_cost"), F.lit(0.0)).alias("cell_cost"),
        )
        .orderBy("cell", "pos")
    )


def _kmeans_sql(k: int = K_CELLS, rounds: int = LLOYD_ROUNDS) -> str:
    """The Spark loop unrolled as DuckDB CTEs (the pagerank oracle
    recipe): a0 is the modulo partition, then per round r a centroid
    CTE c{r}, a distance CTE d{r}, and an argmin CTE a{r}."""
    parts = [
        f"""flat AS (
      SELECT vec_id, pv.pos AS pos,
             CAST(CAST(pv.v AS DOUBLE) AS DECIMAL(28,6)) AS vq
      FROM (
        SELECT vec_id,
               unnest(list_transform(
                 generate_series(1, len(embedding)),
                 i -> struct_pack(pos := i - 1, v := embedding[i])
               )) AS pv
        FROM embeddings
      )
    ),
    a0 AS (SELECT vec_id, vec_id % {k} AS cell FROM embeddings)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""c{r} AS (
      SELECT cell, pos,
             CAST(ROUND(CAST(SUM(vq) AS DOUBLE) / COUNT(*), 6)
                  AS DECIMAL(28,6)) AS cq
      FROM flat JOIN a{r - 1} USING (vec_id)
      GROUP BY cell, pos
    ),
    d{r} AS (
      SELECT f.vec_id, c.cell,
             SUM(CAST(f.vq - c.cq AS DECIMAL(18,6))
                 * CAST(f.vq - c.cq AS DECIMAL(18,6))) AS dist
      FROM flat f JOIN c{r} c USING (pos)
      GROUP BY f.vec_id, c.cell
    ),
    a{r} AS (
      SELECT vec_id, cell, dist FROM (
        SELECT vec_id, cell, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cell) AS rn
        FROM d{r}
      ) WHERE rn = 1
    )""")
    parts.append(f"""cells AS (
      SELECT cell, COUNT(*) AS n_vecs, CAST(SUM(dist) AS DOUBLE) AS cell_cost
      FROM a{rounds} GROUP BY cell
    )""")
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT c{rounds}.cell, CAST(c{rounds}.pos AS BIGINT) AS pos,
           CAST(c{rounds}.cq AS DOUBLE) AS c,
           COALESCE(cells.n_vecs, 0) AS n_vecs,
           COALESCE(cells.cell_cost, 0.0) AS cell_cost
    FROM c{rounds} LEFT JOIN cells USING (cell)
    ORDER BY cell, pos
    """


@register("kmeans_lloyd", _kmeans_sql())
def q_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans_lloyd(load_table(spark, sf_dir, "embeddings"))
