"""Similarity search over the embedding column (BASELINE.json north star).

- ``ann_topk_cosine``: exact brute-force top-k per query vector — rank over
  cosine similarity. Correctness anchor; also the right plan when the query
  set is small (broadcast queries x scan corpus, no index).
- ``ann_ivf_topk``: IVF-style scale path — corpus bucketed by centroid
  (k-means-like cells; here the label column doubles as the coarse
  quantizer), queries probe only the nprobe nearest centroids. Recall vs
  brute force is asserted in tests (engine-specific pruning -> rows-only
  driver check).

Dot products run JVM-side via array lambdas (`aggregate`/`zip_with`) — no
Python round-trip per row. At 100 TB the corpus side stays partitioned; the
query side broadcasts; the IVF probe turns the cross product into an
equi-join on centroid id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cours_datalake_dwh_td_kafka_spark.io import load_table
from cours_datalake_dwh_td_kafka_spark.operators.dedup import (
    cosine_sim,
    vec_dot,
    vec_norm,
)
from cours_datalake_dwh_td_kafka_spark.registry import register

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5

#: salt width of the pre-reduce in :func:`global_topk` — the max candidate
#: rows any single reducer task sees per query is TOPK_FANIN * k
TOPK_FANIN = 64


def global_topk(
    scored: DataFrame,
    top_k: int,
    fanin: int = TOPK_FANIN,
    by: tuple[str, ...] = ("query_id",),
) -> DataFrame:
    """Tree-reduced global top-k per query over a candidate stream of
    (query_id, neighbor_id, cosine) rows.

    A single ``Window.partitionBy("query_id")`` funnels EVERY partition's
    candidates for a query into one reducer task — fine at 10^4 upstream
    partitions, but at 100 TB (~10^6 tasks x k candidates each) that one
    task sorts millions of rows. Two stages bound it: (1) salt each
    candidate by a hash of its neighbor_id into ``fanin`` buckets and
    take a per-(query, salt) local top-k — each of these reducers sees
    ~partitions/fanin * k rows; (2) the final per-query window ranks at
    most fanin * k survivors. Exactness: each (query, neighbor) candidate
    is unique (one corpus partition / one IVF cell owns a vector) and
    lands in exactly one salt bucket, and any global top-k row is
    necessarily in its own bucket's top-k, so stage 2 sees every true
    winner. Ordering (cosine desc, neighbor_id asc) is a total order per
    query, so ranks are deterministic.

    ``by`` widens the ranking key: a caller scoring several result
    families in one candidate stream (e.g. one row per prefix width)
    ranks each (query_id, family) group independently — same two-stage
    shape, the extra key columns ride through to the output."""
    by = tuple(by)
    w_local = Window.partitionBy(*by, "_salt").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    pruned = (
        scored.withColumn(
            "_salt", F.pmod(F.xxhash64("neighbor_id"), F.lit(fanin))
        )
        .withColumn("_rn", F.row_number().over(w_local))
        .where(F.col("_rn") <= top_k)
        .drop("_rn", "_salt")
    )
    w = Window.partitionBy(*by).orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    extra = [c for c in by if c != "query_id"]
    return (
        pruned.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= top_k)
        .select("query_id", *extra, "neighbor_id", "cosine", "rn")
        .orderBy(*by, "rn")
    )


_ANN_SQL = f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(q.q_emb, e.embedding::DOUBLE[]), 6) AS cosine
      FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {TOP_K}
    ORDER BY query_id, rn
"""


def ann_topk_lambda(e: DataFrame) -> DataFrame:
    """Pure-DataFrame brute-force top-k: broadcast queries x corpus scan
    with JVM array-lambda dots. Kept as the engine-independent statement
    of the semantics (and the parity anchor for the BLAS path); the
    registered query uses :func:`ann_topk_bruteforce`, which computes the
    same scores ~5x faster in batched numpy."""
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    ).withColumn("nrm", vec_norm(F.col("emb")))
    queries = (
        e.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("q_emb"),
        )
        .withColumn("q_nrm", vec_norm(F.col("q_emb")))
    )
    # norms precomputed per side; cosine = dot/(na*nb) — bit-identical to
    # cosine_sim but each norm evaluates once per vector, not per pair
    cs = vec_dot(F.col("q_emb"), F.col("emb")) / (F.col("q_nrm") * F.col("nrm"))
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .where(F.col("neighbor_id") != F.col("query_id"))
        # rank on the ROUNDED cosine (same tiebreak as the oracle) so
        # float noise below 1e-6 can't reorder engines
        .withColumn("cosine", F.round(cs, 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rn")
        .orderBy("query_id", "rn")
    )


def ann_topk_bruteforce(
    e: DataFrame, top_k: int = TOP_K, n_queries: int = N_QUERIES
) -> DataFrame:
    """Exact brute-force top-k, BLAS path: collect the (by-definition
    small) query set to the driver — O(n_queries) rows, same recipe as
    the IVF probe assignment — then ONE ``mapInPandas`` pass scores each
    corpus partition against all queries with a single matmul and keeps a
    partition-local top-k. Only (partitions x queries x k) candidate rows
    leave the scan, and the global reduce is the two-stage
    :func:`global_topk` tree — no single reducer ever sees more than
    TOPK_FANIN * k rows per query, so the plan survives a 10^6-task scan.

    Same arithmetic as the oracle (dot / (|a||b|), rounded to 6 before
    ranking), so results are value-identical to :func:`ann_topk_lambda`
    (asserted in tests)."""
    import numpy as np
    import pandas as pd

    from cours_datalake_dwh_td_kafka_spark.operators import gram

    emb_d = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    q_rows = emb_d.where(F.col("vec_id") < n_queries).collect()
    if not q_rows:
        return e.sparkSession.createDataFrame(
            [], "query_id BIGINT, neighbor_id BIGINT, cosine DOUBLE, rn BIGINT"
        )
    qmat = np.vstack([np.asarray(r.emb, dtype=np.float64) for r in q_rows])
    qnrm = np.linalg.norm(qmat, axis=1)
    qids = np.asarray([int(r.vec_id) for r in q_rows])

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            x = np.vstack(pdf["emb"].to_numpy()).astype(np.float64)
            xn = np.linalg.norm(x, axis=1)
            # dot/(na*nb): same op order as the JVM lambda form and
            # DuckDB's list_cosine_similarity (NOT normalize-then-matmul)
            sims = gram.round_half_away((x @ qmat.T) / np.outer(xn, qnrm))
            out_q, out_n, out_c = [], [], []
            for j in range(len(qids)):
                keep = ids != qids[j]
                cand_ids, cand_cos = ids[keep], sims[keep, j]
                if len(cand_ids) > top_k:
                    idx = np.lexsort((cand_ids, -cand_cos))[:top_k]
                    cand_ids, cand_cos = cand_ids[idx], cand_cos[idx]
                out_q.append(np.full(len(cand_ids), qids[j]))
                out_n.append(cand_ids)
                out_c.append(cand_cos)
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q).astype("int64"),
                    "neighbor_id": np.concatenate(out_n).astype("int64"),
                    "cosine": np.concatenate(out_c),
                }
            )

    scored = emb_d.mapInPandas(
        score, "query_id BIGINT, neighbor_id BIGINT, cosine DOUBLE"
    )
    return global_topk(scored, top_k)


@register("ann_topk_cosine", _ANN_SQL)
def q_ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_topk_bruteforce(load_table(spark, sf_dir, "embeddings"))


NPROBE = 3
N_CELLS = 8


QUANTIZER_SAMPLE = 512


def _fit_cells(sample: "list[list[float]]", n_cells: int, n_iter: int = 10):
    """Deterministic spherical k-means on a driver-side sample (numpy).
    This is the FAISS-style IVF recipe: the coarse quantizer trains on a
    small sample regardless of corpus size, so quantizer fit cost is O(1)
    in the 100 TB corpus — only assignment scans the full data."""
    import numpy as np

    x = np.asarray(sample, dtype=np.float64)
    # epsilon-guard: a zero-norm embedding must not become NaN rows that
    # silently poison every argmax downstream
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    # degenerate corpus: fewer sample rows than requested cells — clamp,
    # or cell ids past len(sample) would have no centroid at all
    n_cells = max(1, min(n_cells, len(x)))
    cents = x[:n_cells].copy()
    for _ in range(n_iter):
        assign = (x @ cents.T).argmax(axis=1)
        for c in range(n_cells):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
        cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    return [[float(v) for v in c] for c in cents]


def _plan_probes(qmat, cents, nprobe: int) -> dict[int, list[int]]:
    """THE probe planner of every driver-side IVF probe (the in-query
    :func:`ivf_topk`/:func:`ivfpq_topk` and the persisted-index serving
    paths in ann_index): per cell, the rows of ``qmat`` that probe it.
    Each query probes its ``nprobe`` most similar centroids ranked by
    (similarity desc, cell id asc) — a stable argsort of the negated
    similarities — so a served index and its in-query twin probe the
    same cells by construction. ``qmat`` rows are unit vectors in the
    centroids' frame (rotated first for an OPQ index); an ``nprobe``
    past the cell count probes every cell."""
    import numpy as np

    order = np.argsort(-(qmat @ cents.T), axis=1, kind="stable")[:, :nprobe]
    cell_probes: dict[int, list[int]] = {}
    for qi, cells in enumerate(order.tolist()):
        for c in cells:
            cell_probes.setdefault(c, []).append(qi)
    return cell_probes


def ivf_topk(
    emb: DataFrame,
    n_cells: int = N_CELLS,
    nprobe: int = NPROBE,
    top_k: int = TOP_K,
    n_queries: int = N_QUERIES,
) -> DataFrame:
    """IVF (inverted-file) ANN: spherical-kmeans coarse quantizer (trained
    on a deterministic sample, see :func:`_fit_cells`), queries probe only
    the ``nprobe`` nearest cells.

    Scale path: the quantizer fits on a driver-side sample (O(1) in corpus
    size); cell assignment is a pure per-row projection against literal
    centroids (no shuffle, no ML pipeline); the probe join is an equi-join
    on cell id, shrinking each query's candidate scan by ~nprobe/n_cells.
    With nprobe == n_cells this is EXACTLY brute force (asserted in
    tests); recall at partial probe depends on how clustered the corpus
    is."""
    import numpy as np
    import pandas as pd

    from cours_datalake_dwh_td_kafka_spark.operators import gram

    emb_d = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # deterministic sample: order by md5 of the id — a seedless
    # pseudo-random spread that is identical across engines and runs
    # (TakeOrdered: one O(n) scan, no full sort shuffle)
    sample_rows = (
        emb_d.orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(QUANTIZER_SAMPLE)
        .select("emb")
        .collect()
    )
    # _fit_cells clamps the cell count on tiny corpora; the planner
    # clamps nprobe to the cells that exist
    centroids = _fit_cells([r.emb for r in sample_rows], n_cells)

    # probe assignment driver-side: the query set is small by definition
    # (that's what makes it the probe side), so its nprobe-nearest cells
    # are a numpy matmul against the centroids — one collect of n_queries
    # rows, no crossJoin/window stage
    q_rows = emb_d.where(F.col("vec_id") < n_queries).collect()
    if not q_rows:  # no probe vectors: empty result, stable schema
        return emb_d.sparkSession.createDataFrame(
            [], "query_id BIGINT, neighbor_id BIGINT, cosine DOUBLE, rn BIGINT"
        )
    cents = np.asarray(centroids, dtype=np.float64)
    qmat = np.vstack([np.asarray(r.emb, dtype=np.float64) for r in q_rows])
    qmat /= np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    qids = np.asarray([int(r.vec_id) for r in q_rows])
    # per cell: the unit query vectors probing it. Captured in the UDF
    # closure — tiny (n_queries x dim), so it ships with the task like a
    # broadcast.
    cell_probes = _plan_probes(qmat, cents, nprobe)

    # One mapInPandas pass: numpy cell assignment (X@C.T argmax) + scoring
    # against the probing queries + partition-local top-k. No join, no
    # pair stream — the shuffle after this carries only
    # (partitions x queries x k) candidate rows into the global top-k.
    # Interpreted array-lambda dots are gone: everything is BLAS.
    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            x = np.vstack(pdf["emb"].to_numpy()).astype(np.float64)
            xu = x / np.maximum(
                np.linalg.norm(x, axis=1, keepdims=True), 1e-12
            )
            assign = (xu @ cents.T).argmax(axis=1)
            out_q, out_n, out_c = [], [], []
            for c, probe_qis in cell_probes.items():
                mask = assign == c
                if not mask.any():
                    continue
                cids = ids[mask]
                sims = xu[mask] @ qmat[probe_qis].T  # (m_cell, n_probe_q)
                sims = gram.round_half_away(sims)
                for j, qi in enumerate(probe_qis):
                    col = sims[:, j]
                    keep = cids != qids[qi]  # self-exclusion
                    cand_ids, cand_cos = cids[keep], col[keep]
                    if len(cand_ids) > top_k:
                        # local top-k, same order as the global window:
                        # cosine desc, neighbor_id asc
                        idx = np.lexsort((cand_ids, -cand_cos))[:top_k]
                        cand_ids, cand_cos = cand_ids[idx], cand_cos[idx]
                    out_q.append(np.full(len(cand_ids), qids[qi]))
                    out_n.append(cand_ids)
                    out_c.append(cand_cos)
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q).astype("int64"),
                        "neighbor_id": np.concatenate(out_n).astype("int64"),
                        "cosine": np.concatenate(out_c),
                    }
                )

    scored = emb_d.mapInPandas(
        score, "query_id BIGINT, neighbor_id BIGINT, cosine DOUBLE"
    )
    return global_topk(scored, top_k)


#: pruned-search recall floor: the test corpus clusters by label, not by
#: cosine direction, so probing nprobe of n_cells is bounded below by a
#: random-cell baseline; 0.8x that is the documented guarantee (the same
#: floor tests/test_algorithms.py has pinned since round 2)
IVF_RECALL_FLOOR = 0.8 * NPROBE / N_CELLS

_IVF_RECALL_SQL = f"""
    WITH n AS (SELECT COUNT(*) AS n_vecs FROM embeddings)
    SELECT vec_id AS query_id,
           CAST(LEAST({TOP_K}, n_vecs - 1) AS BIGINT) AS k_truth,
           TRUE AS recall_ok
    FROM embeddings, n
    WHERE vec_id < {N_QUERIES}
    ORDER BY query_id
"""


def ivf_recall_check(
    e: DataFrame, ivf: DataFrame, floor: float = IVF_RECALL_FLOOR
) -> DataFrame:
    """Per-query recall@k of an ANN result vs the exact brute-force
    answer, folded to the driver-checkable scalar pair
    (k_truth, recall_ok) — the ``approx_quantiles``/``heavy_hitters_cms``
    pattern: the approximate values themselves are engine-specific, so
    the value hash pins the GUARANTEE instead. A recall drop below the
    floor flips recall_ok and fails the hash.

    Both sides of the hit-join are n_queries x k rows (the brute-force
    truth is the existing tree-reduced scan), so the check adds one
    broadcast-sized join to the search cost."""
    bf = ann_topk_bruteforce(e)
    truth = bf.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("k_truth")
    )
    hits = (
        ivf.select("query_id", "neighbor_id")
        .join(
            bf.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        truth.join(hits, "query_id", "left")
        .select(
            "query_id",
            "k_truth",
            (
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("k_truth")
                >= F.lit(floor)
            ).alias("recall_ok"),
        )
        .orderBy("query_id")
    )


@register("ann_ivf_topk", _IVF_RECALL_SQL)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-oracled via the in-query recall bound (round 5; was
    rows-only): KMeans cells are engine-specific, so the registered
    output is each query's (k_truth, recall_ok >= floor) vs the exact
    brute-force truth. Exactness-at-full-probe is separately pinned in
    tests/test_algorithms.py."""
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_recall_check(e, ivf_topk(e))


@register("ann_ivf_topk_int8", _IVF_RECALL_SQL)
def q_ann_ivf_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over the INT8-QUANTIZED corpus — the 4x
    storage/bandwidth lever :func:`quantize_embeddings` documents, run
    end-to-end: per-vector max-abs codes are dequantized
    (code * scale, a single array-lambda projection) and fed through
    the same IVF plan, so ranking quality degrades only by the
    reconstruction error (|err| <= scale/2 per dim). Value-oracled via
    the in-query recall bound vs the FLOAT brute-force truth (round 5;
    was rows-only) — quantization noise at this probe ratio measures
    well above the floor (0.42 vs 0.30 at sf0.1). At 100 TB the codes
    column is what sits on disk and crosses the scan — this query is
    the proof the search path works on it directly."""
    e = load_table(spark, sf_dir, "embeddings")
    codes = quantized_codes(e)
    recon = codes.select(
        "vec_id",
        F.transform(
            F.col("codes"), lambda c: c.cast("double") * F.col("scale")
        ).alias("embedding"),
    )
    return ivf_recall_check(e, ivf_topk(recon))


# --------------------------------------------------------------------------
# IVF-PQ: product quantization, the last rung of the quantization ladder
# (float32 -> int8 -> PQ codes) and the real 100 TB memory lever
# --------------------------------------------------------------------------
PQ_M = 16   # subspaces (64-dim embeddings -> 4-dim subvectors)
PQ_K = 32   # codewords per subspace (codes fit a byte with room to spare)
#: exact-rerank depth: the ADC pass shortlists PQ_RERANK * k candidates
#: per query, then one small join refines them with true cosines. At
#: this depth the residual loss vs exact-within-probed-cells is ~0
#: (measured: recall plateaus at rerank >= 8 — what remains is IVF cell
#: pruning, which nprobe controls, not PQ)
PQ_RERANK = 8


def _fit_pq_books(
    sample: "list[list[float]]", m: int = PQ_M, k: int = PQ_K, n_iter: int = 10
):
    """Per-subspace Lloyd k-means codebooks on the SAME deterministic
    driver-side sample as the coarse quantizer (md5-ordered ids), so
    codebook training is O(1) in corpus size — the FAISS IVF-PQ recipe.
    Plain Euclidean k-means (subvectors of unit vectors are not unit
    themselves); deterministic init from the first k sample subvectors."""
    import numpy as np

    x = np.asarray(sample, dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    d = x.shape[1] // m
    books = []
    for mi in range(m):
        sub = x[:, mi * d : (mi + 1) * d]
        kk = max(1, min(k, len(sub)))
        cents = sub[:kk].copy()
        for _ in range(n_iter):
            dist = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            assign = dist.argmin(1)
            for c in range(kk):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append(cents)
    return books


def ivfpq_topk(
    emb: DataFrame,
    n_cells: int = N_CELLS,
    nprobe: int = NPROBE,
    top_k: int = TOP_K,
    n_queries: int = N_QUERIES,
    m: int = PQ_M,
    k: int = PQ_K,
    rerank: int = PQ_RERANK,
) -> DataFrame:
    """IVF-PQ ANN search: coarse IVF cells prune the scan, PRODUCT-
    QUANTIZED codes answer it, exact rerank repairs the shortlist.

    Why PQ at 100 TB: a 64-dim float32 embedding is 256 bytes; its PQ
    code is ``m`` sub-byte indices (16 bytes here) — a 16x shrink of
    what sits on disk, crosses the scan, and fills the page cache. The
    scoring pass reads ONLY (vec_id, cell, codes) — the float column is
    never touched until the rerank join fetches the shortlist
    (n_queries * rerank * k rows, broadcast-sized).

    Asymmetric distance computation (ADC): per query, per subspace, a
    (k)-entry lookup table of dot products against the codebook; a
    candidate's approximate cosine is the table-gather sum over its m
    codes, normalized by the reconstruction norm — exact for the
    reconstruction because subspaces are orthogonal coordinate blocks:
    ||recon||^2 = sum_m ||codeword_m||^2. The codebooks train on the
    same O(1) deterministic sample as the coarse quantizer
    (:func:`_fit_pq_books`); with ``rerank`` large enough this equals
    exact search within the probed cells (asserted in tests), so the
    residual quality knobs are nprobe (cells) and rerank (PQ loss),
    each measured by the registered recall query."""
    import numpy as np

    emb_d = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    sample_rows = (
        emb_d.orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(QUANTIZER_SAMPLE)
        .select("emb")
        .collect()
    )
    sample = [r.emb for r in sample_rows]
    centroids = _fit_cells(sample, n_cells)
    books = _fit_pq_books(sample, m, k)

    q_rows = emb_d.where(F.col("vec_id") < n_queries).collect()
    if not q_rows:
        return emb_d.sparkSession.createDataFrame(
            [], "query_id BIGINT, neighbor_id BIGINT, cosine DOUBLE, rn BIGINT"
        )
    cents = np.asarray(centroids, dtype=np.float64)
    qmat = np.vstack([np.asarray(r.emb, dtype=np.float64) for r in q_rows])
    qmat /= np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    qids = np.asarray([int(r.vec_id) for r in q_rows])
    cell_probes = _plan_probes(qmat, cents, nprobe)

    luts, norms2 = _pq_probe_tables(qmat, books, m)
    shortlist_k = rerank * top_k

    # stage 1: ENCODE — what a 100 TB deployment persists (the scorer
    # below reads only these three narrow columns)
    pq = emb_d.mapInPandas(
        pq_encode_fn(cents, books), "vec_id BIGINT, cell INT, codes ARRAY<INT>"
    )

    # stage 2: ADC scan over codes only — table gathers, no floats
    scored = pq.mapInPandas(
        _adc_score_fn(cell_probes, luts, norms2, qids, shortlist_k),
        "query_id BIGINT, neighbor_id BIGINT, cosine DOUBLE",
    )
    shortlist = global_topk(scored, shortlist_k).select(
        "query_id", "neighbor_id"
    )
    # stage 3: exact rerank — fetch true vectors for the broadcast-sized
    # shortlist and rescore with real cosines
    return exact_rerank(emb_d, shortlist, qmat, qids, top_k)


def pq_encode_fn(cents, books, meta_cols=(), rotation=None):
    """mapInPandas closure encoding (vec_id, emb) rows to
    (vec_id, cell, codes) — THE one PQ encoder, shared by the in-query
    path and the persisted index build so the two can never silently
    diverge (tests pin served == in-query). ``meta_cols`` ride along
    unchanged (the filtered-ANN layout on the PQ side, r11 — same
    rule as :func:`ivf_assign_fn`'s pass-through). ``rotation`` (r11,
    OPQ): an orthonormal d x d matrix applied AFTER normalization —
    centroids and codebooks trained in the rotated frame pair with it;
    one matmul per batch, the whole cost of OPQ at encode time."""
    import numpy as np
    import pandas as pd

    m = len(books)
    d_sub = cents.shape[1] // m

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf["emb"].to_numpy()).astype(np.float64)
            xu = x / np.maximum(
                np.linalg.norm(x, axis=1, keepdims=True), 1e-12
            )
            if rotation is not None:
                xu = xu @ rotation
            cells_ = (xu @ cents.T).argmax(axis=1).astype("int32")
            codes = np.empty((len(xu), m), dtype="int32")
            for mi in range(m):
                sub = xu[:, mi * d_sub : (mi + 1) * d_sub]
                dist = ((sub[:, None, :] - books[mi][None, :, :]) ** 2).sum(
                    -1
                )
                codes[:, mi] = dist.argmin(1)
            out = {
                "vec_id": pdf["vec_id"].astype("int64"),
                "cell": cells_,
                "codes": list(codes),
            }
            for c in meta_cols:
                out[c] = pdf[c].to_numpy()
            yield pd.DataFrame(out)

    return encode


def ivf_assign_fn(cents):
    """mapInPandas closure assigning (vec_id, emb) rows to their coarse
    cell — THE one assignment kernel, shared by index build and
    incremental append."""
    import numpy as np

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf["emb"].to_numpy()).astype(np.float64)
            xn = x / np.maximum(
                np.linalg.norm(x, axis=1, keepdims=True), 1e-12
            )
            pdf = pdf.copy()
            pdf["cell"] = (xn @ cents.T).argmax(axis=1).astype("int32")
            yield pdf

    return assign


def _pq_probe_tables(qmat, books, m: int):
    """Per-query ADC tables (luts[qi][mi] = k-vector of dot products of
    the query's mi-th subvector against codebook mi — tiny, ships in the
    closure) and per-codeword squared norms (reconstruction norm by the
    orthogonal-subspace sum)."""
    import numpy as np

    d_sub = qmat.shape[1] // m
    luts = np.stack(
        [
            np.stack(
                [
                    books[mi] @ qmat[qi, mi * d_sub : (mi + 1) * d_sub]
                    for mi in range(m)
                ]
            )
            for qi in range(len(qmat))
        ]
    )
    norms2 = np.stack([(b**2).sum(axis=1) for b in books])  # (m, k)
    return luts, norms2


def _adc_score_fn(cell_probes, luts, norms2, qids, shortlist_k: int):
    """mapInPandas closure scoring (vec_id, cell, codes) rows by ADC
    table gathers — shared by the in-query path and the persisted-index
    serving path (ann_index.ivfpq_query_index)."""
    import numpy as np
    import pandas as pd

    m = norms2.shape[0]

    def adc_score(batches):
        mi_idx = np.arange(m)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            cells_ = pdf["cell"].to_numpy()
            codes = np.vstack(pdf["codes"].to_numpy())
            rn2 = norms2[mi_idx[None, :], codes].sum(axis=1)
            rnorm = np.sqrt(np.maximum(rn2, 1e-24))
            out_q, out_n, out_c = [], [], []
            for c, probe_qis in cell_probes.items():
                mask = cells_ == c
                if not mask.any():
                    continue
                cids = ids[mask]
                ccodes = codes[mask]
                cnorm = rnorm[mask]
                for qi in probe_qis:
                    dots = luts[qi][mi_idx[None, :], ccodes].sum(axis=1)
                    sims = dots / cnorm
                    keep = cids != qids[qi]
                    cand_ids, cand_cos = cids[keep], sims[keep]
                    if len(cand_ids) > shortlist_k:
                        idx = np.lexsort((cand_ids, -cand_cos))[:shortlist_k]
                        cand_ids, cand_cos = cand_ids[idx], cand_cos[idx]
                    out_q.append(np.full(len(cand_ids), qids[qi]))
                    out_n.append(cand_ids)
                    out_c.append(cand_cos)
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q).astype("int64"),
                        "neighbor_id": np.concatenate(out_n).astype("int64"),
                        "cosine": np.concatenate(out_c),
                    }
                )

    return adc_score


def exact_rerank(emb_d, shortlist, qmat, qids, top_k: int):
    """Rescore a broadcast-sized (query_id, neighbor_id) shortlist with
    TRUE cosines against the float table and take the final top-k —
    the refinement stage both PQ paths share."""
    import numpy as np
    import pandas as pd

    from cours_datalake_dwh_td_kafka_spark.operators import gram

    q_pos = {int(q): i for i, q in enumerate(qids)}

    def refine(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf["emb"].to_numpy()).astype(np.float64)
            xu = x / np.maximum(
                np.linalg.norm(x, axis=1, keepdims=True), 1e-12
            )
            qpos = pdf["query_id"].map(q_pos).to_numpy()
            sims = gram.round_half_away(
                np.einsum("ij,ij->i", xu, qmat[qpos])
            )
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].astype("int64"),
                    "neighbor_id": pdf["neighbor_id"].astype("int64"),
                    "cosine": sims,
                }
            )

    fetched = emb_d.join(
        F.broadcast(shortlist),
        emb_d["vec_id"] == shortlist["neighbor_id"],
    ).select("query_id", "neighbor_id", "emb")
    refined = fetched.mapInPandas(
        refine, "query_id BIGINT, neighbor_id BIGINT, cosine DOUBLE"
    )
    return global_topk(refined, top_k)


@register("ann_ivfpq_topk", _IVF_RECALL_SQL)
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search value-oracled via the in-query recall bound (the
    ann_ivf_topk pattern): PQ codebooks are engine-specific, so the
    hashed output is each query's (k_truth, recall_ok >= floor) vs the
    exact brute-force truth. Exactness-at-full-rerank is separately
    pinned in tests/test_algorithms.py."""
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_recall_check(e, ivfpq_topk(e))


# --------------------------------------------------------------------------
# pairwise similarity stats per label cluster (embedding analytics: the
# aggregate view a curation pipeline uses to pick cluster-level thresholds)
# --------------------------------------------------------------------------
_CLUSTER_SIM_SQL = """
    SELECT a.label,
           COUNT(*) AS n_pairs,
           ROUND(CAST(SUM(CAST(ROUND(
                   list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
                 AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS mean_cosine,
           ROUND(MAX(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])), 6) AS max_cosine
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    GROUP BY a.label
    ORDER BY a.label
"""


@register("cluster_similarity_stats", _CLUSTER_SIM_SQL)
def q_cluster_similarity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label pairwise cosine stats via partition-local numpy gram
    matrices — the same blocked-BLAS shape as
    :func:`~cours_datalake_dwh_td_kafka_spark.operators.dedup.embedding_cosine_pairs_blocked`
    (repartition by label, dense X@X.T per block), replacing the round-1
    label-equi-join with an interpreted array-lambda dot per pair (~4x
    slower, and a hot label made the JOIN itself quadratic in shuffled
    rows; here nothing quadratic ever crosses the shuffle — each block
    emits ONE partial row).

    Exactness contract with the oracle: each pair's cosine rounds to 6
    decimals, then sums as an integer number of micro-units (exact, no
    float accumulation order to disagree on), then one divide + round.
    The oracle mirrors this: SUM(CAST(ROUND(cos,6) AS DECIMAL(28,6))).
    Mean-of-rounded differs from round-of-mean by < 1e-6 — fine for a
    threshold-picking analytics view and it is what makes the result
    engine-independent.

    Memory contract (round-3 rework): Arrow batches stream into
    per-label buffers (no whole-partition ``pd.concat``) and the gram is
    computed in :data:`~...operators.gram.GRAM_CHUNK`-row chunks — one
    partial row per (label, chunk), merged by the downstream aggregate.
    A hot label costs O(n*d + chunk*n), never O(n^2)."""
    import numpy as np
    import pandas as pd

    from cours_datalake_dwh_td_kafka_spark.operators import gram

    def fold(batches):
        for label, x in gram.iter_label_matrices(batches):
            if len(x) < 2:
                continue
            for _, sims, mask in gram.iter_sim_chunks(x):
                vals = sims[mask]
                if not len(vals):
                    continue
                cos = gram.round_half_away(vals)
                micro = np.rint(cos * 1e6).astype("int64")
                yield pd.DataFrame(
                    {
                        "label": [label],
                        "n_pairs": [len(micro)],
                        "sum_micro": [int(micro.sum())],
                        "max_cosine": [float(cos.max())],
                    }
                )

    e = load_table(spark, sf_dir, "embeddings")
    src = e.select(
        "label", F.col("embedding").cast("array<double>").alias("emb")
    ).repartition("label")
    partials = src.mapInPandas(
        fold,
        "label BIGINT, n_pairs BIGINT, sum_micro BIGINT, max_cosine DOUBLE",
    )
    return (
        partials.groupBy("label")
        .agg(
            F.sum("n_pairs").alias("n_pairs"),
            F.round(
                (F.sum("sum_micro").cast("decimal(28,0)") / F.lit(1_000_000))
                .cast("double")
                / F.sum("n_pairs"),
                6,
            ).alias("mean_cosine"),
            F.round(F.max("max_cosine"), 6).alias("max_cosine"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization (per-vector max-abs scale)
# ---------------------------------------------------------------------------
_QUANT_SQL = """
    WITH s AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb,
             greatest(list_max(list_transform(embedding::DOUBLE[],
               x -> abs(x))), 1e-12) / 127 AS scale
      FROM embeddings
    ),
    err AS (
      SELECT vec_id, scale,
             len(emb) AS n_dims,
             list_transform(emb, x -> abs(x - round(x / scale) * scale))
               AS errs
      FROM s
    )
    SELECT vec_id,
           CAST(n_dims AS BIGINT) AS n_dims,
           ROUND(scale, 6) AS scale,
           ROUND(sqrt(list_sum(list_transform(errs, x -> x * x))
                      / n_dims), 6) AS rmse,
           ROUND(list_max(errs), 6) AS max_abs_err
    FROM err
    ORDER BY vec_id
"""


def _quant_scale(emb):
    """Per-vector symmetric int8 scale: max|v| / 127, epsilon-guarded so
    a zero vector quantizes to zeros instead of NaNs. Shared by
    :func:`quantize_embeddings` (error stats) and
    :func:`quantized_codes` (code arrays) so the quantization contract
    is defined exactly once."""
    return (
        F.greatest(
            F.array_max(F.transform(emb, lambda x: F.abs(x))),
            F.lit(1e-12),
        )
        / 127
    )


def quantize_embeddings(e: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization — code_i =
    round(v_i / scale) with scale = max|v| / 127 — plus reconstruction
    error stats (rmse, max abs error). This is the storage/bandwidth
    lever for ANN at 100 TB: 4x smaller vectors, and the IVF probe can
    score int8 codes with one dequant multiply. Everything is
    ``transform``/``aggregate`` array lambdas over the scan — one
    projection, no shuffle, no Python.

    The driver query emits the error STATS (hash-stable scalars);
    :func:`quantized_codes` returns the actual code arrays for sinks."""
    emb = F.col("embedding").cast("array<double>")
    scale = _quant_scale(emb)
    s = e.select("vec_id", emb.alias("emb"), scale.alias("scale"))
    errs = F.transform(
        F.col("emb"),
        lambda x: F.abs(x - F.round(x / F.col("scale")) * F.col("scale")),
    )
    err = s.select(
        "vec_id",
        "scale",
        F.size("emb").alias("n_dims"),
        errs.alias("errs"),
    )
    sq = F.aggregate(
        F.col("errs"), F.lit(0.0), lambda acc, x: acc + x * x
    )
    return err.select(
        "vec_id",
        F.col("n_dims").cast("long").alias("n_dims"),
        F.round("scale", 6).alias("scale"),
        F.round(F.sqrt(sq / F.col("n_dims")), 6).alias("rmse"),
        F.round(F.array_max("errs"), 6).alias("max_abs_err"),
    ).orderBy("vec_id")


def quantized_codes(e: DataFrame) -> DataFrame:
    """(vec_id, scale, codes array<int>) — the materializable quantized
    form; codes fit int8 by construction (|code| <= 127)."""
    emb = F.col("embedding").cast("array<double>")
    scale = _quant_scale(emb)
    return e.select(
        "vec_id",
        scale.alias("scale"),
        F.transform(
            emb, lambda x: F.round(x / scale).cast("int")
        ).alias("codes"),
    )


@register("embedding_quantize", _QUANT_SQL)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quantize_embeddings(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# per-label centroids (k-means E-step / IVF coarse-quantizer refresh)
# ---------------------------------------------------------------------------
_CENTROID_SQL = """
    WITH flat AS (
      SELECT label, pv.pos AS pos, CAST(pv.v AS DOUBLE) AS v
      FROM (
        SELECT label,
               unnest(list_transform(
                 generate_series(1, len(embedding)),
                 i -> struct_pack(pos := i - 1, v := embedding[i])
               )) AS pv
        FROM embeddings
      )
    ),
    cent AS (
      SELECT label, pos,
             ROUND(CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*), 6) AS c
      FROM flat GROUP BY label, pos
    ),
    nv AS (SELECT label, COUNT(*) AS n_vecs FROM embeddings GROUP BY label)
    SELECT label, pos, c, n_vecs
    FROM cent JOIN nv USING (label)
    ORDER BY label, pos
"""


def embedding_centroids(e: DataFrame) -> DataFrame:
    """Element-wise mean vector per label — the k-means assignment-step
    partner of :func:`ivf_topk`'s quantizer and the cluster summary
    SemDeDup-style pipelines refresh each epoch.

    Scale shape: posexplode fans each vector into (label, pos, value)
    rows, ONE (label, pos) keyed aggregate computes the exact decimal
    mean per dimension (k x d result rows regardless of corpus size —
    the map-side partial agg absorbs the d-fold row blowup), then a
    collect_list + array_sort per label reassembles the d means in
    position order. No driver collect, no UDF; compare MLlib KMeans
    which pays the same shuffle shape per iteration."""
    pos = e.select("label", F.posexplode("embedding").alias("pos", "v"))
    cent = pos.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("v").cast("double").cast("decimal(28,6)"))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("c")
    )
    nv = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    return (
        cent.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("centroid")
        )
        .join(F.broadcast(nv), "label")
        .select("label", "centroid", "n_vecs")
        .orderBy("label")
    )


@register("embedding_centroids", _CENTROID_SQL)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-form (label, pos, c, n_vecs) registration: the driver harness
    canonicalizes results in pandas and cannot hash array cells, so the
    registered query emits one scalar row per (label, dimension) instead
    of the assembled vector. :func:`embedding_centroids` keeps the
    array-typed library shape for in-engine callers (IVF refresh)."""
    e = load_table(spark, sf_dir, "embeddings")
    pos = e.select("label", F.posexplode("embedding").alias("pos", "v"))
    cent = pos.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("v").cast("double").cast("decimal(28,6)"))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("c")
    )
    nv = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    return (
        cent.join(F.broadcast(nv), "label")
        .select("label", "pos", "c", "n_vecs")
        .orderBy("label", "pos")
    )


# ---------------------------------------------------------------------------
# per-label embedding outliers: the SemDeDup-style prune list
# ---------------------------------------------------------------------------
OUTLIER_BOTTOM_K = 5

_OUTLIER_SQL = f"""
    WITH flat AS (
      SELECT label, pv.pos AS pos, CAST(pv.v AS DOUBLE) AS v
      FROM (
        SELECT label,
               unnest(list_transform(
                 generate_series(1, len(embedding)),
                 i -> struct_pack(pos := i, v := embedding[i])
               )) AS pv
        FROM embeddings
      )
    ),
    cent AS (
      SELECT label, pos,
             ROUND(CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*), 6) AS c
      FROM flat GROUP BY label, pos
    ),
    cent_arr AS (
      SELECT label, list(c ORDER BY pos) AS centroid
      FROM cent GROUP BY label
    ),
    scored AS (
      SELECT e.label, e.vec_id,
             ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                          ca.centroid), 6) AS cos_centroid
      FROM embeddings e JOIN cent_arr ca USING (label)
    ),
    ranked AS (
      SELECT label, vec_id, cos_centroid,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY cos_centroid, vec_id) AS rn
      FROM scored
    )
    SELECT label, vec_id, cos_centroid, CAST(rn AS BIGINT) AS rn
    FROM ranked
    WHERE rn <= {OUTLIER_BOTTOM_K}
    ORDER BY label, rn
"""


def embedding_outliers(
    e: DataFrame, bottom_k: int = OUTLIER_BOTTOM_K
) -> DataFrame:
    """Per label, the ``bottom_k`` vectors LEAST aligned with their
    label centroid (lowest cosine) — the candidate prune list a
    SemDeDup/quality pass reviews: members far from their cluster's
    mean are mislabeled points or junk embeddings.

    Scale shape: the centroid table is k x d (tiny — one posexplode agg,
    shared with :func:`embedding_centroids`), broadcast onto the corpus
    for a single cosine projection per vector; the per-label bottom-k is
    one window on the label key. Rounded-to-6 centroids and cosines keep
    ranks engine-identical (the ann_topk discipline)."""
    cent = embedding_centroids(e).select(
        F.col("label").alias("c_label"), "centroid"
    )
    scored = (
        e.join(F.broadcast(cent), e.label == F.col("c_label"))
        .select(
            "label",
            "vec_id",
            F.round(
                vec_dot(
                    F.col("embedding").cast("array<double>"),
                    F.col("centroid"),
                )
                / (
                    vec_norm(F.col("embedding").cast("array<double>"))
                    * vec_norm(F.col("centroid"))
                ),
                6,
            ).alias("cos_centroid"),
        )
    )
    w = Window.partitionBy("label").orderBy("cos_centroid", "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= bottom_k)
        .select("label", "vec_id", "cos_centroid", "rn")
        .orderBy("label", "rn")
    )


@register("embedding_outliers", _OUTLIER_SQL)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_outliers(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# cluster separation: intra-cohesion vs nearest-other-centroid cosine
# ---------------------------------------------------------------------------
_SEPARATION_SQL = """
    WITH flat AS (
      SELECT label, pv.pos AS pos, CAST(pv.v AS DOUBLE) AS v
      FROM (
        SELECT label,
               unnest(list_transform(
                 generate_series(1, len(embedding)),
                 i -> struct_pack(pos := i, v := embedding[i])
               )) AS pv
        FROM embeddings
      )
    ),
    cent AS (
      SELECT label, pos,
             ROUND(CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*), 6) AS c
      FROM flat GROUP BY label, pos
    ),
    cent_arr AS (
      SELECT label, list(c ORDER BY pos) AS centroid
      FROM cent GROUP BY label
    ),
    intra AS (
      SELECT e.label,
             ROUND(CAST(SUM(CAST(ROUND(list_cosine_similarity(
                     e.embedding::DOUBLE[], ca.centroid), 6)
                   AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6)
               AS mean_intra_cos
      FROM embeddings e JOIN cent_arr ca USING (label)
      GROUP BY e.label
    ),
    inter AS (
      SELECT a.label,
             b.label AS nearest_label,
             ROUND(list_cosine_similarity(a.centroid, b.centroid), 6)
               AS inter_cos,
             ROW_NUMBER() OVER (
               PARTITION BY a.label
               ORDER BY ROUND(list_cosine_similarity(a.centroid,
                                                     b.centroid), 6) DESC,
                        b.label
             ) AS rn
      FROM cent_arr a JOIN cent_arr b ON a.label <> b.label
    )
    SELECT i.label, n.nearest_label, n.inter_cos, i.mean_intra_cos,
           ROUND(i.mean_intra_cos - n.inter_cos, 6) AS separation
    FROM intra i JOIN inter n ON n.label = i.label AND n.rn = 1
    ORDER BY i.label
"""


def centroid_separation(e: DataFrame) -> DataFrame:
    """Per-label cluster quality: mean cosine of members to their own
    centroid (cohesion) vs the cosine to the NEAREST other centroid
    (separation margin) — the cheap silhouette stand-in embedding
    pipelines track per epoch. A label whose nearest-other cosine
    approaches its cohesion is a merge candidate (or a labeling bug).

    Scale shape: the centroid table is k x d; pairwise centroid cosines
    are a k^2 driver-free broadcast join (k = label count, tiny by
    definition); cohesion is one broadcast join + keyed aggregate over
    the corpus — the expensive pass is a single scan."""
    cent = embedding_centroids(e).select(
        F.col("label").alias("c_label"), "centroid"
    )
    intra = (
        e.join(F.broadcast(cent), e.label == F.col("c_label"))
        .select(
            "label",
            F.round(
                vec_dot(
                    F.col("embedding").cast("array<double>"),
                    F.col("centroid"),
                )
                / (
                    vec_norm(F.col("embedding").cast("array<double>"))
                    * vec_norm(F.col("centroid"))
                ),
                6,
            ).alias("cosc"),
        )
        .groupBy("label")
        .agg(
            F.round(
                F.sum(F.col("cosc").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_intra_cos")
        )
    )
    ca = cent.select(F.col("c_label").alias("label"), F.col("centroid").alias("ca"))
    cb = cent.select(
        F.col("c_label").alias("nearest_label"), F.col("centroid").alias("cb")
    )
    pair_cos = F.round(
        vec_dot(F.col("ca"), F.col("cb"))
        / (vec_norm(F.col("ca")) * vec_norm(F.col("cb"))),
        6,
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("inter_cos"), "nearest_label"
    )
    inter = (
        ca.join(cb, F.col("label") != F.col("nearest_label"))
        .select("label", "nearest_label", pair_cos.alias("inter_cos"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        intra.join(inter, "label")
        .select(
            "label",
            "nearest_label",
            "inter_cos",
            "mean_intra_cos",
            F.round(
                F.col("mean_intra_cos") - F.col("inter_cos"), 6
            ).alias("separation"),
        )
        .orderBy("label")
    )


@register("centroid_separation", _SEPARATION_SQL)
def q_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return centroid_separation(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# beyond-ref: k-NN label agreement — embedding-quality eval as a query
# ---------------------------------------------------------------------------
_KNN_LABEL_SQL = f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb, label
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT q.query_id, q.label AS true_label, e.vec_id AS neighbor_id,
             e.label AS n_label,
             ROUND(list_cosine_similarity(q.q_emb, e.embedding::DOUBLE[]),
                   6) AS cosine
      FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    ),
    votes AS (
      SELECT query_id, true_label, n_label, COUNT(*) AS n_votes
      FROM ranked WHERE rn <= {TOP_K}
      GROUP BY query_id, true_label, n_label
    ),
    best AS (
      SELECT query_id, true_label, n_label AS predicted_label, n_votes,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY n_votes DESC, n_label) AS vr
      FROM votes
    )
    SELECT query_id,
           CAST(true_label AS INT) AS true_label,
           CAST(predicted_label AS INT) AS predicted_label,
           CAST(n_votes AS BIGINT) AS n_votes,
           predicted_label = true_label AS correct
    FROM best WHERE vr = 1
    ORDER BY query_id
"""


def knn_label_accuracy(e: DataFrame) -> DataFrame:
    """k-NN majority-vote label prediction over the exact cosine top-k —
    the standard embedding-quality eval (kNN probe): if an embedding
    space is any good, a vector's nearest neighbors share its label.
    Per query: the true label, the top-k majority label (ties break on
    the smaller label id), the winning vote count, and the verdict —
    the confusion table a training run tracks per checkpoint.

    Scale shape: neighbor search is the tree-reduced BLAS brute force
    (:func:`ann_topk_bruteforce` — the same plan the ANN family pins);
    voting adds two query-keyed aggregations over k·n_queries rows,
    driver-free. The vote half is search-agnostic (:func:`knn_vote`) —
    the persisted-index 100 TB path is ``knn_label_accuracy_ivf``
    (operators/ann_index.py), which feeds it the SERVED top-k."""
    return knn_vote(ann_topk_bruteforce(e), e)


def knn_vote(topk: DataFrame, e: DataFrame) -> DataFrame:
    """Search-agnostic voting half of the kNN label probe: given ANY
    (query_id, neighbor_id) top-k result set, predict each query's
    label by neighbor majority (ties break on the smaller label id) and
    compare against its true label. Two broadcast label joins + two
    query-keyed aggregations over k·n_queries rows — driver-free."""
    labels = e.select("vec_id", "label")
    truth = labels.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
        "label", "true_label"
    )
    nlab = labels.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed(
        "label", "n_label"
    )
    votes = (
        topk.join(F.broadcast(truth), "query_id")
        .join(F.broadcast(nlab), "neighbor_id")
        .groupBy("query_id", "true_label", "n_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("n_label")
    )
    return (
        votes.withColumn("vr", F.row_number().over(w))
        .where(F.col("vr") == 1)
        .select(
            "query_id",
            F.col("true_label").cast("int").alias("true_label"),
            F.col("n_label").cast("int").alias("predicted_label"),
            F.col("n_votes").cast("bigint").alias("n_votes"),
            (F.col("n_label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("query_id")
    )


@register("knn_label_accuracy", _KNN_LABEL_SQL)
def q_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_label_accuracy(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# beyond-ref: matryoshka prefix-dimension retrieval agreement
# ---------------------------------------------------------------------------
PREFIX_DIMS = 16

_PREFIX_OVERLAP_SQL = f"""
    WITH q AS (
      SELECT vec_id AS query_id,
             embedding::DOUBLE[] AS q_full,
             (embedding[1:{PREFIX_DIMS}])::DOUBLE[] AS q_pre
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(q.q_full, e.embedding::DOUBLE[]),
                   6) AS cos_full,
             ROUND(list_cosine_similarity(
                     q.q_pre, (e.embedding[1:{PREFIX_DIMS}])::DOUBLE[]),
                   6) AS cos_pre
      FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    ),
    rk AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_full DESC, neighbor_id)
               AS rn_full,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_pre DESC, neighbor_id)
               AS rn_pre
      FROM scored
    ),
    f AS (SELECT query_id, neighbor_id FROM rk WHERE rn_full <= {TOP_K}),
    p AS (SELECT query_id, neighbor_id FROM rk WHERE rn_pre <= {TOP_K}),
    ov AS (
      SELECT f.query_id, COUNT(p.neighbor_id) AS n_overlap
      FROM f LEFT JOIN p
        ON f.query_id = p.query_id AND f.neighbor_id = p.neighbor_id
      GROUP BY f.query_id
    )
    SELECT query_id,
           CAST({TOP_K} AS BIGINT) AS k,
           CAST(n_overlap AS BIGINT) AS n_overlap,
           ROUND(n_overlap / CAST({TOP_K} AS DOUBLE), 6) AS overlap_frac
    FROM ov
    ORDER BY query_id
"""


def embedding_prefix_overlap(
    e: DataFrame, prefix_dims: int = PREFIX_DIMS
) -> DataFrame:
    """Retrieval agreement between full-dimension and PREFIX-dimension
    cosine top-k — the matryoshka-representation question (Kusupati et
    al. 2022): how much ranking quality survives truncating every
    embedding to its first ``prefix_dims`` coordinates? Per query:
    overlap@k between the exact full-dim top-k and the exact
    truncated-dim top-k. High overlap means the cheap prefix index
    (4x less memory and FLOPs here) can serve first-stage retrieval
    with full-dim rescoring only on the short list.

    Scale shape: both searches are the tree-reduced BLAS brute force
    (the ANN family's pinned plan) — the truncated side just maps over
    a sliced array column, so it costs prefix/full of the FLOPs; the
    overlap is one (query, neighbor)-keyed join over two k-by-n_queries
    result sets plus a query-keyed count. Both rankings are
    deterministic (round-6 cosine, neighbor-id tiebreak), so the
    overlap is exact, not a sampled estimate."""
    full = ann_topk_bruteforce(e).select("query_id", "neighbor_id")
    pre = ann_topk_bruteforce(
        e.select(
            "vec_id",
            F.slice(F.col("embedding"), 1, prefix_dims).alias("embedding"),
        )
    ).select(
        F.col("query_id").alias("p_query_id"),
        F.col("neighbor_id").alias("p_neighbor_id"),
    )
    return (
        full.join(
            pre,
            (F.col("query_id") == F.col("p_query_id"))
            & (F.col("neighbor_id") == F.col("p_neighbor_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("p_neighbor_id").alias("n_overlap"))
        .select(
            "query_id",
            F.lit(TOP_K).cast("bigint").alias("k"),
            F.col("n_overlap").cast("bigint").alias("n_overlap"),
            F.round(F.col("n_overlap") / F.lit(float(TOP_K)), 6).alias(
                "overlap_frac"
            ),
        )
        .orderBy("query_id")
    )


@register("embedding_prefix_overlap", _PREFIX_OVERLAP_SQL)
def q_embedding_prefix_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_prefix_overlap(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# beyond-ref: the nprobe tuning curve with its structural guarantees
# ---------------------------------------------------------------------------
NPROBE_CURVE = (1, 2, 4, N_CELLS)

_NPROBE_CURVE_SQL = " UNION ALL ".join(
    f"SELECT CAST({p} AS BIGINT) AS nprobe, TRUE AS monotone_ok, "
    "TRUE AS full_probe_exact"
    for p in NPROBE_CURVE
) + " ORDER BY nprobe"


def ivf_nprobe_curve(e: DataFrame, probes: tuple = NPROBE_CURVE) -> DataFrame:
    """The recall-vs-nprobe tuning curve every IVF deployment sizes its
    probe budget from, folded to its two STRUCTURAL guarantees (the
    raw recalls are quantizer-specific, so the driver-checked columns
    are the invariants — the approx_quantiles pattern):

    - ``monotone_ok``: recall@k never decreases as nprobe grows. This
      is a theorem for a FIXED quantizer: probing more cells yields a
      candidate superset, and a new candidate can only evict a row
      from the local top-k by outranking it — but anything outranking
      a true top-k member is itself a true top-k member, so hits never
      drop. A violation means the rank order isn't total (rounding /
      tiebreak bug), not that the corpus is unclustered.
    - ``full_probe_exact``: at nprobe == n_cells the search IS brute
      force — recall exactly 1 (also pinned in tests; this row makes
      it driver-attested).

    Scale shape: one exact brute-force truth (tree-reduced, pinned
    localCheckpoint — it feeds every curve point), |probes| IVF passes
    (each the standard scan-bounded kernel), and the verdicts are
    integer hit counts through scalar aggregates — no window, no
    driver math beyond the bounded query/centroid collects each pass
    already does."""
    from cours_datalake_dwh_td_kafka_spark.operators.attest import (
        parallel_vals,
    )

    # the curve points depend only on the pinned truth (the chain lives
    # in the VERDICTS, not the passes): pin the brute-force truth
    # EAGERLY once, then run every probe level's hit count — each its
    # own read-only job — as one overlapped pool (r14, guide §2.6).
    # Identical counts, identical booleans.
    truth = (
        ann_topk_bruteforce(e)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    spark = e.sparkSession
    n_truth, *hit_counts = parallel_vals(
        lambda: truth.count(),
        *[
            lambda p=p: ivf_topk(e, nprobe=p)
            .select("query_id", "neighbor_id")
            .join(truth, ["query_id", "neighbor_id"])
            .count()
            for p in probes
        ],
    )
    rows = [
        (
            int(nprobe),
            hit_counts[i] >= (hit_counts[i - 1] if i else -1),
            (nprobe < N_CELLS) or hit_counts[i] == n_truth,
        )
        for i, nprobe in enumerate(probes)
    ]
    return spark.createDataFrame(
        rows, "nprobe BIGINT, monotone_ok BOOLEAN, full_probe_exact BOOLEAN"
    ).orderBy("nprobe")


@register("ivf_nprobe_curve", _NPROBE_CURVE_SQL)
def q_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_nprobe_curve(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# hard-negative mining: the contrastive-training data miner
# ---------------------------------------------------------------------------
HARDNEG_K = 5

_HARDNEG_SQL = f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS q_label,
             embedding::DOUBLE[] AS q_emb
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neg_label,
             ROUND(list_cosine_similarity(q.q_emb, e.embedding::DOUBLE[]),
                   6) AS cosine
      FROM q JOIN embeddings e
        ON e.vec_id <> q.query_id AND e.label <> q.q_label
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, neg_label, cosine,
           CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {HARDNEG_K}
    ORDER BY query_id, rn
"""


def hard_negative_mining(
    e: DataFrame, top_k: int = HARDNEG_K, n_queries: int = N_QUERIES
) -> DataFrame:
    """Hard-negative mining — for each probe vector, the most-similar
    vectors carrying a DIFFERENT label: the pairs a contrastive /
    embedding-finetune loop trains against, because easy (dissimilar)
    negatives teach nothing and same-label neighbors are positives.
    Mined corpus-wide, this is the dataset-construction step behind
    dense retrievers (in-batch negatives are a weak proxy; mined hard
    negatives are the strong one).

    Scale shape: the :func:`ann_topk_bruteforce` kernel with the label
    mask pushed INSIDE the scan — one BLAS matmul per partition scores
    all queries, same-label candidates are masked before the
    partition-local top-k, so only (partitions x queries x k) rows ever
    leave the scan and the global reduce is the two-stage tree. This
    exact form collects the probe batch to the driver — right for a
    bounded probe set, impossible corpus-wide; the SERVED form is
    ``ann_index.hard_negative_mining_ivf`` (round 10): the label rides
    in the persisted index as a metadata column and the mask runs
    inside the probed-cell scan, measured against this miner per query
    by an in-query recall bound."""
    import numpy as np
    import pandas as pd

    from cours_datalake_dwh_td_kafka_spark.operators import gram

    emb_d = e.select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    q_rows = emb_d.where(F.col("vec_id") < n_queries).collect()
    if not q_rows:
        return e.sparkSession.createDataFrame(
            [],
            "query_id BIGINT, neighbor_id BIGINT, neg_label INT, "
            "cosine DOUBLE, rn BIGINT",
        )
    qmat = np.vstack([np.asarray(r.emb, dtype=np.float64) for r in q_rows])
    qnrm = np.linalg.norm(qmat, axis=1)
    qids = np.asarray([int(r.vec_id) for r in q_rows])
    qlabels = np.asarray([int(r.label) for r in q_rows])

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            labels = pdf["label"].to_numpy()
            x = np.vstack(pdf["emb"].to_numpy()).astype(np.float64)
            xn = np.linalg.norm(x, axis=1)
            sims = gram.round_half_away((x @ qmat.T) / np.outer(xn, qnrm))
            out = []
            for j in range(len(qids)):
                # the label MASK must precede the top-k (that is the
                # operator); the label VALUE is re-attached after the
                # global reduce instead of riding the shuffle
                keep = (ids != qids[j]) & (labels != qlabels[j])
                cand_ids, cand_cos = ids[keep], sims[keep, j]
                if len(cand_ids) > top_k:
                    idx = np.lexsort((cand_ids, -cand_cos))[:top_k]
                    cand_ids, cand_cos = cand_ids[idx], cand_cos[idx]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(
                                len(cand_ids), qids[j], dtype="int64"
                            ),
                            "neighbor_id": cand_ids.astype("int64"),
                            "cosine": cand_cos,
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    scored = emb_d.mapInPandas(
        score, "query_id BIGINT, neighbor_id BIGINT, cosine DOUBLE"
    )
    ranked = global_topk(scored, top_k)
    lab = emb_d.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neg_label"),
    )
    return (
        ranked.join(lab, "neighbor_id")
        .select("query_id", "neighbor_id", "neg_label", "cosine", "rn")
        .orderBy("query_id", "rn")
    )


@register("hard_negative_mining", _HARDNEG_SQL)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hard_negative_mining(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# OPQ: Optimized Product Quantization (round 11, beyond-ref) — learn an
# orthonormal rotation R that redistributes variance across the PQ
# subspaces before coding (Ge et al., CVPR 2013, "Optimized Product
# Quantization for Approximate Nearest Neighbor Search"; the OPQ_NP
# alternation). Rotation costs ONE d x d matmul folded into the encode
# pass and nothing at all at rest — the codes stay m small ints — so at
# 100 TB it is free accuracy: same storage, same ADC scan, lower
# quantization error.
# ---------------------------------------------------------------------------
OPQ_ITERS = 8
OPQ_QUERIES = 32
OPQ_TOP_K = 10
#: ADC-only (no rerank) recall floor for the OPQ codes at OPQ_TOP_K —
#: measured (deterministic per SF): 0.61 / 0.61 / 0.40 at sf0.001 /
#: 0.01 / 0.1 (vs plain PQ 0.56 / 0.54 / 0.41 — OPQ wins at the small
#: SFs and ties at 0.1, where 16-byte codes saturate against a 20k
#: corpus and rerank is the production repair). Floor 0.3 with margin.
OPQ_RECALL_FLOOR = 0.3
OPQ_RECALL_TIE_TOL = 0.05


def _lloyd_warm(sub, cents, n_iter: int = 4):
    """Warm-started Lloyd steps (assignment + mean updates, empty
    clusters keep their centroid) — each step is non-increasing in the
    quantization objective, which the OPQ monotonicity guarantee
    needs (a cold re-init per outer iteration could jump up)."""
    import numpy as np

    cents = np.asarray(cents, dtype=np.float64).copy()
    for _ in range(n_iter):
        dist = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assign = dist.argmin(1)
        for c in range(len(cents)):
            members = sub[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def _pq_reconstruct(x, books):
    """Encode-then-decode under per-subspace codebooks."""
    import numpy as np

    m = len(books)
    d_sub = x.shape[1] // m
    xhat = np.empty_like(x)
    for mi in range(m):
        sub = x[:, mi * d_sub : (mi + 1) * d_sub]
        dist = ((sub[:, None, :] - books[mi][None, :, :]) ** 2).sum(-1)
        xhat[:, mi * d_sub : (mi + 1) * d_sub] = books[mi][dist.argmin(1)]
    return xhat


def fit_opq(
    sample: "list[list[float]]",
    m: int = PQ_M,
    k: int = PQ_K,
    n_iter: int = OPQ_ITERS,
):
    """OPQ_NP alternation on the deterministic driver-side sample:
    start from R = I with the PLAIN PQ codebooks (so iteration zero's
    objective equals plain PQ's sample MSE exactly), then repeat
    { rotate, warm-Lloyd the codebooks, reconstruct, update R by the
    orthogonal Procrustes solution R = U V^T of SVD(X^T X_hat) }.
    Every sub-step is non-increasing in ||X R - X_hat||^2, so
    ``mse_opq <= mse_pq`` on the training sample holds BY CONSTRUCTION
    — the guarantee the attested row states. Returns
    (R, books, mse_pq, mse_opq); all O(sample * d) driver work on a
    QUANTIZER_SAMPLE-row sample, O(1) in corpus size."""
    import numpy as np

    x = np.asarray(sample, dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    d = x.shape[1]
    d_sub = d // m
    R = np.eye(d)
    books = [np.asarray(b, dtype=np.float64).copy()
             for b in _fit_pq_books(sample, m, k)]
    mse_pq = float(((x - _pq_reconstruct(x, books)) ** 2).sum() / len(x))
    for _ in range(n_iter):
        xr = x @ R
        for mi in range(m):
            books[mi] = _lloyd_warm(
                xr[:, mi * d_sub : (mi + 1) * d_sub], books[mi]
            )
        xhat = _pq_reconstruct(xr, books)
        u, _, vt = np.linalg.svd(x.T @ xhat)
        R = u @ vt
    xr = x @ R
    mse_opq = float(((xr - _pq_reconstruct(xr, books)) ** 2).sum() / len(x))
    return R, books, mse_pq, mse_opq


def _corpus_sse_fn(books_pq, R, books_opq):
    """mapInPandas closure: per-batch partial sums of reconstruction
    SSE under plain PQ and under OPQ (residuals measured in the rotated
    frame, which equals the original frame by orthogonal invariance).
    Only (n, sse_pq, sse_opq) triples leave each partition. The
    reconstruct is NESTED so the closure ships self-contained (plain
    driver sessions' python workers don't have this repo importable —
    the round-3 gram-kernel lesson)."""
    import numpy as np
    import pandas as pd

    def recon(x, books):
        m = len(books)
        d_sub = x.shape[1] // m
        xhat = np.empty_like(x)
        for mi in range(m):
            sub = x[:, mi * d_sub : (mi + 1) * d_sub]
            dist = ((sub[:, None, :] - books[mi][None, :, :]) ** 2).sum(-1)
            xhat[:, mi * d_sub : (mi + 1) * d_sub] = books[mi][
                dist.argmin(1)
            ]
        return xhat

    def fold(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf["emb"].to_numpy()).astype(np.float64)
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            sse_pq = float(((x - recon(x, books_pq)) ** 2).sum())
            xr = x @ R
            sse_opq = float(((xr - recon(xr, books_opq)) ** 2).sum())
            yield pd.DataFrame(
                {"n": [len(x)], "sse_pq": [sse_pq], "sse_opq": [sse_opq]}
            )

    return fold


def _adc_flat_topk(emb_d, books, qmat_rot, qids, top_k: int, R=None):
    """ADC-only flat top-k (no IVF pruning, NO exact rerank — the raw
    codebook quality signal): encode each partition's vectors (rotated
    when ``R`` is given), score by LUT gathers against the rotated
    queries, keep a partition-local top-k, tree-reduce. Same two-stage
    reduce as every ANN row."""
    import numpy as np
    import pandas as pd

    m = len(books)
    luts, norms2 = _pq_probe_tables(qmat_rot, books, m)

    def score(batches):
        mi_idx = np.arange(m)
        d_sub = qmat_rot.shape[1] // m
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            x = np.vstack(pdf["emb"].to_numpy()).astype(np.float64)
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            if R is not None:
                x = x @ R
            codes = np.empty((len(x), m), dtype="int64")
            for mi in range(m):
                sub = x[:, mi * d_sub : (mi + 1) * d_sub]
                dist = ((sub[:, None, :] - books[mi][None, :, :]) ** 2).sum(-1)
                codes[:, mi] = dist.argmin(1)
            rn2 = norms2[mi_idx[None, :], codes].sum(axis=1)
            rnorm = np.sqrt(np.maximum(rn2, 1e-24))
            out_q, out_n, out_c = [], [], []
            for qi in range(len(qids)):
                dots = luts[qi][mi_idx[None, :], codes].sum(axis=1)
                sims = dots / rnorm
                keep = ids != qids[qi]
                cand_ids, cand_cos = ids[keep], sims[keep]
                if len(cand_ids) > top_k:
                    idx = np.lexsort((cand_ids, -cand_cos))[:top_k]
                    cand_ids, cand_cos = cand_ids[idx], cand_cos[idx]
                out_q.append(np.full(len(cand_ids), qids[qi]))
                out_n.append(cand_ids)
                out_c.append(cand_cos)
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q).astype("int64"),
                    "neighbor_id": np.concatenate(out_n).astype("int64"),
                    "cosine": np.concatenate(out_c),
                }
            )

    scored = emb_d.mapInPandas(
        score, "query_id BIGINT, neighbor_id BIGINT, cosine DOUBLE"
    )
    return global_topk(scored, top_k)


def opq_quality(
    e: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    n_queries: int = OPQ_QUERIES,
    top_k: int = OPQ_TOP_K,
) -> DataFrame:
    """Head-to-head quality protocol for OPQ vs plain PQ at identical
    (m, k) code budget: fit both on the shared deterministic sample,
    then over the CORPUS measure (a) reconstruction MSE both ways in
    one fold pass, and (b) ADC-only recall@k against the exact
    brute-force truth for a bounded query batch. One output row of
    guarantees + counts:

    - ``rotation_orthonormal_ok``: ||R R^T - I||_max < 1e-8 (Procrustes
      returns U V^T, orthonormal by construction);
    - ``opq_sample_mse_improved``: sample MSE(OPQ) <= sample MSE(PQ) —
      guaranteed by the monotone alternation (see :func:`fit_opq`);
    - ``opq_corpus_mse_improved``: the rotation generalizes — corpus
      MSE(OPQ) <= corpus MSE(PQ);
    - ``opq_recall_ok``: ADC-only recall@k of OPQ codes >= the floor
      AND >= plain PQ's recall - tie tolerance.

    Driver-side state: R (d x d), 2m codebooks (k x d/m), the query
    batch, and per-query recall counts — k x d artifacts only, the
    centroid-collect discipline."""
    import numpy as np

    from cours_datalake_dwh_td_kafka_spark.operators import gram

    emb_d = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    sample_rows = (
        emb_d.orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(QUANTIZER_SAMPLE)
        .select("emb")
        .collect()
    )
    sample = [r.emb for r in sample_rows]
    books_pq = _fit_pq_books(sample, m, k)
    R, books_opq, mse_pq_s, mse_opq_s = fit_opq(sample, m, k)
    orth_ok = bool(
        np.abs(R @ R.T - np.eye(R.shape[0])).max() < 1e-8
    )

    sse = (
        emb_d.mapInPandas(
            _corpus_sse_fn(books_pq, R, books_opq),
            "n BIGINT, sse_pq DOUBLE, sse_opq DOUBLE",
        )
        .agg(
            F.sum("n").alias("n"),
            F.sum("sse_pq").alias("sp"),
            F.sum("sse_opq").alias("so"),
        )
        .first()
    )
    n_vectors = int(sse["n"])
    corpus_improved = bool(float(sse["so"]) <= float(sse["sp"]))

    q_rows = emb_d.where(F.col("vec_id") < n_queries).collect()
    qmat = np.vstack([np.asarray(r.emb, dtype=np.float64) for r in q_rows])
    qmat /= np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    qids = np.asarray([int(r.vec_id) for r in q_rows])

    truth = ann_topk_bruteforce(
        e, top_k=top_k, n_queries=n_queries
    ).select("query_id", "neighbor_id")
    n_truth = truth.count()

    def _recall(adc) -> float:
        hits = adc.select("query_id", "neighbor_id").join(
            truth, ["query_id", "neighbor_id"]
        )
        return hits.count() / max(n_truth, 1)

    rec_pq = _recall(_adc_flat_topk(emb_d, books_pq, qmat, qids, top_k))
    rec_opq = _recall(
        _adc_flat_topk(emb_d, books_opq, qmat @ R, qids, top_k, R=R)
    )
    recall_ok = bool(
        rec_opq >= OPQ_RECALL_FLOOR
        and rec_opq >= rec_pq - OPQ_RECALL_TIE_TOL
    )
    return e.sparkSession.createDataFrame(
        [
            (
                n_vectors,
                int(len(qids)),
                orth_ok,
                bool(mse_opq_s <= mse_pq_s + 1e-12),
                corpus_improved,
                recall_ok,
            )
        ],
        "n_vectors BIGINT, n_queries BIGINT, "
        "rotation_orthonormal_ok BOOLEAN, opq_sample_mse_improved BOOLEAN, "
        "opq_corpus_mse_improved BOOLEAN, opq_recall_ok BOOLEAN",
    )


_OPQ_SQL = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST({OPQ_QUERIES} AS BIGINT) AS n_queries,
           TRUE AS rotation_orthonormal_ok,
           TRUE AS opq_sample_mse_improved,
           TRUE AS opq_corpus_mse_improved,
           TRUE AS opq_recall_ok
    FROM embeddings
"""


@register("ann_opq_quality", _OPQ_SQL)
def q_ann_opq_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return opq_quality(load_table(spark, sf_dir, "embeddings"))
