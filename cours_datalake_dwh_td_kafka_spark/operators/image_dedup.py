"""Image AND video near-duplicate detection via a DCT perceptual hash
(pHash) — the dedup modalities the text/embedding families don't cover.
The round-7 brief's motivation: a training-data pipeline dedups
re-encoded, resized, and brightness-shifted copies of the same image,
which byte-level exact dedup misses entirely; videos extend the same
hash to scene-cut keyframe SETS compared by containment (trimmed and
re-graded copies, see dedup_video_phash at the bottom of this module).

Pipeline (all deterministic integer arithmetic, so the DuckDB oracle can
recompute every hash bit from the raw document bytes):

1. decode the BMP payload (the repo's real codec, multimodal.py) and
   collapse each pixel to an integer gray value (sum of the 3 channels,
   0..765 — channel-order invariant, no float luma weights);
2. nearest-neighbor downsample to 8x8 with the floor-index rule
   ``src = dst * src_dim // dst_dim`` (the same rule as resize_images,
   which makes pHash provably invariant under the repo's own resizes:
   the index maps compose exactly — floor(2*d*h/16) == floor(d*h/8));
3. mean-center in scaled integers: X = 64*g - sum(g) over the 64 cells
   (integer mean subtraction without division; uniform brightness
   shifts cancel exactly, so +k-per-channel copies hash identically);
4. 2-D transform with the FIXED-POINT DCT matrix T = round(64 * DCT8) —
   the H.264/AVC integer-transform trick: C = T @ X @ T.T is pure int64
   arithmetic, bit-exact on every engine, while keeping the DCT's
   energy compaction (float DCT sign bits would hinge on summation
   order near zero and could never hash-match across engines);
5. 60-bit sign hash: bit idx-1 = (C[idx] > 0) for idx = u*8+v in 1..60
   (DC is identically 0 after mean-centering; the 3 highest-frequency
   cells are dropped — least perceptual, keeps the hash a positive
   BIGINT).

Near-dup pairs come from a TWO-LEVEL pigeonhole Hamming banding (the
dedup_simhash_pairs recipe generalized to variable band widths): a pair
with hamming <= 5 matches exactly on one of 6 bands of 10 bits, and,
given that band, on one of 6 sub-bands partitioning the other 50 bits —
so candidates are an equi-join on ~36 packed keys per image, never an
all-pairs product, and expected random-collision candidates scale as
n^2 / 2^19 per key instead of n^2 / 2^10. True Hamming distance verifies
every candidate; output provably equals the all-pairs theta join.

Reference parity: the reference course has no image pipeline at all
(its only binary handling is Kafka byte streams, work/tester.py); this
is a beyond-ref LLM-pipeline operator per the build brief.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cours_datalake_dwh_td_kafka_spark.io import load_table
from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
    IMG_W,
    decode_bmp24,
    encode_bmp24,
)
from cours_datalake_dwh_td_kafka_spark.registry import register

PHASH_GRID = 8          # downsample target (8x8 cells)
PHASH_BITS = 60         # sign bits kept (idx 1..60 of the 64 cells)
PHASH_HAMMING_MAX = 5   # near-dup threshold
_T_SCALE = 64           # fixed-point scale of the integer DCT matrix


def _int_dct_matrix(n: int = PHASH_GRID, scale: int = _T_SCALE) -> list[list[int]]:
    """Fixed-point DCT-II basis: round(scale * orthonormal DCT). Computed
    once in pure Python and embedded verbatim in BOTH the Spark closure
    and the oracle SQL, so rounding mode is irrelevant to parity."""
    out = []
    for u in range(n):
        a = math.sqrt(1.0 / n) if u == 0 else math.sqrt(2.0 / n)
        out.append(
            [
                int(round(scale * a * math.cos((2 * r + 1) * u * math.pi / (2 * n))))
                for r in range(n)
            ]
        )
    return out


_PHASH_T = _int_dct_matrix()


def phash_corpus(d: DataFrame, width: int = IMG_W) -> DataFrame:
    """Image-modality docs -> (img_id, payload) with TWO real BMP files
    per doc: img_id = 2*doc_id is the original (the synth_bmp_images
    byte->pixel contract: doc byte 3p+c is channel c of pixel p), and
    img_id = 2*doc_id + 1 is a deterministic re-encode with byte i
    perturbed by +(i % 2) — a checkerboard-phase +-1 noise floor, the
    worst case for a sign hash (high-frequency, so it lands in the AC
    coefficients rather than cancelling in the mean like a uniform
    brightness shift would). Near-dup truth for the attested query is
    whatever the hash says on BOTH engines."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, payloads = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
                h = int(b.size) // (3 * width)
                if h == 0:
                    continue
                px = b[: h * width * 3]
                ids.append(2 * int(doc_id))
                payloads.append(encode_bmp24(px.reshape(h, width, 3)))
                pert = np.minimum(
                    px.astype(np.int64) + (np.arange(px.size) % 2), 255
                ).astype(np.uint8)
                ids.append(2 * int(doc_id) + 1)
                payloads.append(encode_bmp24(pert.reshape(h, width, 3)))
            if ids:
                yield pd.DataFrame({"img_id": ids, "payload": payloads})

    return d.select("doc_id", "text").mapInPandas(
        run, "img_id BIGINT, payload BINARY"
    )


def image_phash(images: DataFrame) -> DataFrame:
    """(img_id, payload) -> (img_id, phash): decode, gray, 8x8 NN
    downsample, scaled mean-centering, integer DCT, 60-bit sign pack.
    One Arrow batch in, one out — the codec and transform never leave
    the executor; only (id, 60-bit hash) rows shuffle afterwards."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for img_id, payload in zip(pdf["img_id"], pdf["payload"]):
                ids.append(int(img_id))
                hashes.append(_phash_of(bytes(payload)))
            if ids:
                yield pd.DataFrame({"img_id": ids, "phash": hashes})

    return images.mapInPandas(run, "img_id BIGINT, phash BIGINT")


def _chunk_sizes(total: int, n: int) -> list[int]:
    """Partition ``total`` bits into ``n`` contiguous near-equal chunks
    (the first ``total % n`` chunks get the extra bit)."""
    base, extra = divmod(total, n)
    return [base + (1 if i < extra else 0) for i in range(n)]


def hamming_banded_pairs(
    hashes: DataFrame,
    id_col: str,
    hash_col: str,
    n_bits: int,
    hamming_max: int,
) -> DataFrame:
    """Pairs with Hamming(hash_a, hash_b) <= hamming_max via two-level
    pigeonhole banding on ANY bit width (generalizes the fixed-width
    dedup_simhash_pairs banding): level 1 splits the hash into
    hamming_max+1 contiguous bands (some band is exact for every true
    pair), level 2 partitions the remaining bits into hamming_max+1
    sub-bands (given band i exact, the other bits carry all the diffs,
    so some sub-band is exact too). Candidates = equi-join on the packed
    (i, band, j, sub) key; exact Hamming verifies; distinct() collapses
    multi-key collisions. Output == the all-pairs theta join.

    Precondition: hashes occupy the LOW ``n_bits`` of a nonnegative
    BIGINT, ``n_bits <= 62``. At 63 bits a set sign bit makes
    ``shiftright`` sign-extend, so band extraction would return wrong
    keys and the completeness guarantee silently breaks — rejected up
    front instead. (62 not 63: the packed (chunk, band, sub) key below
    must itself stay inside a signed 64-bit BIGINT.)"""
    if not 1 <= n_bits <= 62:
        raise ValueError(
            f"hamming_banded_pairs supports 1..62-bit hashes, got "
            f"n_bits={n_bits} (sign-extension breaks banding above 62)"
        )
    n_bands = hamming_max + 1
    band_sizes = _chunk_sizes(n_bits, n_bands)
    max_band = max(band_sizes)
    n_sub = hamming_max + 1
    max_sub = max(
        max(_chunk_sizes(n_bits - bs, n_sub)) for bs in band_sizes
    )
    keys = []
    lo = 0
    for i, bs in enumerate(band_sizes):
        band = f"(shiftright({hash_col}, {lo}) & {(1 << bs) - 1})"
        # the n_bits - bs bits outside band i, packed contiguously
        rest = (
            f"((shiftright({hash_col}, {lo + bs}) << {lo}) "
            f"| ({hash_col} & {(1 << lo) - 1}))"
        )
        sub_lo = 0
        for j, ss in enumerate(_chunk_sizes(n_bits - bs, n_sub)):
            sub = f"(shiftright({rest}, {sub_lo}) & {(1 << ss) - 1})"
            keys.append(
                F.expr(
                    f"CAST({i * n_sub + j} AS BIGINT)"
                    f" * {1 << (max_band + max_sub)}"
                    f" + ({band} << {max_sub}) + {sub}"
                )
            )
            sub_lo += ss
        lo += bs
    bands = hashes.select(
        id_col, hash_col, F.explode(F.array(*keys)).alias("band_key")
    )
    a = bands.select(
        "band_key",
        F.col(id_col).alias("id_a"),
        F.col(hash_col).alias("h_a"),
    )
    b = bands.select(
        "band_key",
        F.col(id_col).alias("id_b"),
        F.col(hash_col).alias("h_b"),
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        a.join(b, ["band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.cast("long").alias("hamming"))
        .where(F.col("hamming") <= hamming_max)
        .distinct()
    )


def _t_values_sql() -> str:
    """The fixed-point DCT matrix as a 64-row VALUES list (u, r, t)."""
    rows = ", ".join(
        f"({u}, {r}, {_PHASH_T[u][r]})"
        for u in range(PHASH_GRID)
        for r in range(PHASH_GRID)
    )
    return rows


# Oracle: recompute every hash from the document bytes — gray from the
# byte->pixel contract, NN 8x8 indices, scaled mean-centering, the SAME
# integer T matrix, sign pack — then the all-pairs Hamming join the
# banding provably equals. The perturbed variant's byte i gains (i % 2):
# pixel p's three bytes are 3p, 3p+1, 3p+2, whose parities are (p, p+1,
# p) mod 2, so gray gains 1 + (p % 2).
_PHASH_SQL = f"""
    WITH t(u, r, tv) AS (VALUES {_t_values_sql()}),
    docs AS (
      SELECT doc_id, text, length(text) // {3 * IMG_W} AS h
      FROM documents
      WHERE doc_id % 3 = 0 AND length(text) >= {3 * IMG_W}
    ),
    variants AS (
      SELECT doc_id * 2 AS img_id, text, h, 0 AS pert FROM docs
      UNION ALL
      SELECT doc_id * 2 + 1, text, h, 1 FROM docs
    ),
    cells AS (
      SELECT img_id, text, h, pert,
             UNNEST(generate_series(0, {PHASH_GRID * PHASH_GRID - 1})) AS cell
      FROM variants
    ),
    gray AS (
      SELECT img_id, cell // {PHASH_GRID} AS dr, cell % {PHASH_GRID} AS dc,
             ord(substr(text, 3 * ((cell // {PHASH_GRID}) * h
                   // {PHASH_GRID} * {IMG_W}
                   + (cell % {PHASH_GRID}) * {IMG_W} // {PHASH_GRID})
                 + 1, 1))
           + ord(substr(text, 3 * ((cell // {PHASH_GRID}) * h
                   // {PHASH_GRID} * {IMG_W}
                   + (cell % {PHASH_GRID}) * {IMG_W} // {PHASH_GRID})
                 + 2, 1))
           + ord(substr(text, 3 * ((cell // {PHASH_GRID}) * h
                   // {PHASH_GRID} * {IMG_W}
                   + (cell % {PHASH_GRID}) * {IMG_W} // {PHASH_GRID})
                 + 3, 1))
           + pert * (1 + ((cell // {PHASH_GRID}) * h // {PHASH_GRID}
                          * {IMG_W}
                          + (cell % {PHASH_GRID}) * {IMG_W}
                          // {PHASH_GRID}) % 2) AS g
      FROM cells
    ),
    x AS (
      SELECT img_id, dr, dc,
             {PHASH_GRID * PHASH_GRID} * g
               - SUM(g) OVER (PARTITION BY img_id) AS x
      FROM gray
    ),
    coeff AS (
      SELECT x.img_id, tu.u AS u, tv2.u AS v,
             SUM(tu.tv * x.x * tv2.tv) AS c
      FROM x
      JOIN t tu ON tu.r = x.dr
      JOIN t tv2 ON tv2.r = x.dc
      GROUP BY x.img_id, tu.u, tv2.u
    ),
    hashes AS (
      SELECT img_id,
             CAST(SUM(CASE WHEN c > 0
                            AND u * {PHASH_GRID} + v
                                BETWEEN 1 AND {PHASH_BITS}
                           THEN (1::BIGINT << (u * {PHASH_GRID} + v - 1))
                           ELSE 0 END) AS BIGINT) AS phash
      FROM coeff GROUP BY img_id
    )
    SELECT a.img_id AS id_a, b.img_id AS id_b,
           bit_count(CAST(xor(a.phash, b.phash) AS BIGINT)) AS hamming
    FROM hashes a JOIN hashes b ON a.img_id < b.img_id
    WHERE bit_count(CAST(xor(a.phash, b.phash) AS BIGINT))
          <= {PHASH_HAMMING_MAX}
    ORDER BY id_a, id_b
"""


@register("dedup_image_phash", _PHASH_SQL)
def q_dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image pairs over the synthetic image corpus
    (each image doc plus its checkerboard-perturbed re-encode): decode
    -> integer pHash -> two-level Hamming-banded candidate equi-join ->
    exact verify. The oracle recomputes every hash bit from the raw doc
    bytes and states the all-pairs truth."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 0
    )
    hashes = image_phash(phash_corpus(docs))
    return hamming_banded_pairs(
        hashes, "img_id", "phash", PHASH_BITS, PHASH_HAMMING_MAX
    ).orderBy("id_a", "id_b")


def _phash_of_pixels(px) -> int:
    """pHash of an already-DECODED (h, w, 3) int array: gray, NN 8x8,
    scaled mean-centering, integer DCT, 60-bit sign pack. Split from
    the payload wrapper so consumers that already hold decoded frames
    (the video keyframe walk) hash without a second decode."""
    import numpy as np

    t = np.asarray(_PHASH_T, dtype=np.int64)
    h, w, _ = px.shape
    gray = np.asarray(px, dtype=np.int64).sum(axis=2)
    r_idx = (np.arange(PHASH_GRID) * h) // PHASH_GRID
    c_idx = (np.arange(PHASH_GRID) * w) // PHASH_GRID
    g = gray[r_idx][:, c_idx]
    x = PHASH_GRID * PHASH_GRID * g - g.sum()
    c = t @ x @ t.T
    bits = (c.reshape(-1) > 0).astype(np.int64)
    ph = 0
    for idx in range(1, PHASH_BITS + 1):
        if bits[idx]:
            ph |= 1 << (idx - 1)
    return ph


def _phash_of(payload: bytes) -> int:
    """The scalar pHash kernel shared by the batch column op and the
    streaming passthrough: decode + :func:`_phash_of_pixels`."""
    return _phash_of_pixels(decode_bmp24(payload))


# mapInPandas closures here must ship BY VALUE (including the imported
# codec callables) — under a plain driver session the executors' Python
# workers don't have the repo on sys.path (the round-3 gram lesson).
import sys as _sys  # noqa: E402

from pyspark.cloudpickle import register_pickle_by_value  # noqa: E402

register_pickle_by_value(_sys.modules[__name__])


# ---------------------------------------------------------------------------
# VIDEO near-dup: keyframe pHash sets + containment — the last dedup
# modality (text, embedding, image, now video). A re-encoded, re-graded,
# or trimmed copy of a video keeps (a subset of) the same per-shot
# keyframes, and each keyframe's integer pHash is invariant under the
# re-encode/brightness transforms (proven for the image case), so the
# signature SETS overlap even when not one byte of the containers agrees.
# ---------------------------------------------------------------------------
VIDEO_CONTAINMENT = 0.8
#: a single phash shared by more videos than this carries no signal
#: (the dedup MAX_DF discipline applied to the keyframe inverted index)
PHASH_MAX_DF = 50


def video_keyframe_hashes(videos: DataFrame) -> DataFrame:
    """(vid_id, payload) -> distinct (vid_id, phash) rows: the same
    single-pass scene-cut walk as multimodal.keyframe_stats (O(1 frame)
    state), hashing each keyframe with the integer pHash. One Arrow
    batch in, narrow hash rows out."""
    from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
        SCENE_CUT_MEAN_DIFF,
    )

    from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
        iter_bmp_frames,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, hashes = [], []
            for vid_id, payload in zip(pdf["vid_id"], pdf["payload"]):
                prev = None
                for _fi, _frame, a in iter_bmp_frames(
                    bytes(payload), vid_id
                ):
                    if prev is None or (
                        int(np.abs(a - prev).sum())
                        > SCENE_CUT_MEAN_DIFF * a.size
                    ):
                        ids.append(int(vid_id))
                        hashes.append(_phash_of_pixels(a))
                    prev = a
            if ids:
                yield pd.DataFrame({"vid_id": ids, "phash": hashes})

    return (
        videos.select(
            F.col("vid_id"), F.col("payload")
        ).mapInPandas(run, "vid_id BIGINT, phash BIGINT")
        .distinct()
    )


def video_phash_pairs(
    sigs: DataFrame,
    threshold: float = VIDEO_CONTAINMENT,
    max_df: int = PHASH_MAX_DF,
) -> DataFrame:
    """Near-dup video pairs by keyframe-set CONTAINMENT
    (|A∩B| / min(|A|,|B|) — the trimmed-copy-robust measure, same
    rationale as dedup_containment): candidates from the phash inverted
    index (df-capped equi-join, never all-pairs), exact containment on
    the candidate pairs only."""
    sizes = sigs.groupBy("vid_id").agg(F.count(F.lit(1)).alias("n_kf"))
    rare = (
        sigs.groupBy("phash")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= max_df)
        .select("phash")
    )
    idx = sigs.join(rare, "phash")
    a = idx.select("phash", F.col("vid_id").alias("vid_a"))
    b = idx.select("phash", F.col("vid_id").alias("vid_b"))
    shared = (
        a.join(b, "phash")
        .where(F.col("vid_a") < F.col("vid_b"))
        .groupBy("vid_a", "vid_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = sizes.select(
        F.col("vid_id").alias("vid_a"), F.col("n_kf").alias("n_a")
    )
    nb = sizes.select(
        F.col("vid_id").alias("vid_b"), F.col("n_kf").alias("n_b")
    )
    cont = F.col("n_shared") / F.least("n_a", "n_b").cast("double")
    return (
        shared.join(na, "vid_a")
        .join(nb, "vid_b")
        .withColumn("containment", F.round(cont, 6))
        .where(F.col("containment") >= threshold)
        .select("vid_a", "vid_b", "n_shared", "containment")
        .orderBy("vid_a", "vid_b")
    )


def _video_phash_corpus(d: DataFrame) -> DataFrame:
    """Video-modality docs -> (vid_id, payload) with TWO real
    concatenated-BMP videos per doc: vid_id = doc_id is the original
    (synth_video_bmp's byte->frame contract), vid_id = -doc_id - 1 is a
    re-graded re-encode (+1 per source byte -> +1 per channel — the
    uniform brightness shift pHash is exactly invariant under, and SAD
    cuts are shift-invariant too, so the copy keeps the SAME keyframe
    hash set through entirely different container bytes)."""
    from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
        FRAME_H,
        FRAME_SIZE,
        FRAME_W,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, payloads = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
                n_frames = int(b.size) // FRAME_SIZE
                if n_frames == 0:
                    continue
                for vid, px in (
                    (int(doc_id), b),
                    (-int(doc_id) - 1, (b.astype(np.int64) + 1)),
                ):
                    frames = [
                        encode_bmp24(
                            np.asarray(
                                px[f * FRAME_SIZE : (f + 1) * FRAME_SIZE],
                                dtype=np.int64,
                            )
                            .clip(0, 255)
                            .astype(np.uint8)
                            .reshape(FRAME_H, FRAME_W, 3)
                        )
                        for f in range(n_frames)
                    ]
                    ids.append(vid)
                    payloads.append(b"".join(frames))
            if ids:
                yield pd.DataFrame({"vid_id": ids, "payload": payloads})

    return d.select("doc_id", "text").mapInPandas(
        run, "vid_id BIGINT, payload BINARY"
    )


def _video_phash_sql() -> str:
    from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
        FRAME_SIZE,
        SCENE_CUT_MEAN_DIFF,
    )

    fs = FRAME_SIZE
    # source pixel of output cell (dr, dc): NN 4x4 -> 8x8 is dr//2, dc//2
    p = "((cell // 8) // 2 * 4 + (cell % 8) // 2)"

    def byte(ch: int) -> str:
        return f"ord(substr(text, CAST({fs} * f + 3 * {p} + {ch} AS INT), 1))"

    return f"""
    WITH t(u, r, tv) AS (VALUES {_t_values_sql()}),
    v AS (
      SELECT doc_id, text, length(text) // {fs} AS n_frames
      FROM documents
      WHERE doc_id % 3 = 2 AND length(text) >= {fs}
    ),
    px AS (
      SELECT doc_id, f, i,
             ord(substr(text, CAST(f * {fs} + i AS INT), 1)) AS cur,
             ord(substr(text, CAST((f - 1) * {fs} + i AS INT), 1)) AS prev
      FROM v,
           unnest(generate_series(1, n_frames - 1)) AS tf(f),
           unnest(generate_series(1, {fs})) AS ti(i)
    ),
    sad AS (
      SELECT doc_id, f, SUM(ABS(cur - prev)) AS sad
      FROM px GROUP BY doc_id, f
    ),
    kf AS (
      SELECT doc_id, 0 AS f FROM v
      UNION ALL
      SELECT doc_id, f FROM sad
      WHERE sad > {SCENE_CUT_MEAN_DIFF * fs}
    ),
    cells AS (
      SELECT doc_id, f, pert,
             UNNEST(generate_series(0, 63)) AS cell
      FROM kf, (VALUES (0), (1)) pv(pert)
    ),
    gray AS (
      SELECT c.doc_id, c.f, c.pert,
             c.cell // 8 AS dr, c.cell % 8 AS dc,
             {byte(1)} + {byte(2)} + {byte(3)} + c.pert * 3 AS g
      FROM cells c JOIN v USING (doc_id)
    ),
    x AS (
      SELECT doc_id, f, pert, dr, dc,
             64 * g - SUM(g) OVER (PARTITION BY doc_id, f, pert) AS x
      FROM gray
    ),
    coeff AS (
      SELECT x.doc_id, x.f, x.pert, tu.u AS u, tv2.u AS vv,
             SUM(tu.tv * x.x * tv2.tv) AS c
      FROM x JOIN t tu ON tu.r = x.dr JOIN t tv2 ON tv2.r = x.dc
      GROUP BY 1, 2, 3, 4, 5
    ),
    hashes AS (
      SELECT doc_id, f, pert,
             CAST(SUM(CASE WHEN c > 0 AND u * 8 + vv BETWEEN 1 AND 60
                           THEN (1::BIGINT << (u * 8 + vv - 1))
                           ELSE 0 END) AS BIGINT) AS phash
      FROM coeff GROUP BY 1, 2, 3
    ),
    sigs AS (
      SELECT DISTINCT
             CASE WHEN pert = 0 THEN doc_id ELSE -doc_id - 1 END AS vid_id,
             phash
      FROM hashes
    ),
    sizes AS (SELECT vid_id, COUNT(*) AS n_kf FROM sigs GROUP BY vid_id),
    rare AS (
      SELECT phash FROM sigs GROUP BY phash
      HAVING COUNT(*) <= {PHASH_MAX_DF}
    ),
    idx AS (SELECT s.* FROM sigs s JOIN rare USING (phash)),
    shared AS (
      SELECT a.vid_id AS vid_a, b.vid_id AS vid_b, COUNT(*) AS n_shared
      FROM idx a JOIN idx b
        ON a.phash = b.phash AND a.vid_id < b.vid_id
      GROUP BY 1, 2
    )
    SELECT vid_a, vid_b, CAST(n_shared AS BIGINT) AS n_shared,
           ROUND(n_shared / CAST(LEAST(na.n_kf, nb.n_kf) AS DOUBLE), 6)
             AS containment
    FROM shared
    JOIN sizes na ON na.vid_id = shared.vid_a
    JOIN sizes nb ON nb.vid_id = shared.vid_b
    WHERE n_shared / CAST(LEAST(na.n_kf, nb.n_kf) AS DOUBLE)
          >= {VIDEO_CONTAINMENT}
    ORDER BY vid_a, vid_b
"""


@register("dedup_video_phash", _video_phash_sql())
def q_dedup_video_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate VIDEO pairs over the synthetic video corpus (each
    video doc plus its re-graded re-encode under a negative id): demux
    -> scene-cut keyframes -> integer pHash per keyframe -> containment
    over keyframe-hash sets via a df-capped inverted-index join. The
    oracle recomputes keyframe selection AND every hash bit from the
    raw document bytes."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 2
    )
    sigs = video_keyframe_hashes(_video_phash_corpus(docs))
    return video_phash_pairs(sigs)
