"""Audio near-duplicate detection via a framed-energy integer
fingerprint — the last dedup modality (text, embedding, image, video
done; round-8 verdict #4). A re-encoded, gain-shifted, or resampled copy
of a clip keeps the same ENERGY ENVELOPE even when not one byte of the
containers agrees, which byte-exact dedup misses entirely.

Pipeline (all deterministic integer arithmetic, so the DuckDB oracle can
recompute every hash bit from the raw document bytes — the
image_dedup.py recipe transplanted to the time axis):

1. decode the WAV payload (the repo's real PCM-16 codec, multimodal.py)
   to int16 samples;
2. split the clip into 64 equal time cells with the floor-index rule
   ``cell(j) = 64 * j // n`` (the NN-downsample rule on the time axis;
   every cell is nonempty for n >= 64) and take each cell's integer
   ENERGY, E_c = sum of squared samples;
3. mean-center in scaled integers: X = 64 * E - sum(E) — a POSITIVE
   uniform gain g scales every sample exactly, so E scales by g^2 and X
   by g^2, leaving every sign below unchanged: gain-shifted copies hash
   IDENTICALLY (the audio analog of pHash's brightness invariance);
4. lay the 64 cells out as an 8x8 matrix (row = coarse time, col = fine
   time) and transform with the SAME fixed-point DCT matrix
   T = round(64 * DCT8) as the image pHash: C = T @ X @ T.T captures
   the envelope's temporal modulation at two scales in pure int64;
5. 60-bit sign hash (DC is identically 0 after mean-centering).

A 2:1 floor-mean resample (the repo's own multimodal_audio_resample
kernel) preserves the envelope of any signal with energy below Nyquist:
decimated cell boundaries compose exactly with the floor-cell rule
(cell(i) on n/2 samples == cell(2i) on n), so each cell's energy scales
~uniformly and resampled copies land within the Hamming threshold —
pinned by the property test on structured clips (plateau envelopes are
preserved EXACTLY: aligned pairs average to their common value). The
invariance domain is honest: clips that are pure byte NOISE have no
envelope at all — their cell energies are i.i.d. fluctuations that any
pair-averaging perturbs freely, and no perceptual audio hash preserves
white noise under resampling (measured here: noise twins land hamming
~14 on 60 bits, overlapping the cross-clip distribution). Exact
gain invariance holds for every signal, noise included.

Candidates come from the SAME two-level pigeonhole Hamming banding
(:func:`image_dedup.hamming_banded_pairs` — provably equal to the
all-pairs theta join); exact Hamming verifies.

Reference parity: the reference course has no audio pipeline (its only
binary handling is Kafka byte streams, work/tester.py); this is a
beyond-ref LLM-pipeline operator per the build brief.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cours_datalake_dwh_td_kafka_spark.io import load_table
from cours_datalake_dwh_td_kafka_spark.operators.image_dedup import (
    PHASH_BITS,
    PHASH_GRID,
    _PHASH_T,
    _t_values_sql,
    hamming_banded_pairs,
)
from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
    decode_wav_pcm16,
    encode_wav_pcm16,
)
from cours_datalake_dwh_td_kafka_spark.registry import register

AUDIO_CELLS = PHASH_GRID * PHASH_GRID  # 64 time cells -> 8x8 envelope
AUDIO_HAMMING_MAX = 5
#: base samples are (byte - 128) — small on purpose: the attested gain
#: twin multiplies by 3 without int16 clipping, and the DCT stays far
#: inside int64 (|C| <= 91*91*64*|X| with |X| <= 64 * 384^2 * n_cell)
AUDIO_GAIN_TWIN = 3


def audio_fingerprint_of_samples(a) -> int:
    """Integer energy-envelope hash of an int64 sample array: floor-rule
    time cells -> energies -> scaled mean-centering -> the shared
    fixed-point DCT -> 60-bit sign pack. Multi-channel input (the
    codec's (n, channels) shape) is flattened frame-interleaved —
    consecutive frames stay consecutive, so time cells keep their
    meaning and a clip hashes the same whether the caller pre-flattens
    or not. Clips shorter than 64 samples hash too (empty trailing
    cells carry zero energy, the original bincount contract — ADVICE
    r10: the reduceat rewrite must not turn previously-valid inputs
    into crashes); only an EMPTY array is rejected (no signal, no
    envelope)."""
    import numpy as np

    a = np.asarray(a, dtype=np.int64).reshape(-1)
    n = int(a.size)
    if n == 0:
        raise ValueError("audio fingerprint needs at least one sample")
    if n < AUDIO_CELLS:
        # reduceat needs strictly increasing starts, which only n >= 64
        # guarantees; here the exact python-int accumulation is
        # microseconds and keeps the accept-everything contract —
        # sample i lands in cell i*64//n, cells past the data stay zero
        e = np.zeros(AUDIO_CELLS, dtype=np.int64)
        for i in range(n):
            e[i * AUDIO_CELLS // n] += int(a[i]) * int(a[i])
    elif n >= 1 << 38:
        # reduceat's per-cell int64 accumulation needs
        # ceil(n/64) * 32768^2 < 2^63, i.e. n < ~2^38.6 for full-scale
        # PCM-16; 2^38 (~9 days of 16-bit 48 kHz stereo per ROW) keeps
        # a safety margin instead of silently wrapping
        raise ValueError(f"clip too long for exact int64 energies: {n}")
    else:
        # cells = i * 64 // n is NONDECREASING, so cell j covers the
        # index range [ceil(j*n/64), ceil((j+1)*n/64)) and reduceat over
        # those boundaries accumulates the energies in int64 EXACTLY
        # (float64 bincount weights round past 2^53 — ADVICE r9);
        # n >= 64 makes the boundaries strictly increasing, so no
        # reduceat empty-segment quirk
        starts = (
            np.arange(AUDIO_CELLS, dtype=np.int64) * n + AUDIO_CELLS - 1
        ) // AUDIO_CELLS
        e = np.add.reduceat(a * a, starts)
    # centering + DCT must be EXACT for any input (round-10 review: the
    # int64 worst case past this point is input-dependent — |x| can
    # reach 63 * total_energy and the DCT multiplies by up to
    # 64 * 91^2). Hybrid: when the PROVEN bound
    # |C| <= 64*91^2 * 63 * total_energy fits int64, the vectorized
    # numpy path is exact and fast (every realistic clip, including the
    # whole registered corpus); past the bound, fall back to python-int
    # matmuls over the 64-value envelope — microseconds per clip,
    # unconditional exactness. (The DuckDB oracle's BIGINT algebra
    # ERRORS on overflow rather than wrapping, so parity on in-range
    # corpora is unchanged either way.)
    total = int(e.sum(dtype=object))
    if total * (AUDIO_CELLS * 91 * 91 * 63) < 1 << 63:
        g = e.reshape(PHASH_GRID, PHASH_GRID)
        x = AUDIO_CELLS * g - g.sum()
        t = np.asarray(_PHASH_T, dtype=np.int64)
        c = t @ x @ t.T
        bits = c.reshape(-1) > 0
        h = 0
        for idx in range(1, PHASH_BITS + 1):
            if bits[idx]:
                h |= 1 << (idx - 1)
        return h
    g = [int(v) for v in e]
    x = [
        [AUDIO_CELLS * g[r * PHASH_GRID + col] - total
         for col in range(PHASH_GRID)]
        for r in range(PHASH_GRID)
    ]
    t = [[int(v) for v in row] for row in _PHASH_T]
    tx = [
        [sum(t[i][j] * x[j][k] for j in range(PHASH_GRID))
         for k in range(PHASH_GRID)]
        for i in range(PHASH_GRID)
    ]
    h = 0
    for idx in range(1, PHASH_BITS + 1):
        i, k = divmod(idx, PHASH_GRID)
        c = sum(tx[i][j] * t[k][j] for j in range(PHASH_GRID))
        if c > 0:
            h |= 1 << (idx - 1)
    return h


def fingerprint_corpus(d: DataFrame) -> DataFrame:
    """Audio-modality docs -> (aud_id, ahash) with TWO real WAV clips
    per doc, both through the real codec round trip: aud_id = 2*doc_id
    is the original (sample j = doc byte j - 128), aud_id = 2*doc_id + 1
    is the same clip at gain x3 (exact hash collision by the
    scale-equivariance of sign bits — the attested invariance; the
    resample invariance is the property test's job)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, hashes = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
                n = int(b.size)
                if n < AUDIO_CELLS:
                    continue
                base = b.astype(np.int64) - 128
                # doc_id % 3 == 1 for every doc in this corpus slice, so
                # rate variation must key on doc_id // 3 to actually
                # exercise the fmt-chunk parse on distinct rates (the
                # hash itself is rate-independent)
                rate = 8000 * (1 + (int(doc_id) // 3) % 3)
                for k, gain in ((0, 1), (1, AUDIO_GAIN_TWIN)):
                    samples = (base * gain).astype("<i2")
                    _, dec = decode_wav_pcm16(
                        encode_wav_pcm16(samples, rate)
                    )
                    ids.append(2 * int(doc_id) + k)
                    hashes.append(
                        audio_fingerprint_of_samples(dec.astype(np.int64))
                    )
            if ids:
                yield pd.DataFrame({"aud_id": ids, "ahash": hashes})

    return d.select("doc_id", "text").mapInPandas(
        run, "aud_id BIGINT, ahash BIGINT"
    )


# Oracle: recompute every hash bit from the raw document bytes — the
# byte->sample contract, floor-rule cells, integer energies, the SAME
# integer T matrix, sign pack — then the all-pairs Hamming join the
# banding provably equals.
_AUDIO_DEDUP_SQL = f"""
    WITH t(u, r, tv) AS (VALUES {_t_values_sql()}),
    docs AS (
      SELECT doc_id, text, length(text) AS n
      FROM documents
      WHERE doc_id % 3 = 1 AND length(text) >= {AUDIO_CELLS}
    ),
    variants AS (
      SELECT doc_id * 2 AS aud_id, text, n, 1 AS gain FROM docs
      UNION ALL
      SELECT doc_id * 2 + 1, text, n, {AUDIO_GAIN_TWIN} FROM docs
    ),
    samples AS (
      SELECT aud_id, n,
             (ord(substr(text, CAST(i AS INT), 1)) - 128) * gain AS amp,
             CAST((i - 1) * {AUDIO_CELLS} // n AS INT) AS cell
      FROM variants, unnest(generate_series(1, n)) AS s(i)
    ),
    energy AS (
      SELECT aud_id, cell, SUM(amp * amp) AS e
      FROM samples GROUP BY aud_id, cell
    ),
    x AS (
      SELECT aud_id, cell // {PHASH_GRID} AS dr, cell % {PHASH_GRID} AS dc,
             {AUDIO_CELLS} * e - SUM(e) OVER (PARTITION BY aud_id) AS x
      FROM energy
    ),
    coeff AS (
      SELECT x.aud_id, tu.u AS u, tv2.u AS v,
             SUM(tu.tv * x.x * tv2.tv) AS c
      FROM x
      JOIN t tu ON tu.r = x.dr
      JOIN t tv2 ON tv2.r = x.dc
      GROUP BY x.aud_id, tu.u, tv2.u
    ),
    hashes AS (
      SELECT aud_id,
             CAST(SUM(CASE WHEN c > 0
                            AND u * {PHASH_GRID} + v
                                BETWEEN 1 AND {PHASH_BITS}
                           THEN (1::BIGINT << (u * {PHASH_GRID} + v - 1))
                           ELSE 0 END) AS BIGINT) AS ahash
      FROM coeff GROUP BY aud_id
    )
    SELECT a.aud_id AS id_a, b.aud_id AS id_b,
           bit_count(CAST(xor(a.ahash, b.ahash) AS BIGINT)) AS hamming
    FROM hashes a JOIN hashes b ON a.aud_id < b.aud_id
    WHERE bit_count(CAST(xor(a.ahash, b.ahash) AS BIGINT))
          <= {AUDIO_HAMMING_MAX}
    ORDER BY id_a, id_b
"""


@register("dedup_audio_fingerprint", _AUDIO_DEDUP_SQL)
def q_dedup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate audio pairs over the synthetic clip corpus (each
    audio doc plus its gain-x3 re-master): codec round trip -> integer
    energy-envelope fingerprint -> two-level Hamming-banded candidate
    equi-join -> exact verify. The oracle recomputes every hash bit
    from the raw doc bytes and states the all-pairs truth.

    Scale shape: hashing is one Arrow-batched codec pass (no shuffle);
    candidates are the banded equi-join (never all-pairs); only narrow
    (id, hash) rows shuffle."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 1
    )
    hashes = fingerprint_corpus(docs)
    return hamming_banded_pairs(
        hashes, "aud_id", "ahash", PHASH_BITS, AUDIO_HAMMING_MAX
    ).orderBy("id_a", "id_b")


# mapInPandas closures here must ship BY VALUE (including the imported
# codec callables) — under a plain driver session the executors' Python
# workers don't have the repo on sys.path (the round-3 gram lesson).
import sys as _sys  # noqa: E402

from pyspark.cloudpickle import register_pickle_by_value  # noqa: E402

register_pickle_by_value(_sys.modules[__name__])
