"""Property tests for the approximate / engine-specific operators that the
DuckDB oracle can't check directly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cours_datalake_dwh_td_kafka_spark import registry
from cours_datalake_dwh_td_kafka_spark.io import load_table
from cours_datalake_dwh_td_kafka_spark.operators.knn import (
    nearest_station,
    nearest_station_grid,
    stations_df,
    zones_df,
)
from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
    decode_stub,
    featurize,
    multimodal_table,
)
from tests.conftest import SF_ORACLE


@pytest.mark.slow
def test_grid_knn_equals_naive(spark):
    zones = zones_df(spark, SF_ORACLE)
    stations = stations_df(spark, SF_ORACLE)
    naive = {tuple(r) for r in nearest_station(zones, stations).collect()}
    grid = {tuple(r) for r in nearest_station_grid(zones, stations).collect()}
    assert naive == grid


def test_ivf_full_probe_equals_brute_force(spark):
    """With nprobe == n_cells IVF must return exactly the brute-force
    top-k — the structural correctness property of the probe machinery."""
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        N_CELLS,
        ivf_topk,
    )

    qs = registry.queries()
    emb = load_table(spark, SF_ORACLE, "embeddings")
    brute = {tuple(r) for r in qs["ann_topk_cosine"](spark, SF_ORACLE).collect()}
    full = {tuple(r) for r in ivf_topk(emb, nprobe=N_CELLS).collect()}
    assert brute == full


def test_ivf_partial_probe_beats_random_baseline(spark):
    """The driver's embeddings are near-uniform on the sphere (labels are
    NOT cosine clusters), so fixed-fraction pruning recall is bounded by
    ~nprobe/n_cells on this data; assert the probe at least beats that
    random-cell baseline. On genuinely clustered corpora recall is high —
    the property that matters (exactness of the machinery) is covered by
    test_ivf_full_probe_equals_brute_force."""
    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        N_CELLS,
        NPROBE,
        ivf_topk,
    )

    qs = registry.queries()
    brute = qs["ann_topk_cosine"](spark, SF_ORACLE).collect()
    emb = load_table(spark, SF_ORACLE, "embeddings")
    ivf = ivf_topk(emb).collect()
    truth = {(r.query_id, r.neighbor_id) for r in brute}
    found = {(r.query_id, r.neighbor_id) for r in ivf}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.8 * NPROBE / N_CELLS, f"IVF recall {recall}"
    # the registered query folds this guarantee into its value hash:
    # every row must come back recall_ok and k_truth-complete
    checked = qs["ann_ivf_topk"](spark, SF_ORACLE).collect()
    assert checked and all(r.recall_ok for r in checked)


def test_ivf_int8_full_probe_recall_vs_float(spark):
    """Searching the int8-dequantized corpus at FULL probe must recover
    nearly all of the float brute-force top-k: per-dim reconstruction
    error is <= scale/2, so rank flips happen only on near-ties."""
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        N_CELLS,
        ivf_topk,
        quantized_codes,
    )

    qs = registry.queries()
    e = load_table(spark, SF_ORACLE, "embeddings")
    recon = quantized_codes(e).select(
        "vec_id",
        F.transform(
            F.col("codes"), lambda c: c.cast("double") * F.col("scale")
        ).alias("embedding"),
    )
    brute = qs["ann_topk_cosine"](spark, SF_ORACLE).collect()
    int8 = ivf_topk(recon, nprobe=N_CELLS).collect()
    truth = {(r.query_id, r.neighbor_id) for r in brute}
    found = {(r.query_id, r.neighbor_id) for r in int8}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, f"int8 full-probe recall {recall}"


def test_minhash_lsh_finds_planted_near_dups(spark):
    """Every pair the exact n-gram Jaccard pass certifies at >= 0.9 must be
    recovered by the banded MinHash-LSH candidates (banding theory: at
    s=0.9, P[candidate] = 1-(1-s^r)^b ~ 0.997 with r=2,b=4)."""
    qs = registry.queries()
    exact = {
        (r.doc_a, r.doc_b)
        for r in qs["dedup_ngram_jaccard"](spark, SF_ORACLE).collect()
        if r.jaccard >= 0.9
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in qs["dedup_minhash_lsh"](spark, SF_ORACLE).collect()
    }
    assert exact, "testdata should contain planted near-duplicates"
    missed = exact - lsh
    assert len(missed) <= max(1, len(exact) // 10), f"LSH missed {missed}"


def test_simhash_pairs_subset_of_jaccard_candidates(spark):
    """SimHash near-pairs (hamming<=3 on 16 bits) should be rare and
    deterministic across runs."""
    qs = registry.queries()
    p1 = qs["dedup_simhash_pairs"](spark, SF_ORACLE).collect()
    p2 = qs["dedup_simhash_pairs"](spark, SF_ORACLE).collect()
    assert [tuple(r) for r in p1] == [tuple(r) for r in p2]


def test_featurizer_deterministic_and_batchable(spark):
    mm = multimodal_table(load_table(spark, SF_ORACLE, "documents")).limit(50)
    f1 = featurize(mm).orderBy("doc_id").collect()
    f2 = featurize(mm.repartition(7)).orderBy("doc_id").collect()
    assert [tuple(r) for r in f1] == [tuple(r) for r in f2]
    assert all(r.byte_mean > 0 for r in f1)


def test_decode_stub_rejects_unknown_modality():
    import pytest

    with pytest.raises(NotImplementedError):
        decode_stub(b"xx", "hologram")


def test_approx_sketches_close_to_exact(spark):
    e = load_table(spark, SF_ORACLE, "events")
    exact = {
        r.event_type: r.n
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r.event_type: r.n
        for r in e.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("n"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(2, 0.1 * n)


def test_sampling_fraction(spark):
    c = load_table(spark, SF_ORACLE, "customer")
    n = c.count()
    s = c.sample(fraction=0.1, seed=42).count()
    assert 0.04 * n <= s <= 0.16 * n


def test_asof_join_tie_and_carry_semantics(spark, tmp_path):
    """As-of union-window formulation: an order at EXACTLY the event time
    is visible (>= semantics); later events carry the latest earlier
    order; events before any order get NULLs."""
    import datetime as dt

    from cours_datalake_dwh_td_kafka_spark.operators import joins_advanced as ja

    t = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    orders = spark.createDataFrame(
        [
            (100, 7, t("2024-01-10 00:00:00")),
            (200, 7, t("2024-01-20 00:00:00")),
            (300, 8, t("2024-01-15 00:00:00")),
        ],
        "o_orderkey LONG, o_custkey LONG, o_orderdate TIMESTAMP",
    )
    events = spark.createDataFrame(
        [
            (1, 7, t("2024-01-05 12:00:00"), "early"),   # before any order
            (2, 7, t("2024-01-10 00:00:00"), "tie"),     # exactly at order 100
            (3, 7, t("2024-01-25 00:00:00"), "late"),    # after order 200
            (4, 8, t("2024-01-16 00:00:00"), "mid"),
        ],
        "event_id LONG, user_id LONG, ts TIMESTAMP, event_type STRING",
    )
    sf = str(tmp_path)
    # single-file parquet, like the driver's testdata (load_table reads
    # the footer of the file directly)
    orders.toPandas().to_parquet(f"{sf}/orders.parquet", index=False)
    events.toPandas().to_parquet(f"{sf}/events.parquet", index=False)
    got = {
        r.event_id: r.last_orderkey
        for r in ja.q_asof_join(spark, sf).collect()
    }
    assert got == {1: None, 2: 100, 3: 200, 4: 300}


def test_stratified_sample_rates(spark):
    """sampleBy holds per-stratum rates (±50% relative at small n) and
    excludes unlisted strata entirely; the registered query (now a
    guarantees table, round 9) reports every contract boolean TRUE with
    the true per-stratum populations."""
    from cours_datalake_dwh_td_kafka_spark.operators.analytics import (
        STRATA_FRACTIONS,
    )

    d = load_table(spark, SF_ORACLE, "documents")
    totals = {r.lang: r.n for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    s = d.sampleBy("lang", STRATA_FRACTIONS, seed=42)
    counts = {r.lang: r.n for r in s.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert set(counts) <= set(STRATA_FRACTIONS)
    for lang, frac in STRATA_FRACTIONS.items():
        expect = totals[lang] * frac
        assert counts.get(lang, 0) == pytest.approx(expect, rel=0.5)

    qs = registry.queries()
    rows = qs["stratified_sample"](spark, SF_ORACLE).collect()
    assert {r.lang for r in rows} == set(STRATA_FRACTIONS)
    for r in rows:
        assert r.n_pop == totals[r.lang]
        assert (
            r.subset_ok
            and r.within_4sigma
            and r.no_duplicates
            and r.seed_deterministic
            and r.unlisted_zero
        )


def test_topic_model_shape_and_determinism(spark):
    from cours_datalake_dwh_td_kafka_spark.operators.text_analysis import (
        LDA_K,
        LDA_TOP_N,
        topic_model_top_terms,
    )

    docs = load_table(spark, SF_ORACLE, "documents")
    a = topic_model_top_terms(docs).collect()
    assert len(a) == LDA_K * LDA_TOP_N
    by_topic = {}
    for r in a:
        by_topic.setdefault(r.topic, []).append(r)
    assert sorted(by_topic) == list(range(LDA_K))
    for rows in by_topic.values():
        weights = [r.weight for r in sorted(rows, key=lambda r: r.rank)]
        # describeTopics returns terms in descending weight order
        assert weights == sorted(weights, reverse=True)
        assert all(w > 0 for w in weights)
        assert len({r.term for r in rows}) == len(rows)
    # EM + fixed seed: bitwise-stable across runs in the same session
    b = topic_model_top_terms(docs).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_connected_components_chain_and_isolates(spark):
    from cours_datalake_dwh_td_kafka_spark.operators.dedup import (
        connected_components,
    )

    # chain 0-1-2-3-4 (diameter 4), triangle 10-11-12, isolates 20, 21
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10)],
        "src BIGINT, dst BIGINT",
    )
    nodes = spark.createDataFrame(
        [(n,) for n in [0, 1, 2, 3, 4, 10, 11, 12, 20, 21]], "node BIGINT"
    )
    got = {(r.node, r.cluster_rep) for r in connected_components(nodes, edges).collect()}
    want = {(n, 0) for n in range(5)} | {(n, 10) for n in (10, 11, 12)} | {(20, 20), (21, 21)}
    assert got == want


def test_resize_real_codec_round_trip(spark):
    """resize_images output payloads are REAL BMPs whose decoded pixels
    equal the nearest-neighbor resample of the decoded source."""
    import numpy as np

    from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
        decode_bmp24,
        resize_images,
        synth_bmp_images,
    )

    docs = load_table(spark, SF_ORACLE, "documents").where("doc_id % 3 = 0")
    images = synth_bmp_images(docs)
    srcs = {r.doc_id: bytes(r.payload) for r in images.collect()}
    out = resize_images(images, 8, 8).orderBy("doc_id").collect()
    assert {r.doc_id for r in out} == set(srcs)
    for r in out:
        got = decode_bmp24(bytes(r.payload))
        assert got.shape == (8, 8, 3)
        src = decode_bmp24(srcs[r.doc_id])
        h, w, _ = src.shape
        want = src[(np.arange(8) * h) // 8][:, (np.arange(8) * w) // 8]
        assert (got == want).all()
        assert r.px_sum == int(want.astype(np.int64).sum())
        assert r.payload_byte_sum == sum(bytes(r.payload))
        assert r.n_bytes == len(r.payload)


def test_frame_sample_demuxes_concatenated_bmps(spark):
    """sample_frames walks the container by declared frame sizes and
    keeps every 4th frame; each kept frame decodes to the source slice."""
    import numpy as np

    from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
        FRAME_BMP_BYTES,
        FRAME_SIZE,
        decode_bmp24,
        sample_frames,
        synth_video_bmp,
    )

    docs = load_table(spark, SF_ORACLE, "documents").where("doc_id % 3 = 2")
    vids = synth_video_bmp(docs)
    frames = sample_frames(vids, every_n=4).collect()
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    expected_docs = {
        d for d, t in texts.items() if len(t.encode()) >= FRAME_SIZE
    }
    assert set(by_doc) == expected_docs
    for doc_id, rows in by_doc.items():
        b = np.frombuffer(texts[doc_id].encode(), dtype=np.uint8)
        n_frames = b.size // FRAME_SIZE
        assert sorted(r.frame_idx for r in rows) == list(
            range(0, n_frames, 4)
        )
        for r in rows:
            assert r.frame_len == FRAME_BMP_BYTES
            px = decode_bmp24(bytes(r.frame_bytes))
            want = b[
                r.frame_idx * FRAME_SIZE : (r.frame_idx + 1) * FRAME_SIZE
            ].reshape(4, 4, 3)
            assert (px == want).all()


@pytest.mark.slow
def test_connected_components_contracted_star_fallback(spark):
    """Non-convergence path (ADVICE r2): a chain longer than max_iter
    must fall back to large-star/small-star on the LABEL-CONTRACTED
    graph — preserving the min-label rounds already done — and still
    return exact components."""
    from cours_datalake_dwh_td_kafka_spark.operators.dedup import (
        connected_components,
    )

    n = 40  # diameter 39 chain >> max_iter=3
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(100, 101)],
        "src BIGINT, dst BIGINT",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(n)] + [(100,), (101,), (200,)], "node BIGINT"
    )
    got = {
        (r.node, r.cluster_rep)
        for r in connected_components(nodes, edges, max_iter=3).collect()
    }
    want = (
        {(i, 0) for i in range(n)}
        | {(100, 100), (101, 100)}
        | {(200, 200)}
    )
    assert got == want


def test_quantized_codes_int8_bounds_and_error(spark):
    """Quantized codes fit int8 and per-element dequant error is bounded
    by scale/2 (round-to-nearest guarantee)."""
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        quantized_codes,
    )

    e = load_table(spark, SF_ORACLE, "embeddings")
    q = quantized_codes(e)
    bad = q.where(
        F.exists("codes", lambda c: (F.abs(c) > 127))
    ).count()
    assert bad == 0
    # reconstruct and bound the error element-wise
    joined = q.join(e, "vec_id").select(
        F.arrays_zip(
            F.transform("codes", lambda c: c * F.col("scale")).alias("recon"),
            F.col("embedding").cast("array<double>").alias("orig"),
        ).alias("z"),
        "scale",
    )
    viol = joined.where(
        F.exists(
            "z", lambda p: F.abs(p.recon - p.orig) > F.col("scale") / 2 + 1e-12
        )
    ).count()
    assert viol == 0


def test_semantic_dedup_keeps_bucket_min(spark):
    """The smallest vec_id of every LSH cell is always kept (greedy
    smaller-id-wins can never drop a vector with no smaller neighbor)."""
    from cours_datalake_dwh_td_kafka_spark.operators.dedup import semantic_dedup

    out = semantic_dedup(load_table(spark, SF_ORACLE, "embeddings"))
    w_min = out.groupBy("bucket").agg(F.min("vec_id").alias("vec_id"))
    dropped_min = out.join(w_min, ["bucket", "vec_id"]).where(
        ~F.col("keep")
    ).count()
    assert dropped_min == 0
    # and the operator covers every input vector exactly once
    assert out.count() == load_table(spark, SF_ORACLE, "embeddings").count()


def test_repetition_stats_flags_looping_doc(spark):
    """A doc that loops one phrase scores far higher on every repetition
    signal than a doc of all-distinct tokens."""
    from cours_datalake_dwh_td_kafka_spark.operators.text_analysis import (
        repetition_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "spam ham " * 50),            # one bigram looped
            (2, " ".join(f"w{i}" for i in range(100))),  # all distinct
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert rows[1].top_bigram_frac > 0.4 > rows[2].top_bigram_frac
    assert rows[1].dup_trigram_frac > 0.9 > rows[2].dup_trigram_frac


def test_ann_bruteforce_blas_equals_lambda(spark):
    """The BLAS mapInPandas brute-force scorer is value-identical to the
    pure-DataFrame array-lambda form (same dot/(|a||b|) algebra, same
    round-6-then-rank tiebreak)."""
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        ann_topk_bruteforce,
        ann_topk_lambda,
    )

    e = load_table(spark, SF_ORACLE, "embeddings")
    blas = [tuple(r) for r in ann_topk_bruteforce(e).collect()]
    lam = [tuple(r) for r in ann_topk_lambda(e).collect()]
    assert blas == lam


def test_wav_codec_roundtrip_and_validation():
    """The real PCM-16 RIFF/WAVE codec: byte-exact round-trip (mono +
    stereo, odd lengths), chunk-walking past unknown chunks with RIFF's
    odd-size pad byte, and loud failure on junk / unsupported formats."""
    import struct

    import numpy as np
    import pytest as _pytest

    from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
        decode_wav_pcm16,
        encode_wav_pcm16,
    )

    rng = np.random.default_rng(3)
    for n in (1, 7, 256):
        s = rng.integers(-32768, 32768, size=n).astype("<i2")
        payload = encode_wav_pcm16(s, 44100)
        assert len(payload) == 44 + 2 * n  # canonical header
        rate, out = decode_wav_pcm16(payload)
        assert rate == 44100
        assert np.array_equal(out, s)
    # stereo: interleaved samples come back shaped (n, 2)
    st = rng.integers(-1000, 1000, size=10).astype("<i2")
    rate, out = decode_wav_pcm16(encode_wav_pcm16(st, 8000, channels=2))
    assert rate == 8000 and out.shape == (5, 2)
    assert np.array_equal(out.ravel(), st)
    # an unknown odd-sized chunk (pad byte!) before fmt/data is skipped
    s = np.array([1, -2, 3], dtype="<i2")
    p = encode_wav_pcm16(s, 16000)
    extra = b"LIST" + struct.pack("<I", 5) + b"abcde" + b"\x00"
    hacked = p[:12] + extra + p[12:]
    hacked = b"RIFF" + struct.pack("<I", len(hacked) - 8) + hacked[8:]
    rate, out = decode_wav_pcm16(hacked)
    assert rate == 16000 and np.array_equal(out, s)
    with _pytest.raises(ValueError, match="RIFF"):
        decode_wav_pcm16(b"JUNKJUNKJUNKJUNKJUNK")
    bad = bytearray(p)
    bad[34] = 8  # bits-per-sample field: 8-bit PCM unsupported
    with _pytest.raises(ValueError, match="16-bit"):
        decode_wav_pcm16(bytes(bad))


def test_bmp_codec_roundtrip_and_validation():
    """The real 24-bit BMP codec: pixel-exact round-trip across widths
    that do and don't need row padding, top-down row-order support, and
    loud failure on junk / unsupported depth."""
    import struct

    import numpy as np
    import pytest as _pytest

    from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
        decode_bmp24,
        encode_bmp24,
    )

    rng = np.random.default_rng(11)
    for h, w in ((1, 1), (3, 7), (5, 4), (2, 13)):  # strides 4,24,12,40
        px = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
        payload = encode_bmp24(px)
        stride = (w * 3 + 3) & ~3
        assert len(payload) == 54 + stride * h
        assert np.array_equal(decode_bmp24(payload), px)
    # top-down variant: encoder writes the negative height itself, so
    # the file stays self-consistent and decodes to the same pixels
    px = rng.integers(0, 256, size=(3, 7, 3)).astype(np.uint8)
    p = encode_bmp24(px, flip_rows=False)
    assert struct.unpack("<i", p[22:26])[0] == -3
    assert np.array_equal(decode_bmp24(p), px)
    with _pytest.raises(ValueError, match="BMP"):
        decode_bmp24(b"JUNK" * 20)
    bad = bytearray(encode_bmp24(px))
    bad[28:30] = struct.pack("<H", 8)  # bpp field: 8-bit unsupported
    with _pytest.raises(ValueError, match="24-bit"):
        decode_bmp24(bytes(bad))


def test_sem_bits_scaling_rule():
    """bits auto-derivation: exactly SEM_BITS at the driver's 500-vector
    sf0.01 corpus (the oracle pin), monotone in corpus size, and ~+7 bits
    per 100x (occupancy held constant)."""
    from cours_datalake_dwh_td_kafka_spark.operators.dedup import (
        SEM_BITS,
        sem_bits_for,
    )

    assert sem_bits_for(500) == SEM_BITS
    assert sem_bits_for(1) == 1
    sizes = [10, 100, 1_000, 10_000, 100_000, 1_000_000]
    bits = [sem_bits_for(n) for n in sizes]
    assert bits == sorted(bits)
    assert sem_bits_for(50_000) - sem_bits_for(500) == 7  # 100x -> +log2(100)
    assert sem_bits_for(10**12) <= 30  # clamp


def test_global_topk_equals_single_window(spark):
    """The two-stage (salted local -> final) top-k reduce is value-equal
    to the naive single per-query window, including on rounded-cosine
    ties (total order via neighbor_id)."""
    from pyspark.sql import Window
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        global_topk,
    )

    rows = [
        # cosine collides across neighbors (i % 7) to force tie-breaks
        (q, n, float((n * 31 + q) % 7) / 10.0)
        for q in range(3)
        for n in range(200)
    ]
    scored = spark.createDataFrame(
        rows, "query_id long, neighbor_id long, cosine double"
    ).repartition(8)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    naive = (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", "cosine", "rn")
    )
    tree = global_topk(scored, 5, fanin=4)
    assert sorted(map(tuple, tree.collect())) == sorted(
        map(tuple, naive.collect())
    )


def test_doc_pack_offsets_within_budget(spark):
    """Packing invariants: offset_in_shard < budget, shard ids start at 0
    and never decrease within a source, and offsets reconstruct the
    cumulative token sum."""
    from cours_datalake_dwh_td_kafka_spark.operators.curation import (
        PACK_BUDGET,
        pack_documents,
    )

    d = load_table(spark, SF_ORACLE, "documents")
    out = pack_documents(d).collect()
    by_src = {}
    for r in out:
        assert 0 <= r.offset_in_shard < PACK_BUDGET
        assert r.shard_id * PACK_BUDGET + r.offset_in_shard >= 0
        by_src.setdefault(r.source, []).append(r)
    for rows in by_src.values():
        rows.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rows:
            assert r.shard_id == cum // PACK_BUDGET
            assert r.offset_in_shard == cum % PACK_BUDGET
            cum += r.n_tokens


def test_domain_mix_weights_sum_to_one(spark):
    from cours_datalake_dwh_td_kafka_spark.operators.curation import (
        domain_mix_weights,
    )

    d = load_table(spark, SF_ORACLE, "documents")
    rows = domain_mix_weights(d).collect()
    assert abs(sum(r.mix_weight for r in rows) - 1.0) < 1e-4
    assert all(r.mix_weight > 0 for r in rows)
    # temperature alpha<1 flattens: max/min weight ratio below raw ratio
    toks = {r.source: r.n_tokens for r in rows}
    w = {r.source: r.mix_weight for r in rows}
    raw_ratio = max(toks.values()) / min(toks.values())
    mix_ratio = max(w.values()) / min(w.values())
    assert mix_ratio <= raw_ratio + 1e-9


def test_pii_scrub_idempotent(spark):
    """Scrubbing already-scrubbed text changes nothing (placeholders
    contain no scrubbable spans)."""
    from cours_datalake_dwh_td_kafka_spark.operators.curation import (
        scrub_pii_text,
    )

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.com ip 10.0.0.1 tel +33 1 23 45 67 89 end"),
            (2, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    once = docs.select(
        "doc_id", scrub_pii_text(F.col("text")).alias("t1")
    )
    twice = once.select(
        "doc_id", "t1", scrub_pii_text(F.col("t1")).alias("t2")
    ).collect()
    for r in twice:
        assert r.t1 == r.t2
        assert "@" not in r.t2 or "<EMAIL>" in r.t2


def test_span_runs_finds_planted_copied_paragraph(spark):
    """A paragraph copied verbatim between two otherwise-different docs
    must surface as one span of exactly the paragraph's length; unrelated
    docs with no >=16-token overlap must not pair."""
    from cours_datalake_dwh_td_kafka_spark.operators.substring_dedup import (
        span_runs,
    )

    para = " ".join(f"w{i}" for i in range(40))  # 40-token copied span
    docs = [
        (1, "alpha beta " + para + " gamma delta epsilon zeta"),
        (2, "one two three four five " + para + " six seven"),
        (3, " ".join(f"x{i}" for i in range(60))),  # unrelated
        (4, " ".join(f"y{i}" for i in range(60))),  # unrelated
    ]
    d = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = {(r.doc_a, r.doc_b): r for r in span_runs(d).collect()}
    assert set(rows) == {(1, 2)}
    hit = rows[(1, 2)]
    assert hit.n_spans == 1
    assert hit.max_span_tokens == 40
    assert hit.dup_tokens == 40


def test_span_runs_merges_diagonal_and_caps_boilerplate(spark):
    """Two disjoint copied spans on different diagonals count separately,
    and a gram present in more than SPAN_MAX_DF docs is suppressed."""
    from cours_datalake_dwh_td_kafka_spark.operators.substring_dedup import (
        SPAN_MAX_DF,
        span_runs,
    )

    s1 = " ".join(f"a{i}" for i in range(20))
    s2 = " ".join(f"b{i}" for i in range(25))
    boiler = " ".join(f"c{i}" for i in range(20))
    docs = [
        (1, s1 + " filler1 filler2 filler3 " + s2),
        (2, s2 + " unrelated tokens here okay " + s1),
    ]
    # boilerplate shared by MANY docs -> df cap suppresses its grams
    docs += [(10 + i, boiler + f" tail{i}") for i in range(SPAN_MAX_DF + 2)]
    d = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = {(r.doc_a, r.doc_b): r for r in span_runs(d).collect()}
    assert (1, 2) in rows
    assert rows[(1, 2)].n_spans == 2
    assert rows[(1, 2)].max_span_tokens == 25
    assert rows[(1, 2)].dup_tokens == 45
    boiler_pairs = [p for p in rows if p[0] >= 10 and p[1] >= 10]
    assert not boiler_pairs, f"df cap failed: {boiler_pairs}"


def test_bpe_train_matches_pure_python_reference(spark):
    """The distributed BPE trainer must learn exactly the merges a
    textbook sequential implementation learns — same pairs, same counts,
    same greedy chain handling ('aaaa' + (a,a) -> two 'aa'), same
    lexicographic tie-breaks."""
    from collections import Counter

    from cours_datalake_dwh_td_kafka_spark.operators.bpe import bpe_train

    docs = [
        (1, "low low low lower lowest"),
        (2, "newer newer new newest"),
        (3, "aaaa aaaa abab banana"),
    ]

    def reference(texts, merges):
        words = Counter()
        for t in texts:
            for w in t.split():
                words[w] += 1
        reprs = {w: list(w) for w in words}
        out = []
        for step in range(1, merges + 1):
            pairs = Counter()
            for w, cnt in words.items():
                r = reprs[w]
                for i in range(len(r) - 1):
                    pairs[(r[i], r[i + 1])] += cnt
            if not pairs:
                break
            # count desc, then (left, right) asc — the engine's tie-break
            (l, r), c = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            out.append((step, l, r, l + r, c))
            for w in reprs:
                old = reprs[w]
                new, i = [], 0
                while i < len(old):
                    if (
                        i + 1 < len(old)
                        and old[i] == l
                        and old[i + 1] == r
                    ):
                        new.append(l + r)
                        i += 2
                    else:
                        new.append(old[i])
                        i += 1
                reprs[w] = new
        return out

    d = spark.createDataFrame(docs, ["doc_id", "text"])
    got = [
        (r.step, r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in bpe_train(d, merges=5).collect()
    ]
    want = reference([t for _, t in docs], 5)
    assert got == want, f"\ngot:  {got}\nwant: {want}"


def test_png_codec_roundtrip_and_validation():
    """encode_png_rgb8 -> decode_png_rgb8 must be identity for images
    tall enough to exercise ALL five scanline filters (the encoder
    cycles them per row); truncated/corrupted payloads must be
    rejected, and the PNG and BMP codecs must agree on the same
    pixels."""
    import numpy as np

    from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
        decode_bmp24,
        decode_png_rgb8,
        encode_bmp24,
        encode_png_rgb8,
    )

    rng = np.random.RandomState(7)
    for h, w in [(1, 1), (5, 7), (11, 3), (8, 8)]:
        px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        payload = encode_png_rgb8(px)
        assert payload[:8] == b"\x89PNG\r\n\x1a\n"
        back = decode_png_rgb8(payload)
        assert back.shape == (h, w, 3)
        assert (back == px).all(), f"round-trip failed at {h}x{w}"
        # the two image codecs must agree bit-for-bit on the same pixels
        assert (decode_bmp24(encode_bmp24(px)) == back).all()

    px = rng.randint(0, 256, size=(6, 4, 3), dtype=np.uint8)
    payload = bytearray(encode_png_rgb8(px))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png_rgb8(b"GIF89a" + bytes(payload))
    # flip one IDAT byte: the chunk CRC must catch it
    payload[40] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png_rgb8(bytes(payload))


def test_png_decoder_reads_foreign_gradient():
    """Decode a PNG NOT produced by our encoder: a hand-built all-Up
    filter stream (valid per spec) must reconstruct the gradient."""
    import struct
    import zlib

    import numpy as np

    from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
        decode_png_rgb8,
    )

    w, h = 3, 4
    rows = np.arange(h * w * 3, dtype=np.uint8).reshape(h, w * 3) % 256
    raw = bytearray()
    prev = np.zeros(w * 3, dtype=np.int64)
    for r in range(h):
        raw.append(2)  # Up filter everywhere
        raw.extend(((rows[r].astype(np.int64) - prev) % 256).astype(
            np.uint8).tobytes())
        prev = rows[r].astype(np.int64)

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    payload = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
               + chunk(b"IDAT", zlib.compress(bytes(raw)))
               + chunk(b"IEND", b""))
    got = decode_png_rgb8(payload)
    assert (got.reshape(h, w * 3) == rows).all()


def test_round4_operators_tolerate_empty_input(spark):
    """Every new composable operator must return an EMPTY frame (not
    raise) on empty input — the degenerate partition every real lake
    eventually feeds them."""
    from cours_datalake_dwh_td_kafka_spark.operators.bpe import bpe_train
    from cours_datalake_dwh_td_kafka_spark.operators.graph import pagerank
    from cours_datalake_dwh_td_kafka_spark.operators.profiling import (
        robust_anomaly,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.rag import (
        doc_chunks,
        weighted_sample,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.substring_dedup import (
        span_runs,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.timeseries import (
        ewma,
        gap_fill_daily,
        interpolate_linear,
    )

    no_docs = spark.createDataFrame(
        [], "doc_id bigint, text string, n_chars bigint"
    )
    no_events = spark.createDataFrame(
        [], "event_id bigint, ts timestamp, user_id bigint, value double"
    )
    no_edges = spark.createDataFrame([], "src bigint, dst bigint")

    for name, df in [
        ("doc_chunks", doc_chunks(no_docs)),
        ("weighted_sample", weighted_sample(no_docs)),
        ("span_runs", span_runs(no_docs)),
        ("bpe_train", bpe_train(no_docs, merges=3)),
        ("ewma", ewma(no_events)),
        ("gap_fill_daily", gap_fill_daily(no_events)),
        ("interpolate_linear", interpolate_linear(no_events)),
        ("robust_anomaly", robust_anomaly(no_events)),
        ("pagerank", pagerank(no_edges, iters=2)),
    ]:
        assert df.count() == 0, f"{name} should be empty on empty input"


def test_persisted_ivf_index_matches_inquery_and_prunes(spark, tmp_path):
    """build-once/query-many IVF: the persisted index must return the
    SAME neighbors as the in-query ivf_topk at the same probe settings,
    and the probe scan must use partition pruning (cell is a partition
    column resolved via PartitionFilters, not a row filter)."""
    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators.ann_index import (
        build_ivf_index,
        ivf_query_index,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        N_QUERIES,
        ivf_topk,
    )
    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    path = str(tmp_path / "ivf")
    n_cells = build_ivf_index(emb, path)
    assert n_cells >= 1

    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    served = ivf_query_index(spark, path, queries)
    inquery = ivf_topk(emb)
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, inquery.collect())
    )

    # second query batch against the SAME index: no rebuild, same answers
    again = ivf_query_index(spark, path, queries)
    assert sorted(map(tuple, again.collect())) == sorted(
        map(tuple, served.collect())
    )

    # the layout IS the filter: cell must appear as a partition filter
    from cours_datalake_dwh_td_kafka_spark.operators.ann_index import (
        _current_version_dir,
    )

    vecs = spark.read.parquet(
        f"{_current_version_dir(path)}/vectors"
    ).where(F.col("cell").isin([0, 1]))
    plan = vecs._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters"
    )[1][:120]


def test_point_in_polygon_matches_pure_python_raycast(spark):
    """The array-lambda even-odd test must agree with a textbook python
    ray cast on a deterministic point grid over all three zone shapes —
    including the concave L, where bbox shortcuts would differ."""
    from cours_datalake_dwh_td_kafka_spark.operators.spatial import (
        ZONES,
        point_in_polygon,
        zones_polygons,
    )

    def inside(px, py, verts):
        n, c = len(verts), False
        for i in range(n):
            x1, y1 = verts[i]
            x2, y2 = verts[(i + 1) % n]
            if (y1 > py) != (y2 > py) and px < (x2 - x1) * (py - y1) / (
                y2 - y1
            ) + x1:
                c = not c
        return c

    pts = [
        (i, float(px), float(py))
        for i, (px, py) in enumerate(
            (px, py) for px in range(-60, 61, 7) for py in range(-30, 31, 7)
        )
    ]
    d = spark.createDataFrame(pts, "pid long, x double, y double")
    got = {
        (r.pid, r.zone)
        for r in point_in_polygon(d, zones_polygons(spark)).collect()
    }
    want = {
        (pid, zone)
        for pid, px, py in pts
        for zone, verts in ZONES
        if inside(px, py, verts)
    }
    assert want, "grid should hit every zone"
    assert got == want


def test_fuzzy_contamination_catches_paraphrase_exact_misses(spark):
    """The round-7 brief's seeded scenario: a benchmark item reworded
    every 6th token breaks EVERY 8-gram (change spacing < window), so
    contamination_check is blind to it — while the planted paraphrase
    keeps ~half its 3-gram shingles and fuzzy_contamination flags the
    (paraphrase, benchmark) pair above threshold for every bench doc."""
    from cours_datalake_dwh_td_kafka_spark.operators.curation import (
        CONTAM_BENCH_MOD,
        contamination_check,
        fuzzy_contamination,
        paraphrase_bench,
    )
    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from tests.conftest import SF_ORACLE

    d = load_table(spark, SF_ORACLE, "documents")
    bench_ids = [
        r.doc_id
        for r in d.where(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
        .select("doc_id")
        .collect()
    ]
    assert bench_ids
    corpus = d.select("doc_id", "text").unionByName(paraphrase_bench(d))

    # exact 8-gram check on the seeded corpus: the planted paraphrases
    # must NOT be among the flagged train docs
    exact_flagged = {
        r.doc_id for r in contamination_check(corpus).collect()
    }
    planted = {-b - 1 for b in bench_ids}
    assert not (exact_flagged & planted)

    # fuzzy containment: every planted (paraphrase, source bench) pair
    # is caught (fuzzy_contamination plants the same paraphrases itself)
    fuzzy_pairs = {
        (r.doc_id, r.bench_doc)
        for r in fuzzy_contamination(d).collect()
    }
    for b in bench_ids:
        assert (-b - 1, b) in fuzzy_pairs


def test_ivfpq_full_rerank_equals_exact_ivf(spark):
    """With rerank depth covering every candidate, IVF-PQ's exact-rerank
    stage must reproduce ivf_topk EXACTLY (same sample, same coarse
    cells, same probe assignment): the ADC stage then only orders the
    shortlist, and the refine stage's true cosines decide — so any
    difference would mean the PQ path drops or mislabels candidates."""
    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        ivf_topk,
        ivfpq_topk,
    )
    from tests.conftest import SF_ORACLE

    e = load_table(spark, SF_ORACLE, "embeddings")
    exact = sorted(
        (r.query_id, r.rn, r.neighbor_id, r.cosine)
        for r in ivf_topk(e).collect()
    )
    pq = sorted(
        (r.query_id, r.rn, r.neighbor_id, r.cosine)
        for r in ivfpq_topk(e, rerank=10**6).collect()
    )
    assert exact == pq
    assert exact  # non-degenerate


def test_ivfpq_recall_meets_floor_at_production_rerank(spark):
    """At the production rerank depth the registered recall bound holds
    per query (the driver-hashed guarantee), and the PQ codes are
    well-formed: m codes per vector, each within the codebook."""
    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        _fit_pq_books,
        ivf_recall_check,
        ivfpq_topk,
    )
    from tests.conftest import SF_ORACLE

    e = load_table(spark, SF_ORACLE, "embeddings")
    checked = ivf_recall_check(e, ivfpq_topk(e)).collect()
    assert checked and all(r.recall_ok for r in checked)
    # codebook shape invariants on a small sample
    sample = [r.embedding for r in e.limit(64).collect()]
    books = _fit_pq_books(sample)
    assert len(books) == PQ_M
    assert all(1 <= len(b) <= PQ_K for b in books)


def test_keyframes_one_per_shot_on_crafted_video(spark):
    """A crafted 6-frame video with hard cuts at frames 2 and 4 (three
    flat shots of values 0 / 200 / 90) yields exactly three keyframes at
    the first frame of each shot, with per-frame decode stats."""
    import numpy as np

    from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
        FRAME_H,
        FRAME_SIZE,
        FRAME_W,
        encode_bmp24,
        keyframe_stats,
    )

    vals = [0, 0, 200, 200, 90, 90]
    frames = [
        encode_bmp24(np.full((FRAME_H, FRAME_W, 3), v, dtype=np.uint8))
        for v in vals
    ]
    video = b"".join(frames)
    d = spark.createDataFrame([(7, video)], "doc_id BIGINT, payload BINARY")
    rows = sorted(
        (r.shot_id, r.frame_idx, r.px_sum, r.px_min, r.px_max)
        for r in keyframe_stats(d).collect()
    )
    assert rows == [
        (0, 0, 0, 0, 0),
        (1, 2, 200 * FRAME_SIZE, 200, 200),
        (2, 4, 90 * FRAME_SIZE, 90, 90),
    ]


def test_persisted_ivfpq_index_matches_inquery_and_prunes(spark, tmp_path):
    """build-once/query-many IVF-PQ: the persisted-code serving path
    must return the SAME result as the in-query ivfpq_topk at equal
    parameters (same sample, same codebooks, same probes, same rerank),
    and the code scan must resolve the probed cells via partition
    pruning."""
    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators.ann_index import (
        _current_version_dir,
        build_ivfpq_index,
        ivfpq_query_index,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        N_QUERIES,
        ivfpq_topk,
    )
    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    path = str(tmp_path / "ivfpq")
    assert build_ivfpq_index(emb, path) >= 1

    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    served = ivfpq_query_index(spark, path, queries, emb)
    inquery = ivfpq_topk(emb)
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, inquery.collect())
    )

    codes = spark.read.parquet(
        f"{_current_version_dir(path)}/codes"
    ).where(F.col("cell").isin([0, 1]))
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters"
    )[1][:120]


@pytest.mark.slow
def test_ivfpq_append_serves_grown_corpus(spark, tmp_path):
    """Incremental PQ maintenance (the PQ twin of the IVF append): after
    append_ivfpq_index the CURRENT version serves the WHOLE corpus — at
    full probe + full-depth rerank it equals exact brute force
    regardless of the frozen quantizer/codebooks — while the pre-append
    version still serves exactly the snapshot; vacuum keeps the chain
    and a rebuild releases it."""
    import os

    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators.ann_index import (
        _current_version_dir,
        append_ivfpq_index,
        build_ivfpq_index,
        ivfpq_query_index,
        vacuum_index,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        N_QUERIES,
        ann_topk_bruteforce,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        N_CELLS,
    )
    from tests.conftest import SF_ORACLE

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    emb_d = e.select("vec_id", "embedding")
    path = str(tmp_path / "pq")
    build_ivfpq_index(emb_d.where(F.col("vec_id") % 2 == 0), path)
    old_version = os.path.basename(_current_version_dir(path))
    n_roots = append_ivfpq_index(
        emb_d.where(F.col("vec_id") % 2 == 1), path
    )
    assert n_roots == 2

    q = emb_d.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    n = e.count()
    served = sorted(
        map(
            tuple,
            ivfpq_query_index(
                spark, path, q, e, nprobe=N_CELLS, rerank=n
            ).collect(),
        )
    )
    exact = sorted(map(tuple, ann_topk_bruteforce(e).collect()))
    assert served == exact

    old = ivfpq_query_index(
        spark, path, q, e, nprobe=N_CELLS, rerank=n, version=old_version
    )
    assert old.where(F.col("neighbor_id") % 2 == 1).count() == 0

    assert vacuum_index(path, grace_seconds=0) == []
    build_ivfpq_index(emb_d, path)  # the PQ 'compaction' IS a rebuild
    removed = set(vacuum_index(path, grace_seconds=0))
    assert old_version in removed and len(removed) == 2
    again = sorted(
        map(
            tuple,
            ivfpq_query_index(
                spark, path, q, e, nprobe=N_CELLS, rerank=n
            ).collect(),
        )
    )
    assert again == exact


def test_holt_forecast_matches_python_and_tracks_ramps(spark):
    """Holt's (level, trend) fold equals a textbook python reference on
    a crafted series, and on a pure ramp its one-step forecast is
    strictly closer to the next value than EWMA's (the trend state is
    the point of the operator)."""
    import datetime as dt

    from cours_datalake_dwh_td_kafka_spark.operators.timeseries import (
        _HOLT_ALPHA,
        _HOLT_BETA,
        ewma,
        holt_forecast,
    )

    vals = [float(10 + 5 * i) for i in range(20)]  # ramp: next = 110
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (7, t0 + dt.timedelta(minutes=i), i, v) for i, v in enumerate(vals)
    ]
    e = spark.createDataFrame(
        rows, "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, value DOUBLE"
    )
    got = holt_forecast(e).collect()[0]

    l, b = vals[0], 0.0
    for x in vals[1:]:
        ln = _HOLT_ALPHA * x + (1 - _HOLT_ALPHA) * (l + b)
        b = _HOLT_BETA * (ln - l) + (1 - _HOLT_BETA) * b
        l = ln
    assert got.level == round(l, 6)
    assert got.trend == round(b, 6)
    assert got.forecast_1 == round(l + b, 6)

    nxt = vals[-1] + 5.0
    ew = ewma(e).collect()[0].ewma_value
    assert abs(got.forecast_1 - nxt) < abs(ew - nxt)


def test_epoch_allocation_sums_exactly_to_budget(spark):
    """Largest-remainder apportionment: integer units sum EXACTLY to the
    budget (the property naive weight rounding loses), every source gets
    >= floor(share), and no source gains more than one bonus unit."""
    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators.curation import (
        EPOCH_BUDGET,
        epoch_allocation,
    )
    from tests.conftest import SF_ORACLE

    d = load_table(spark, SF_ORACLE, "documents")
    rows = epoch_allocation(d).collect()
    assert sum(r.n_units for r in rows) == EPOCH_BUDGET
    import math

    for r in rows:
        base = math.floor(round(r.mix_weight, 6) * EPOCH_BUDGET + 1e-9)
        assert r.n_units in (base, base + 1)


# ---------------------------------------------------------------------------
# kmeans_lloyd: Lloyd-iteration invariants the hash parity can't express
# ---------------------------------------------------------------------------
def test_kmeans_cost_non_increasing_over_rounds(spark):
    """Lloyd's alternation can only lower the within-cluster cost: both
    the E-step (each vector moves to its nearest centroid) and the
    M-step (the mean minimizes summed squared distance) are exact here
    up to the 6-dp centroid rounding, so total cost after r+1 rounds
    must not exceed cost after r rounds beyond that rounding slack."""
    from cours_datalake_dwh_td_kafka_spark.operators.clustering import (
        kmeans_lloyd,
    )

    e = load_table(spark, SF_ORACLE, "embeddings")
    costs = []
    for rounds in (1, 2, 3):
        rows = kmeans_lloyd(e, rounds=rounds).collect()
        costs.append(sum({r.cell: r.cell_cost for r in rows}.values()))
    # 6-dp centroid rounding perturbs each squared diff by O(1e-6);
    # bound the slack generously at 1e-3 absolute
    assert costs[1] <= costs[0] + 1e-3, costs
    assert costs[2] <= costs[1] + 1e-3, costs


def test_kmeans_k1_centroid_is_global_decimal_mean(spark):
    """With k=1 every round assigns everything to cell 0 and the
    centroid is exactly the corpus-wide 6-dp decimal mean per
    dimension — pinning the M-step against an independent spelling."""
    from cours_datalake_dwh_td_kafka_spark.operators.clustering import (
        kmeans_lloyd,
    )

    e = load_table(spark, SF_ORACLE, "embeddings")
    got = {
        r.pos: r.c for r in kmeans_lloyd(e, k=1, rounds=2).collect()
    }
    want_rows = (
        e.select(F.posexplode("embedding").alias("pos", "v"))
        .groupBy("pos")
        .agg(
            F.round(
                F.sum(
                    F.col("v").cast("double").cast("decimal(28,6)")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("c")
        )
        .collect()
    )
    want = {r.pos: r.c for r in want_rows}
    assert got == want
    n = e.count()
    rows = kmeans_lloyd(e, k=1, rounds=2).collect()
    assert all(r.n_vecs == n for r in rows)


def test_hard_negative_ivf_masks_inside_probe(spark, tmp_path):
    """The served hard-negative miner (round 10): the label mask runs
    INSIDE the probed-cell scan — no served neighbor ever shares the
    query's label or IS the query — and full-probe serving equals the
    exact miner's neighbor sets exactly (same mask, same tie order)."""
    from cours_datalake_dwh_td_kafka_spark.operators.ann_index import (
        build_ivf_index,
        ivf_query_index,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        N_CELLS,
        hard_negative_mining,
    )

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "hneg")
    build_ivf_index(
        e.select("vec_id", "embedding", "label"), idx, meta_cols=("label",)
    )
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
        "label",
    )
    served = ivf_query_index(
        spark, idx, q, nprobe=N_CELLS, top_k=5, exclude_label_col="label"
    )
    qlab = {r.vec_id: r.label for r in e.where("vec_id < 10").collect()}
    nlab = {r.vec_id: r.label for r in e.select("vec_id", "label").collect()}
    got = served.collect()
    assert got, "served miner returned nothing"
    for r in got:
        assert r.neighbor_id != r.query_id
        assert nlab[r.neighbor_id] != qlab[r.query_id], r
    exact = {
        (r.query_id, r.neighbor_id)
        for r in hard_negative_mining(e).collect()
    }
    assert {(r.query_id, r.neighbor_id) for r in got} == exact


@pytest.mark.slow
def test_index_lake_pairing_survives_interleaved_mutations(spark, tmp_path):
    """Round-10 snapshot-consistency contract: a reader that resolved
    the index version BEFORE a MERGE+append interleave still serves
    exactly the lake snapshot its manifest records (time travel on both
    sides); the live index records the post-MERGE version; compaction
    and unpinned appends carry the recorded pairing forward."""
    import os

    from cours_datalake_dwh_td_kafka_spark import lake
    from cours_datalake_dwh_td_kafka_spark.operators import ann_index as ai

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    lake_path, idx = str(tmp_path / "lake"), str(tmp_path / "idx")
    base, batch = e.where("vec_id < 400"), e.where("vec_id >= 400")
    lake.lake_commit(base, lake_path)  # v1
    ai.build_ivf_index(
        lake.lake_read(spark, lake_path, 1), idx, lake_version=1
    )
    # a reader resolves its snapshot BEFORE the mutations land
    pinned = os.path.basename(ai._current_version_dir(idx))

    lake.lake_merge_upsert(spark, lake_path, batch, "vec_id")  # v2
    ai.append_ivf_index(batch, idx, lake_version=2)

    assert ai.index_lake_version(idx, pinned) == 1
    ids_pinned = {
        r.vec_id for r in ai.served_vec_ids(spark, idx, pinned).collect()
    }
    ids_lake1 = {
        r.vec_id
        for r in lake.lake_read(spark, lake_path, 1)
        .select("vec_id")
        .collect()
    }
    assert ids_pinned == ids_lake1

    assert ai.index_lake_version(idx) == 2
    ids_live = {r.vec_id for r in ai.served_vec_ids(spark, idx).collect()}
    ids_lake2 = {
        r.vec_id
        for r in lake.lake_read(spark, lake_path, 2)
        .select("vec_id")
        .collect()
    }
    assert ids_live == ids_lake2

    # compaction rewrites the same rows: the pairing carries forward
    ai.compact_ivf_index(spark, idx)
    assert ai.index_lake_version(idx) == 2
    assert {
        r.vec_id for r in ai.served_vec_ids(spark, idx).collect()
    } == ids_lake2

    # an append with no explicit pin carries the parent's recorded
    # version (out-of-protocol rows don't advance the lake pairing)
    dim = len(e.select("embedding").first()[0])
    extra = spark.createDataFrame(
        [(10_000, [0.5] * dim)], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    ai.append_ivf_index(extra, idx)
    assert ai.index_lake_version(idx) == 2


def test_index_delete_survives_append_and_rechain(spark, tmp_path):
    """Tombstone carry (round 10): vectors deleted from the served index
    stay excluded after a LATER append (the append's manifest carries
    the tombstone roots — a new batch must not resurrect erased ids),
    and the appended batch itself serves."""
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.operators import ann_index as ai

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    idx = str(tmp_path / "idx")
    base = e.where("vec_id < 400")
    ai.build_ivf_index(base, idx)
    ai.delete_from_ivf_index(
        base.where("vec_id % 10 = 5").select("vec_id"), idx
    )
    ai.append_ivf_index(e.where("vec_id >= 400"), idx)
    served = {
        r.vec_id for r in ai.served_vec_ids(spark, idx).collect()
    }
    want = {
        r.vec_id
        for r in e.where(
            "(vec_id < 400 AND vec_id % 10 <> 5) OR vec_id >= 400"
        ).collect()
    }
    assert served == want
    # and the query path agrees: no deleted id is ever a neighbor
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        N_CELLS,
    )

    got = ai.ivf_query_index(spark, idx, q, nprobe=N_CELLS).collect()
    assert got and all(r.neighbor_id in want for r in got)


def test_label_filtered_serving_string_labels(spark, tmp_path):
    """Round-10 review fix: the in-index label mask must work for
    STRING-typed labels (language codes, licenses) — digit strings
    previously type-mismatched the comparison and silently disabled the
    mask."""
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.operators import ann_index as ai

    e = (
        load_table(spark, "/root/testdata/sf0.001", "embeddings")
        .select(
            "vec_id",
            "embedding",
            F.col("label").cast("string").alias("label"),
        )
    )
    idx = str(tmp_path / "idx")
    ai.build_ivf_index(e, idx, meta_cols=("label",))
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
        "label",
    )
    got = ai.ivf_query_index(
        spark, idx, q, nprobe=8, top_k=5, exclude_label_col="label"
    ).collect()
    assert got
    qlab = {r.vec_id: r.label for r in e.where("vec_id < 5").collect()}
    nlab = {r.vec_id: r.label for r in e.select("vec_id", "label").collect()}
    for r in got:
        assert nlab[r.neighbor_id] != qlab[r.query_id], r

    # and an index without the metadata column is rejected loudly
    import pytest as _pytest

    bare = str(tmp_path / "bare")
    ai.build_ivf_index(e.select("vec_id", "embedding"), bare)
    with _pytest.raises(ValueError, match="stores no 'label'"):
        ai.ivf_query_index(
            spark, bare, q, nprobe=8, exclude_label_col="label"
        )

    # a QUERY frame missing the 'label' column is rejected with the
    # contract named, not a bare AttributeError (ADVICE r10)
    with _pytest.raises(ValueError, match="'label' column"):
        ai.ivf_query_index(
            spark, idx, q.drop("label"), nprobe=8,
            exclude_label_col="label",
        )


@pytest.mark.slow
def test_corpus_self_probe_mining_full_probe_equals_exact(spark, tmp_path):
    """r11 (verdict #3): corpus-wide self-probe mining at full probe is
    bit-equal to the exact all-pairs miner with probe set == corpus —
    n_queries == corpus size, no driver-side query matrix. Bounded
    nprobe returns a per-query subset shape; tombstoned vectors leave
    both the probe and candidate sides; a label-less index is rejected
    loudly."""
    import pytest
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.operators import ann_index as ai
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        hard_negative_mining,
    )

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = e.count()
    idx = str(tmp_path / "idx")
    ai.build_ivf_index(
        e.select("vec_id", "embedding", "label"), idx, meta_cols=("label",)
    )
    full = ai.hard_negative_mining_corpus(spark, idx)
    exact = hard_negative_mining(e, n_queries=n).select(
        "query_id", "neighbor_id", "cosine", "rn"
    )
    assert full.count() == exact.count()
    assert full.exceptAll(exact).count() == 0
    assert full.select("query_id").distinct().count() == n

    reduced = ai.hard_negative_mining_corpus(
        spark, idx, nprobe=ai.HARDNEG_NPROBE
    )
    # bounded probing can only shrink/keep each query's candidate pool
    assert reduced.count() <= full.count()
    assert reduced.select("query_id").distinct().count() == n

    # tombstoned vectors are neither queries nor candidates
    gone = e.where(F.col("vec_id") < 3).select("vec_id")
    ai.delete_from_ivf_index(gone, idx)
    after = ai.hard_negative_mining_corpus(spark, idx)
    assert after.select("query_id").distinct().count() == n - 3
    assert after.where(F.col("neighbor_id") < 3).count() == 0

    bare = str(tmp_path / "bare")
    ai.build_ivf_index(e.select("vec_id", "embedding"), bare)
    with pytest.raises(ValueError, match="stores no 'label'"):
        ai.hard_negative_mining_corpus(spark, bare)


@pytest.mark.slow
def test_pq_corpus_mining_and_meta_preservation(spark, tmp_path):
    """r11: the PQ-coded corpus-wide miner — per-query recall vs the
    flat full-probe truth clears the floor at the tuned (nprobe,
    rerank); metadata columns survive build AND append (the round-10
    maintenance-strips-metadata lesson applied to the PQ layout); a
    label-less PQ index is rejected loudly; an append batch missing the
    stored metadata is rejected loudly."""
    import pytest
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.operators import ann_index as ai

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = e.count()
    pq = str(tmp_path / "pq")
    ai.build_ivfpq_index(e, pq, meta_cols=("label",))
    flat = str(tmp_path / "flat")
    ai.build_ivf_index(
        e.select("vec_id", "embedding", "label"), flat, meta_cols=("label",)
    )
    truth = (
        ai.hard_negative_mining_corpus(spark, flat)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    served = ai.hard_negative_mining_corpus_pq(spark, pq, e).select(
        "query_id", "neighbor_id"
    )
    k = truth.groupBy("query_id").count().withColumnRenamed("count", "k")
    h = (
        served.join(truth, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .count()
        .withColumnRenamed("count", "h")
    )
    bad = (
        k.join(h, "query_id", "left")
        .where(
            F.coalesce(F.col("h"), F.lit(0)) / F.col("k")
            < ai.IVF_RECALL_FLOOR
        )
        .count()
    )
    assert bad == 0
    assert served.select("query_id").distinct().count() == n
    # neighbors never share the query's label (mask inside the scan)
    lab = e.select("vec_id", "label")
    pairs = (
        served.join(
            lab.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("ql"),
            ),
            "query_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nl"),
            ),
            "neighbor_id",
        )
    )
    assert pairs.where("ql = nl").count() == 0

    # append preserves the metadata column on the PQ codes
    half = str(tmp_path / "half")
    ai.build_ivfpq_index(
        e.where("vec_id % 2 = 0"), half, meta_cols=("label",)
    )
    ai.append_ivfpq_index(e.where("vec_id % 2 = 1"), half)
    vdir = ai._current_version_dir(half)
    for root in ai._vector_roots(half, vdir):
        assert "label" in spark.read.parquet(root).columns, root
    # mining over the appended index covers the union
    got = ai.hard_negative_mining_corpus_pq(spark, half, e)
    assert got.select("query_id").distinct().count() == n

    # loud contracts
    bare = str(tmp_path / "bare")
    ai.build_ivfpq_index(e, bare)
    with pytest.raises(ValueError, match="stores no 'label'"):
        ai.hard_negative_mining_corpus_pq(spark, bare, e)
    with pytest.raises(ValueError, match="lacks"):
        ai.append_ivfpq_index(
            e.where("vec_id % 2 = 1").drop("label"), half
        )


def test_nb_language_filter_learns_signal_and_respects_split(spark):
    """The trained NB filter (r11): held-out predictions must (a) cover
    exactly the doc_id % NB_TEST_MOD == 0 split, (b) beat the majority
    baseline on the synthetic lang signal, and (c) report `correct`
    consistent with pred vs actual."""
    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators.curation import (
        NB_TEST_MOD,
        nb_language_filter,
    )

    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    got = nb_language_filter(d).collect()
    test_ids = {
        r.doc_id
        for r in d.where(f"doc_id % {NB_TEST_MOD} = 0")
        .select("doc_id")
        .collect()
    }
    assert {r.doc_id for r in got} == test_ids
    for r in got:
        assert r.correct == (r.pred_en == r.is_en)
        assert r.pred_en == (r.nb_margin > 0)
    acc = sum(r.correct for r in got) / len(got)
    n_en = sum(r.is_en for r in got)
    majority = max(n_en, len(got) - n_en) / len(got)
    # weak synthetic signal, but a trained model must not be WORSE than
    # always guessing the majority class
    assert acc >= majority - 1e-9, (acc, majority)


def test_kmv_sketch_mergeable_across_partitions(spark):
    """KMV mergeability — the property that makes the synopsis shippable
    per partition/day/source: the k smallest of two partial sketches
    equals the sketch of the union, so a distributed fold is exact."""
    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators.sketches import (
        KMV_K,
        kmv_sketch,
    )

    o = load_table(spark, "/root/testdata/sf0.01", "orders")
    whole = [r.h for r in kmv_sketch(o, "o_custkey").collect()]
    p1 = [r.h for r in kmv_sketch(o.where("o_orderkey % 2 = 0"), "o_custkey").collect()]
    p2 = [r.h for r in kmv_sketch(o.where("o_orderkey % 2 = 1"), "o_custkey").collect()]
    merged = sorted(set(p1) | set(p2))[:KMV_K]
    assert merged == whole


def test_opq_monotone_improvement_and_orthonormal():
    """fit_opq's alternation must never end above plain PQ's sample MSE
    (R = I / PQ-books start; every sub-step non-increasing), and the
    Procrustes rotation must be orthonormal — on arbitrary data, not
    just the test corpus."""
    import numpy as np

    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        _fit_pq_books,
        _pq_reconstruct,
        fit_opq,
    )

    rng = np.random.RandomState(7)
    # anisotropic data: correlated dims, where rotation genuinely helps
    base = rng.randn(300, 8) @ rng.randn(8, 64)
    sample = [list(v) for v in base]
    R, books, mse_pq, mse_opq = fit_opq(sample, m=8, k=16, n_iter=5)
    assert mse_opq <= mse_pq + 1e-12, (mse_pq, mse_opq)
    assert np.abs(R @ R.T - np.eye(64)).max() < 1e-8
    # cross-check mse_pq against an independent computation
    x = np.asarray(sample, dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    direct = float(
        ((x - _pq_reconstruct(x, _fit_pq_books(sample, 8, 16))) ** 2).sum()
        / len(x)
    )
    assert abs(direct - mse_pq) < 1e-9


@pytest.mark.slow
def test_opq_index_lifecycle_append_preserves_rotation(spark, tmp_path):
    """The persisted OPQ index: build on the even half, append the odd
    half — the frozen rotation must ride along byte-for-byte (it joins
    the quantizer fingerprint), the served set must cover the union,
    and serving must equal a fresh query against the same artifacts."""
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators import ann_index as ai

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "opq")
    ai.build_ivfpq_index(e.where("vec_id % 2 = 0"), idx, opq=True)
    v0 = ai._current_version_dir(idx)
    R0 = ai._load_rotation(spark, v0)
    assert R0 is not None and R0.shape[0] == R0.shape[1]
    ai.append_ivfpq_index(e.where("vec_id % 2 = 1"), idx)
    v1 = ai._current_version_dir(idx)
    assert v1 != v0
    R1 = ai._load_rotation(spark, v1)
    assert (R0 == R1).all()
    # fingerprint covers the rotation artifact
    assert ai._quantizer_fingerprint(
        v0, ai._pq_artifact_dirs(v0)
    ) == ai._quantizer_fingerprint(v1, ai._pq_artifact_dirs(v1))
    assert "rotation.parquet" in ai._pq_artifact_dirs(v1)

    # the appended index serves the union: every vector findable as its
    # own nearest neighbor's query — cheap proxy: query a batch drawn
    # from BOTH halves and demand non-empty results for each
    q = e.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    ).where("query_id < 8")
    served = ai.ivfpq_query_index(spark, idx, q, e)
    assert served.select("query_id").distinct().count() == 8

    # a plain index stays rotation-free (no artifact, no probe rotate)
    plain = str(tmp_path / "plain")
    ai.build_ivfpq_index(e, plain)
    assert ai._load_rotation(spark, ai._current_version_dir(plain)) is None
    assert ai._pq_artifact_dirs(ai._current_version_dir(plain)) == (
        "centroids.parquet",
        "books.parquet",
    )


@pytest.mark.slow
def test_misra_gries_completeness_under_adversarial_order(spark):
    """The MG completeness theorem, attacked: a heavy item interleaved
    with floods of distinct one-off keys (the worst case for counter
    eviction) must survive the per-partition summaries for EVERY
    partitioning, and the recount returns its exact global count."""
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.operators.sketches import (
        heavy_hitters_mg,
        mg_candidates,
    )

    # 400 distinct flood keys + one key holding ~34% of rows, arranged
    # so the heavy key's runs are split by eviction-triggering floods
    rows = []
    hid = 10_000
    for i in range(400):
        rows.append((i,))
        if i % 2 == 0:
            rows.append((hid,))
    df = spark.createDataFrame(rows, "k BIGINT")
    for parts in (1, 3, 8):
        d = df.repartition(parts)
        cand = {r.k for r in mg_candidates(d, "k", k=4).collect()}
        assert hid in cand, (parts, len(cand))
        got = heavy_hitters_mg(d, "k", k=4).collect()
        assert [(r.k, r.exact_cnt) for r in got] == [(hid, 200)]
        assert all(r.above_threshold_complete_ok for r in got)


def test_interpolate_linear_hand_series(spark):
    """Pinned two-point semantics on a hand-built gap: observed days
    pass through untouched, a 3-day gap splits the delta into exact
    quarters, and the LOCF twin disagrees on exactly the gap days."""
    from datetime import datetime

    from cours_datalake_dwh_td_kafka_spark.operators.timeseries import (
        gap_fill_daily,
        interpolate_linear,
    )

    rows = [
        (1, datetime(2024, 1, 1, 9), 1, 10.0),
        (2, datetime(2024, 1, 5, 9), 1, 30.0),
        (3, datetime(2024, 1, 1, 9), 2, 7.0),  # single-day key: no gaps
    ]
    e = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, value double"
    )
    got = {
        (r.user_id, r.day): (r.day_value, r.interp_value)
        for r in interpolate_linear(e).collect()
    }
    assert got[(1, "2024-01-01")] == (10.0, 10.0)
    assert got[(1, "2024-01-02")] == (None, 15.0)
    assert got[(1, "2024-01-03")] == (None, 20.0)
    assert got[(1, "2024-01-04")] == (None, 25.0)
    assert got[(1, "2024-01-05")] == (30.0, 30.0)
    assert got[(2, "2024-01-01")] == (7.0, 7.0)

    locf = {
        (r.user_id, r.day): r.filled_value
        for r in gap_fill_daily(e).collect()
    }
    assert locf[(1, "2024-01-03")] == 10.0  # LOCF holds the level...
    assert got[(1, "2024-01-03")][1] == 20.0  # ...interpolation the trend


def test_corpus_drift_psi_null_and_shift(spark):
    """PSI semantics pinned: identical snapshots give ~0 PSI and no
    alert; a lang-mix flip drives the lang feature past the 0.1 alert
    while each snapshot alone stays internally consistent."""
    from cours_datalake_dwh_td_kafka_spark.operators.drift import (
        PSI_ALERT,
        corpus_drift_psi,
    )

    def corpus(langs):
        return spark.createDataFrame(
            [
                (i, "x" * (40 + (i % 5) * 10), langs[i % len(langs)], "s0")
                for i in range(200)
            ],
            "doc_id bigint, text string, lang string, source string",
        ).withColumn("n_chars", F.length("text").cast("bigint"))

    a = corpus(["en", "en", "en", "fr"])
    same = corpus_drift_psi(a, a).collect()
    assert same, "empty PSI output"
    assert all(not r.drift_alert for r in same)
    assert all(abs(r.feature_psi) < 1e-6 for r in same)

    b = corpus(["fr", "fr", "fr", "en"])  # 75/25 -> 25/75 flip
    shifted = corpus_drift_psi(a, b).collect()
    lang_rows = [r for r in shifted if r.feature == "lang"]
    assert lang_rows and all(r.drift_alert for r in lang_rows)
    assert lang_rows[0].feature_psi > PSI_ALERT
    # length distribution did not move: its feature stays quiet
    len_rows = [r for r in shifted if r.feature == "len_bucket"]
    assert len_rows and all(not r.drift_alert for r in len_rows)


def test_k_anonymity_ladder_levels(spark):
    """Every rung exercised on a hand corpus: a big cell passes at
    level 0, a fragmented lang coarsens to level 1, a lang whose whole
    population only reaches k pooled needs level 2, and a rare lang is
    suppressed (level 3) — achieved sizes reported per decision."""
    from cours_datalake_dwh_td_kafka_spark.operators.curation import (
        k_anonymity_audit,
    )

    rows = []

    def docs(lang, n_chars, count):
        for _ in range(count):
            rows.append((len(rows), "t", lang, "s", n_chars))

    docs("en", 10, 6)       # level 0: one cell of 6 >= 5
    docs("fr", 10, 2)       # fr fragments across level-0 buckets 0..3
    docs("fr", 70, 2)       # ...but their level-1 parent pools to 6
    docs("fr", 130, 2)
    docs("de", 10, 2)       # de: parents still < 5, lang total 5 -> level 2
    docs("de", 300, 3)      # bucket 4 (parent 1)
    docs("zh", 10, 2)       # zh total 2 < 5 -> suppress

    d = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    got = {
        (r.lang, r.len_bucket): (
            r.min_generalization_level,
            r.achieved_group_n,
        )
        for r in k_anonymity_audit(d, k=5).collect()
    }
    assert got[("en", 0)] == (0, 6)
    assert got[("fr", 0)] == (1, 6)
    assert got[("fr", 1)] == (1, 6)
    assert got[("fr", 2)] == (1, 6)
    assert got[("de", 0)] == (2, 5)
    assert got[("de", 4)] == (2, 5)
    assert got[("zh", 0)] == (3, 2)


def test_corpus_drift_ks_shift_direction_and_null(spark):
    """Binned KS semantics pinned: identical snapshots give KS ~0 / no
    alert; a one-bucket rightward length shift — which PSI scores the
    same as ANY rearrangement — drives the ordered CDF gap past the
    critical value; and the statistic equals a hand-computed max CDF
    gap on a tiny fixture. NULL n_chars mass lands in the KS_NULL_BIN
    sentinel bin (ADVICE r12): it reaches the CDFs (both end at exactly
    1.0 WITH null rows present) and an asymmetric null share shows up
    as a real gap."""
    from cours_datalake_dwh_td_kafka_spark.operators.drift import (
        KS_NULL_BIN,
        LEN_BIN_WIDTH,
        corpus_drift_ks,
    )

    def corpus(offset, nulls=0):
        rows = [
            (i, "x", "en", "s0", (i % 4) * LEN_BIN_WIDTH + offset)
            for i in range(400)
        ] + [(1000 + j, "x", "en", "s0", None) for j in range(nulls)]
        return spark.createDataFrame(
            rows,
            "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint",
        )

    a = corpus(0)
    same = corpus_drift_ks(a, a).collect()
    assert same and all(not r.drift_alert for r in same)
    assert all(r.ks_stat == 0.0 for r in same)
    assert all(r.cdf_ref == r.cdf_cur for r in same)

    # shift every doc one bucket right: CDF gap = 1/4 at each interior
    # bucket boundary
    b = corpus(LEN_BIN_WIDTH)
    shifted = corpus_drift_ks(a, b).collect()
    assert shifted and all(r.drift_alert for r in shifted)
    assert abs(shifted[0].ks_stat - 0.25) < 1e-9
    # CDFs end at 1.0 in both snapshots (bin domain is the union)
    assert shifted[-1].cdf_ref == 1.0 and shifted[-1].cdf_cur == 1.0

    # null bin: 100 NULL-length docs in cur only. The sentinel bin row
    # must EXIST, sort last, and carry the null mass into the CDFs —
    # both end at exactly 1.0; at the last REAL bin cur holds only
    # 400/500 of its mass, so the null asymmetry IS the max gap (0.2).
    withnull = corpus_drift_ks(a, corpus(0, nulls=100)).collect()
    assert [r.bin for r in withnull][-1] == KS_NULL_BIN
    nb = withnull[-1]
    assert (nb.ref_cnt, nb.cur_cnt) == (0, 100)
    assert nb.cdf_ref == 1.0 and nb.cdf_cur == 1.0
    real = withnull[-2]
    assert real.cdf_ref == 1.0 and abs(real.cdf_cur - 0.8) < 1e-9
    assert abs(real.d_bin - 0.2) < 1e-9
    assert abs(withnull[0].ks_stat - 0.2) < 1e-9


@pytest.mark.slow
def test_bloom_join_reduction_superset_and_counts(spark):
    """The bloom pre-filter keeps a SUPERSET of matching fact rows
    (never a false negative), reduces the scan when the dim is
    selective, and the filtered join equals the plain join."""
    from cours_datalake_dwh_td_kafka_spark.operators.joins_advanced import (
        bloom_join_reduction,
    )

    fact = spark.createDataFrame(
        [(i, i % 100) for i in range(5000)], "row_id bigint, key bigint"
    )
    dim = spark.createDataFrame(
        [(k,) for k in range(0, 100, 20)], "key bigint"
    )  # 5 of 100 keys
    kept, meas = bloom_join_reduction(fact, dim, "key")
    assert meas["fact_rows_total"] == 5000
    matching = fact.join(dim, "key", "left_semi")
    n_match = matching.count()
    assert n_match == 250
    # superset: every matching row survived the bloom
    assert (
        matching.select("row_id", "key")
        .exceptAll(kept.select("row_id", "key"))
        .count()
        == 0
    )
    assert kept.join(dim, "key", "left_semi").count() == n_match
    assert n_match <= meas["fact_rows_after_bloom"] < 5000
    # join-through equality
    a = sorted(map(tuple, kept.join(dim, "key").collect()))
    b = sorted(map(tuple, fact.join(dim, "key").collect()))
    assert a == b


def test_corpus_drift_ks_adaptive_sees_within_bucket_shift(spark):
    """Equi-depth KS's reason to exist: every value below sits inside
    ONE fixed-width bucket (n_chars < LEN_BIN_WIDTH), so the
    fixed-width monitor reports KS = 0 for a strong within-bucket
    rightward shift; the reference-decile bins resolve it and alert.
    NULL lengths land in the sentinel bin after the real ones."""
    from cours_datalake_dwh_td_kafka_spark.operators.drift import (
        KSA_PS,
        LEN_BIN_WIDTH,
        corpus_drift_ks,
        corpus_drift_ks_adaptive,
    )

    assert LEN_BIN_WIDTH > 40  # the fixture depends on one-bucket widths

    def corpus(offset, nulls=0):
        rows = [
            (i, "x", "en", "s0", (i % 20) + offset) for i in range(1000)
        ] + [(5000 + j, "x", "en", "s0", None) for j in range(nulls)]
        return spark.createDataFrame(
            rows,
            "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint",
        )

    a, b = corpus(0), corpus(10)  # shift by half the value range
    fixed = corpus_drift_ks(a, b).collect()
    assert all(r.ks_stat == 0.0 for r in fixed)  # washed out

    adaptive = corpus_drift_ks_adaptive(a, b).collect()
    assert adaptive[0].ks_stat > 0.4
    assert all(r.drift_alert for r in adaptive)
    assert all(r.sketch_bins_within_rank_err for r in adaptive)
    assert adaptive[-1].cdf_ref == 1.0 and adaptive[-1].cdf_cur == 1.0

    # null mass reaches the sentinel bin and the CDFs still close at 1.0
    withnull = corpus_drift_ks_adaptive(a, corpus(0, nulls=200)).collect()
    assert withnull[-1].bin == len(KSA_PS) + 1
    assert withnull[-1].cdf_ref == 1.0 and withnull[-1].cdf_cur == 1.0
    assert withnull[-1].cur_cnt == 200 and withnull[-1].ref_cnt == 0


# ---------------------------------------------------------------------------
# round-14 optimization pins: unsorted kernel variants and the CC
# broadcast gate are value-identical to the original forms
# ---------------------------------------------------------------------------
def test_unsorted_kernels_match_sorted_as_multisets(spark):
    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators.attest import multiset_eq
    from cours_datalake_dwh_td_kafka_spark.operators.dedup import (
        jaccard_prefix_pairs,
        minhash_signature,
        ngram_jaccard_pairs,
    )
    from tests.conftest import SF_SMOKE

    d = load_table(spark, SF_SMOKE, "documents")
    for fn in (ngram_jaccard_pairs, minhash_signature, jaccard_prefix_pairs):
        assert multiset_eq(fn(d), fn(d, ordered=False)), fn.__name__


def test_connected_components_broadcast_gate_value_identical(spark, monkeypatch):
    """Below/above CC_BC_MAX_NODES must be the same labels — the gate
    only changes join strategy (plans/r14/cc_round_join_*.txt)."""
    from cours_datalake_dwh_td_kafka_spark.operators import dedup

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "src long, dst long",
    )
    nodes = spark.createDataFrame(
        [(n,) for n in (1, 2, 3, 10, 11, 20, 21, 22, 23, 99)], "node long"
    )
    want = {
        (r.node, r.cluster_rep)
        for r in dedup.connected_components(nodes, edges).collect()
    }
    monkeypatch.setattr(dedup, "CC_BC_MAX_NODES", 0)  # force shuffle path
    got = {
        (r.node, r.cluster_rep)
        for r in dedup.connected_components(nodes, edges).collect()
    }
    assert want == got
    assert want == {
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20), (99, 99),
    }


def test_kmeans_broadcast_gate_value_identical(spark, monkeypatch):
    """Below/above KMEANS_BC_MAX_VECS must be the same centroids,
    sizes and costs — the gate only changes whether the M-step reuses
    the pinned quantized explode with a broadcast assignment or
    re-joins the packed source table (decimal sums are exact either
    way, so `craw` is bit-identical by construction; this pins it)."""
    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators import clustering
    from tests.conftest import SF_SMOKE

    e = load_table(spark, SF_SMOKE, "embeddings").limit(300)
    want = [tuple(r) for r in clustering.kmeans_lloyd(e).collect()]
    monkeypatch.setattr(clustering, "KMEANS_BC_MAX_VECS", 0)  # shuffle path
    got = [tuple(r) for r in clustering.kmeans_lloyd(e).collect()]
    assert want == got


def test_split_by_cluster_accepts_precomputed_pairs(spark):
    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators.attest import multiset_eq
    from cours_datalake_dwh_td_kafka_spark.operators.curation import (
        split_by_cluster,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from tests.conftest import SF_SMOKE

    d = load_table(spark, SF_SMOKE, "documents")
    pre = ngram_jaccard_pairs(d, ordered=False).localCheckpoint(eager=False)
    assert multiset_eq(split_by_cluster(d), split_by_cluster(d, pairs=pre))
