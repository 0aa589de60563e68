"""Hypothesis property tests (SURVEY.md §5 item 4): engine operators vs
tiny pure-Python reference implementations on randomized inputs.

Each test keeps ``max_examples`` small — every example runs Spark jobs —
but the generators cover the structural edge cases that fixed fixtures
miss: empty runs, all-active/all-inactive states, single-row entities,
duplicate edges, self-contained components.
"""

from __future__ import annotations

import pytest
import math

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cours_datalake_dwh_td_kafka_spark.operators.dedup import (
    connected_components,
    connected_components_star,
)
from cours_datalake_dwh_td_kafka_spark.operators.relational import haversine_km
from cours_datalake_dwh_td_kafka_spark.operators.scale import salted_agg
from cours_datalake_dwh_td_kafka_spark.operators.sessionization import sessionize

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# ---------------------------------------------------------------------------
# sessionization: session count == number of inactive->active transitions
# ---------------------------------------------------------------------------
@settings(**_SETTINGS)
@given(
    states=st.lists(
        st.lists(st.booleans(), min_size=1, max_size=12),
        min_size=1,
        max_size=4,
    )
)
@pytest.mark.slow
def test_sessionize_counts_state_runs(spark, states):
    rows = []
    for ent, seq in enumerate(states):
        for i, active in enumerate(seq):
            rows.append((ent, float(1_700_000_000 + i * 60), active, 1.0))
    df = spark.createDataFrame(
        rows, "entity BIGINT, ts_raw DOUBLE, active BOOLEAN, value DOUBLE"
    ).select(
        "entity",
        F.to_timestamp(F.col("ts_raw")).alias("ts"),
        "active",
        "value",
    )
    got = sessionize(df, "entity", "ts", F.col("active"), "value").collect()

    expected = {}
    for ent, seq in enumerate(states):
        n_runs = sum(
            1 for i, a in enumerate(seq) if a and (i == 0 or not seq[i - 1])
        )
        expected[ent] = n_runs
    by_entity = {}
    for r in got:
        by_entity[r[0]] = by_entity.get(r[0], 0) + 1
    assert by_entity == {e: n for e, n in expected.items() if n > 0}
    # session ids are 1..n_runs per entity, no gaps
    for ent, n in expected.items():
        ids = sorted(r[1] for r in got if r[0] == ent)
        assert ids == list(range(1, n + 1))


# ---------------------------------------------------------------------------
# haversine: symmetry, zero self-distance, bounded by half circumference
# ---------------------------------------------------------------------------
coord = st.tuples(
    st.floats(min_value=-89.9, max_value=89.9),
    st.floats(min_value=-179.9, max_value=179.9),
)


@settings(**_SETTINGS)
@given(a=coord, b=coord)
def test_haversine_metric_properties(spark, a, b):
    df = spark.createDataFrame(
        [(a[0], a[1], b[0], b[1])], "la1 DOUBLE, lo1 DOUBLE, la2 DOUBLE, lo2 DOUBLE"
    )
    r = df.select(
        haversine_km(F.col("la1"), F.col("lo1"), F.col("la2"), F.col("lo2")).alias("ab"),
        haversine_km(F.col("la2"), F.col("lo2"), F.col("la1"), F.col("lo1")).alias("ba"),
        haversine_km(F.col("la1"), F.col("lo1"), F.col("la1"), F.col("lo1")).alias("aa"),
    ).collect()[0]
    assert math.isclose(r.ab, r.ba, rel_tol=1e-9, abs_tol=1e-9)
    assert abs(r.aa) < 1e-6
    assert 0.0 <= r.ab <= 6371.0 * math.pi + 1e-6


# ---------------------------------------------------------------------------
# salted aggregation == plain aggregation under arbitrary key skew
# ---------------------------------------------------------------------------
@settings(**_SETTINGS)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=1,
        max_size=60,
    )
)
@pytest.mark.slow
def test_salted_agg_matches_plain_on_random_skew(spark, data):
    df = spark.createDataFrame(data, "k BIGINT, v BIGINT")
    plain = {
        r.k: (r.n, r.s, r.mn, r.mx)
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").cast("double").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        r.k: (r.n_rows, r.sum_value, r.min_value, r.max_value)
        for r in salted_agg(df, key="k", value="v", n_salts=4).collect()
    }
    assert plain == salted


# ---------------------------------------------------------------------------
# connected components == pure-python union-find on random edge sets
# ---------------------------------------------------------------------------
@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=14),
            st.integers(min_value=0, max_value=14),
        ),
        max_size=20,
    ),
    isolates=st.sets(st.integers(min_value=15, max_value=19), max_size=3),
)
@pytest.mark.slow
def test_connected_components_matches_union_find(spark, edges, isolates):
    node_ids = sorted(
        {a for a, _ in edges} | {b for _, b in edges} | isolates
    )
    if not node_ids:
        return
    parent = {n: n for n in node_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in node_ids}

    nodes_df = spark.createDataFrame([(n,) for n in node_ids], "node BIGINT")
    edges_df = spark.createDataFrame(
        edges or [(node_ids[0], node_ids[0])], "src BIGINT, dst BIGINT"
    )
    got = {
        r.node: r.cluster_rep
        for r in connected_components(nodes_df, edges_df).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# large-star/small-star == union-find on random edge sets, and converges in
# O(log n) rounds on the adversarial long-chain graph where min-label
# propagation needs diameter rounds
# ---------------------------------------------------------------------------
@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=14),
            st.integers(min_value=0, max_value=14),
        ),
        max_size=20,
    ),
    isolates=st.sets(st.integers(min_value=15, max_value=19), max_size=3),
)
@pytest.mark.slow
def test_star_cc_matches_union_find(spark, edges, isolates):
    node_ids = sorted({a for a, _ in edges} | {b for _, b in edges} | isolates)
    if not node_ids:
        return
    parent = {n: n for n in node_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in node_ids}

    nodes_df = spark.createDataFrame([(n,) for n in node_ids], "node BIGINT")
    edges_df = spark.createDataFrame(
        edges or [(node_ids[0], node_ids[0])], "src BIGINT, dst BIGINT"
    )
    got = {
        r.node: r.cluster_rep
        for r in connected_components_star(nodes_df, edges_df).collect()
    }
    assert got == want


def test_star_cc_long_chain_converges_in_log_rounds(spark):
    """A 64-node path graph has diameter 63 (min-label needs 63 rounds);
    the star algorithm must finish within log2(64)+4 = 10 rounds —
    max_iter=10 would raise-or-miscluster if it didn't converge."""
    n = 64
    nodes_df = spark.createDataFrame([(i,) for i in range(n)], "node BIGINT")
    edges_df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src BIGINT, dst BIGINT"
    )
    got = {
        r.node: r.cluster_rep
        for r in connected_components_star(nodes_df, edges_df, max_iter=10).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_min_label_cc_falls_back_on_long_chain(spark):
    """connected_components with max_iter below the graph diameter must
    still return fully-merged components (via the star fallback), not
    silently under-merged labels."""
    n = 24
    nodes_df = spark.createDataFrame([(i,) for i in range(n)], "node BIGINT")
    edges_df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src BIGINT, dst BIGINT"
    )
    got = {
        r.node: r.cluster_rep
        for r in connected_components(nodes_df, edges_df, max_iter=3).collect()
    }
    assert got == {i: 0 for i in range(n)}


# ---------------------------------------------------------------------------
# ngram jaccard pairs: no false positives vs pure-python ground truth;
# planted rare-shingle near-dups are found
# ---------------------------------------------------------------------------
def _py_shingles(text, n=3):
    toks = " ".join(text.lower().split()).split(" ")
    if len(toks) <= n:
        return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n, 0) + 1)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@settings(**_SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta epsilon zeta".split()),
            min_size=4,
            max_size=10,
        ).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
def test_ngram_pairs_no_false_positives(spark, docs):
    from cours_datalake_dwh_td_kafka_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id BIGINT, text STRING"
    )
    got = ngram_jaccard_pairs(df).collect()
    sh = {i: _py_shingles(t) for i, t in enumerate(docs)}
    for r in got:
        inter = len(sh[r.doc_a] & sh[r.doc_b])
        union = len(sh[r.doc_a] | sh[r.doc_b])
        true_jac = inter / union
        assert r.n_shared == inter
        assert true_jac >= JACCARD_THRESHOLD
        assert abs(r.jaccard - round(true_jac, 6)) < 1e-9


# ---------------------------------------------------------------------------
# semantic dedup vs a pure-python reference on random vectors
# ---------------------------------------------------------------------------
@settings(**_SETTINGS)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-1.0,
                max_value=1.0,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=8,
            max_size=8,
        ),
        min_size=1,
        max_size=24,
    )
)
@pytest.mark.slow
def test_semantic_dedup_matches_python_reference(spark, vecs):
    """semantic_dedup == brute-force python: same sign-bit buckets, same
    greedy smaller-id-wins keep decisions."""
    import math as m

    from cours_datalake_dwh_td_kafka_spark.operators.dedup import (
        SEM_THRESHOLD,
        semantic_dedup,
    )

    # drop zero vectors (cosine undefined — production embeddings are
    # normalized; the operator itself is tested on real data elsewhere)
    vecs = [v for v in vecs if any(x != 0 for x in v)] or [[1.0] * 8]
    bits = 3

    def bucket(v):
        return sum((1 << i) for i in range(bits) if v[i] > 0)

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = m.sqrt(sum(x * x for x in a))
        nb = m.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6)

    expect = {}
    for i, v in enumerate(vecs):
        keep = not any(
            bucket(w) == bucket(v) and cos(w, v) >= SEM_THRESHOLD
            for j, w in enumerate(vecs)
            if j < i
        )
        expect[i] = (bucket(v), keep)

    e = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: (r.bucket, r.keep)
        for r in semantic_dedup(e, bits=bits).collect()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# real codecs: encode -> decode is the identity on arbitrary inputs
# (pure numpy, no Spark jobs -> generous example counts)
# ---------------------------------------------------------------------------
@settings(max_examples=50, deadline=None)
@given(
    samples=st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=200
    ),
    rate=st.sampled_from([8000, 16000, 22050, 44100, 48000]),
    channels=st.integers(min_value=1, max_value=4),
)
def test_wav_roundtrip_property(samples, rate, channels):
    import numpy as np

    from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
        decode_wav_pcm16,
        encode_wav_pcm16,
    )

    # interleaved frames: truncate to whole frames like a real encoder
    n = len(samples) - len(samples) % channels
    if n == 0:
        n, channels = len(samples), 1
    arr = np.asarray(samples[:n], dtype="<i2")
    got_rate, got = decode_wav_pcm16(encode_wav_pcm16(arr, rate, channels))
    assert got_rate == rate
    assert np.array_equal(got.ravel(), arr)
    if channels > 1:
        assert got.shape == (n // channels, channels)


@settings(max_examples=50, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=9),
    w=st.integers(min_value=1, max_value=9),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_bmp_roundtrip_property(h, w, seed):
    import numpy as np

    from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
        decode_bmp24,
        encode_bmp24,
    )

    px = np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3)
    ).astype(np.uint8)
    payload = encode_bmp24(px)
    assert len(payload) == 54 + ((w * 3 + 3) & ~3) * h
    assert np.array_equal(decode_bmp24(payload), px)


# ---------------------------------------------------------------------------
# BPE: distributed trainer == sequential textbook reference on random
# corpora (random small alphabets force heavy merge chains and ties)
# ---------------------------------------------------------------------------
@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.lists(
            st.text(alphabet="ab", min_size=1, max_size=6),
            min_size=1,
            max_size=5,
        ).map(" ".join),
        min_size=1,
        max_size=4,
    )
)
@pytest.mark.slow
def test_bpe_matches_sequential_reference_on_random_corpora(spark, texts):
    from collections import Counter

    from cours_datalake_dwh_td_kafka_spark.operators.bpe import bpe_train

    def reference(txts, merges):
        words = Counter(w for t in txts for w in t.split())
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
            (l, r), c = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            out.append((step, l, r, l + r, c))
            for w in reprs:
                old, new, i = reprs[w], [], 0
                while i < len(old):
                    if i + 1 < len(old) and old[i] == l and old[i + 1] == r:
                        new.append(l + r)
                        i += 2
                    else:
                        new.append(old[i])
                        i += 1
                reprs[w] = new
        return out

    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r.step, r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in bpe_train(d, merges=3).collect()
    ]
    assert got == reference(texts, 3), f"texts={texts}"


# ---------------------------------------------------------------------------
# EWMA: JVM array fold == numpy sequential fold on random series
# ---------------------------------------------------------------------------
@settings(**_SETTINGS)
@given(
    series=st.lists(
        st.lists(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ),
            min_size=1,
            max_size=20,
        ),
        min_size=1,
        max_size=3,
    )
)
@pytest.mark.slow
def test_ewma_fold_matches_sequential_reference(spark, series):
    from cours_datalake_dwh_td_kafka_spark.operators.timeseries import ewma

    rows = []
    for uid, vals in enumerate(series):
        for i, v in enumerate(vals):
            rows.append((uid, float(1_700_000_000 + i * 60), i, v))
    df = spark.createDataFrame(
        rows, "user_id long, ts_raw double, event_id long, value double"
    ).select(
        "user_id",
        F.to_timestamp("ts_raw").alias("ts"),
        "event_id",
        "value",
    )
    got = {r.user_id: (r.n_events, r.ewma_value) for r in ewma(df).collect()}
    for uid, vals in enumerate(series):
        acc = vals[0]
        for v in vals[1:]:
            acc = 0.3 * v + 0.7 * acc
        n, e = got[uid]
        assert n == len(vals)
        assert e == round(acc, 6) or abs(e - round(acc, 6)) < 1e-9, (
            uid,
            vals,
            e,
            acc,
        )


# ---------------------------------------------------------------------------
# span dedup: randomly planted copied spans are recovered with exact
# lengths; random non-overlapping filler never pairs
# ---------------------------------------------------------------------------
@settings(**_SETTINGS)
@given(
    span_len=st.integers(min_value=16, max_value=40),
    offset_a=st.integers(min_value=0, max_value=10),
    offset_b=st.integers(min_value=0, max_value=10),
)
@pytest.mark.slow
def test_span_runs_recovers_random_planted_span(
    spark, span_len, offset_a, offset_b
):
    from cours_datalake_dwh_td_kafka_spark.operators.substring_dedup import (
        span_runs,
    )

    span = " ".join(f"s{i}" for i in range(span_len))
    pre_a = " ".join(f"a{i}" for i in range(offset_a))
    pre_b = " ".join(f"b{i}" for i in range(offset_b))
    docs = [
        (1, f"{pre_a} {span} atail1 atail2".strip()),
        (2, f"{pre_b} {span} btail1 btail2 btail3".strip()),
        (3, " ".join(f"z{i}" for i in range(50))),
    ]
    d = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = {(r.doc_a, r.doc_b): r for r in span_runs(d).collect()}
    assert set(rows) == {(1, 2)}
    assert rows[(1, 2)].max_span_tokens == span_len
    assert rows[(1, 2)].dup_tokens == span_len


@given(
    data=st.binary(min_size=1, max_size=4096),
    fname=st.booleans(),
    fcomment=st.booleans(),
    fextra=st.booleans(),
    fhcrc=st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_gzip_member_decode_handles_all_flag_fields(
    data, fname, fcomment, fextra, fhcrc
):
    """decode_gzip_member must walk every RFC 1952 optional field
    combination (stdlib gzip.compress never emits them, so the UDF path
    alone wouldn't exercise these branches) and verify the trailer."""
    import struct
    import zlib

    from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
        decode_gzip_member,
    )

    flg = (
        (0x04 if fextra else 0)
        | (0x08 if fname else 0)
        | (0x10 if fcomment else 0)
        | (0x02 if fhcrc else 0)
    )
    hdr = bytearray(b"\x1f\x8b\x08" + bytes([flg]) + b"\x00" * 6)
    if fextra:
        extra = b"XYzz"
        hdr += struct.pack("<H", len(extra)) + extra
    if fname:
        hdr += b"name.bin\x00"
    if fcomment:
        hdr += b"a comment\x00"
    if fhcrc:
        hdr += struct.pack("<H", zlib.crc32(bytes(hdr)) & 0xFFFF)
    comp = zlib.compressobj(6, zlib.DEFLATED, -15)
    body = comp.compress(data) + comp.flush()
    trailer = struct.pack(
        "<II", zlib.crc32(data) & 0xFFFFFFFF, len(data) % (1 << 32)
    )
    payload = bytes(hdr) + body + trailer

    raw, crc_ok, isize_ok = decode_gzip_member(payload)
    assert raw == data and crc_ok and isize_ok

    # corrupted trailer: decode still returns bytes but the verdicts flip
    bad = payload[:-8] + struct.pack(
        "<II", (zlib.crc32(data) ^ 1) & 0xFFFFFFFF, (len(data) + 1) % (1 << 32)
    )
    raw2, crc2, isize2 = decode_gzip_member(bad)
    assert raw2 == data and not crc2 and not isize2

    # malformed container fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_gzip_member(b"\x1f\x8c" + payload[2:])


@given(
    hb=st.integers(min_value=1, max_value=4),
    wb=st.integers(min_value=1, max_value=4),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_dct_codec_reconstruction_property(hb, wb, seed):
    """The lossy DCT codec must (a) preserve container dims exactly,
    (b) reconstruct within the Annex-K quantization error envelope on
    arbitrary uint8 content, and (c) reject malformed payloads."""
    import numpy as np

    from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
        decode_dct8,
        encode_dct8,
    )

    rng = np.random.RandomState(seed)
    h, w = hb * 8, wb * 8
    img = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
    payload = encode_dct8(img)
    dec = decode_dct8(payload)
    assert dec.shape == (h, w)
    # error bound: per-coefficient quantization error <= q/2; the IDCT
    # is orthonormal, so pixel RMSE <= RMS(q)/2 (~40 for Annex K) —
    # assert a loose multiple to absorb clipping
    rmse = float(np.sqrt(np.mean((img.astype(float) - dec) ** 2)))
    assert rmse <= 60.0, rmse
    assert len(payload) == 12 + 2 * h * w

    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_dct8(b"JUNK" + payload[4:])
    with _pytest.raises(ValueError):
        encode_dct8(img[: h - 1])  # non-multiple-of-8 dims


@given(
    n_blocks=st.integers(min_value=1, max_value=6),
    density=st.floats(min_value=0.0, max_value=1.0),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_jpeg_entropy_layer_is_lossless_and_stuffed(n_blocks, density, seed):
    """The Huffman entropy layer must round-trip ANY plausible quantized
    coefficient content bit-exactly (it is JPEG's lossless stage), and
    its bitstream must be 0xFF-stuffed. Also pins the canonical-code
    builder against two spec-known Annex K codewords."""
    import numpy as np

    from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
        _AC_BITS,
        _AC_VALS,
        _DC_BITS,
        _DC_VALS,
        _canonical_codes,
        jpeg_entropy_decode,
        jpeg_entropy_encode,
    )

    rng = np.random.RandomState(seed)
    mask = rng.random_sample((n_blocks, 8, 8)) < density
    quant = (
        rng.randint(-1000, 1001, size=(n_blocks, 8, 8)) * mask
    ).astype(np.int16)
    stream = jpeg_entropy_encode(quant)
    assert np.array_equal(
        jpeg_entropy_decode(stream, n_blocks), quant
    )
    for i, byte in enumerate(stream[:-1]):
        if byte == 0xFF:
            assert stream[i + 1] == 0x00

    # spec pins (ITU T.81 Annex K): DC category 0 -> code 00 (len 2);
    # AC EOB (0x00) -> 1010 (len 4); AC ZRL (0xF0) -> len 11.
    dc = _canonical_codes(_DC_BITS, _DC_VALS)
    ac = _canonical_codes(_AC_BITS, _AC_VALS)
    assert dc[0] == (0b00, 2)
    assert ac[0x00] == (0b1010, 4)
    assert ac[0xF0][1] == 11
    assert len(ac) == 162


@given(
    hb=st.integers(min_value=1, max_value=3),
    wb=st.integers(min_value=1, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=20, deadline=None)
def test_jfif_container_roundtrip_and_tamper_detection(hb, wb, seed):
    """encode_jfif must emit a structurally complete baseline JPEG
    (SOI/APP0/DQT/SOF0/2xDHT/SOS/EOI) whose SELF-DESCRIBING decode
    reproduces the quantized coefficients exactly and whose parsed
    dimensions match; corrupting the DQT segment must CHANGE the
    decode (the parser reads the container's tables, not the module
    constants), and truncating the EOI must raise."""
    import numpy as np

    from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
        _quantize_blocks,
        decode_jfif,
        encode_jfif,
    )

    rng = np.random.RandomState(seed)
    # bright image: block means sit far above 128, so every block's
    # quantized DC coefficient is NONZERO and the DQT[0] tamper below
    # must move the reconstruction (a mid-gray image can quantize every
    # DC to 0, making the tamper legitimately invisible)
    img = rng.randint(192, 256, size=(hb * 8, wb * 8)).astype(np.uint8)
    payload = encode_jfif(img)
    assert payload[:4] == b"\xff\xd8\xff\xe0"
    assert payload[-2:] == b"\xff\xd9"
    # marker inventory, in order
    for marker in (b"\xff\xdb", b"\xff\xc0", b"\xff\xc4", b"\xff\xda"):
        assert marker in payload
    dec, quant = decode_jfif(payload)
    assert dec.shape == img.shape
    assert np.array_equal(quant, _quantize_blocks(img))

    # tamper: double the first DQT entry -> dequantization must shift
    dqt_at = payload.index(b"\xff\xdb") + 5  # marker+len+Pq/Tq -> q[0]
    tampered = bytearray(payload)
    tampered[dqt_at] = min(255, tampered[dqt_at] * 2)
    dec2, _ = decode_jfif(bytes(tampered))
    assert not np.array_equal(dec, dec2), "parser ignored container DQT"

    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_jfif(payload[:-2])  # EOI gone


@given(
    hb=st.integers(min_value=1, max_value=3),
    wb=st.integers(min_value=1, max_value=3),
    ri=st.integers(min_value=1, max_value=4),
    table_id=st.integers(min_value=0, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_jfif_decodes_non_self_produced_variants(hb, wb, ri, table_id, seed):
    """The decoder must handle baseline streams its own default encoder
    never emits: DRI + RSTn restart markers (DC predictor resets, byte
    alignment, modular marker sequence) and Huffman tables published
    under a non-zero DHT destination selected via the SOS Td/Ta nibbles
    — both spec-legal layouts a real-world encoder uses. The decoded
    coefficients must equal the restart-free, table-0 decode exactly
    (restarts and table destinations are container framing, not
    content)."""
    import numpy as np

    from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
        _quantize_blocks,
        decode_jfif,
        encode_jfif,
    )

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(hb * 8, wb * 8)).astype(np.uint8)
    variant = encode_jfif(img, restart_interval=ri, table_id=table_id)
    dec, quant = decode_jfif(variant)
    assert np.array_equal(quant, _quantize_blocks(img))
    base_dec, base_quant = decode_jfif(encode_jfif(img))
    assert np.array_equal(quant, base_quant)
    assert np.array_equal(dec, base_dec)
    if ri < hb * wb:  # at least one restart fired: RST0 must be present
        assert b"\xff\xd0" in variant


def test_jfif_rejects_corrupt_streams_gracefully():
    """Deterministic corruption cases must all surface as ValueError —
    never a raw IndexError/KeyError mid-parse: truncated ECS, bad byte
    stuffing, an out-of-sequence restart marker, and a scan removed
    entirely."""
    import numpy as np
    import pytest as _pytest

    from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
        decode_jfif,
        encode_jfif,
    )

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(24, 24)).astype(np.uint8)
    payload = encode_jfif(img, restart_interval=1)
    sos_at = payload.index(b"\xff\xda")
    scan_start = sos_at + 2 + 8  # marker + seglen(8)-byte SOS header

    # truncated ECS: keep the container but almost none of the scan
    truncated = payload[: scan_start + 1] + b"\xff\xd9"
    with _pytest.raises(ValueError):
        decode_jfif(truncated)

    # bad stuffing: force an 0xFF not followed by 0x00/RSTn up front
    bad = bytearray(payload)
    bad[scan_start : scan_start + 2] = b"\xff\x37"
    with _pytest.raises(ValueError):
        decode_jfif(bytes(bad))

    # out-of-sequence restart: RST0 must come first; remap it to RST5
    rst0_at = payload.index(b"\xff\xd0", scan_start)
    oos = bytearray(payload)
    oos[rst0_at + 1] = 0xD5
    with _pytest.raises(ValueError, match="restart"):
        decode_jfif(bytes(oos))

    # scan removed entirely (SOS header present, zero entropy bytes)
    gutted = payload[:scan_start] + b"\xff\xd9"
    with _pytest.raises(ValueError):
        decode_jfif(gutted)


@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_flips=st.integers(min_value=1, max_value=8),
)
@settings(max_examples=40, deadline=None)
def test_jfif_scan_bitflip_fuzz_never_crashes(seed, n_flips):
    """Random bit flips inside the entropy-coded segment must either
    decode to SOME well-formed image (baseline JPEG carries no scan
    checksum — silent coefficient damage is spec-permitted) or raise
    ValueError. Any other exception is a parser crash on hostile
    input."""
    import numpy as np

    from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
        decode_jfif,
        encode_jfif,
    )

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(16, 16)).astype(np.uint8)
    payload = bytearray(encode_jfif(img, restart_interval=rng.randint(0, 3)))
    scan_start = bytes(payload).index(b"\xff\xda") + 10
    scan_end = len(payload) - 2
    if scan_end <= scan_start:
        return
    for _ in range(n_flips):
        at = rng.randint(scan_start, scan_end)
        payload[at] ^= 1 << rng.randint(0, 8)
    try:
        dec, quant = decode_jfif(bytes(payload))
    except ValueError:
        return
    assert dec.shape == img.shape
    assert quant.shape == ((16 // 8) * (16 // 8), 8, 8)


@given(
    n_frames=st.integers(min_value=1, max_value=6),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=20, deadline=None)
def test_bmff_mux_demux_roundtrip_and_validation(n_frames, seed):
    """The ISO-BMFF mux/demux pair: every sample round-trips byte-exact
    through the parsed stsz/stco tables; a corrupted chunk offset, a
    sample-count mismatch, and a missing stbl child all raise instead
    of returning wrong frames."""
    import struct

    import numpy as np

    from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
        demux_bmff,
        mux_bmff,
    )

    rng = np.random.RandomState(seed)
    frames = [
        rng.bytes(int(rng.randint(5, 60))) for _ in range(n_frames)
    ]
    payload = mux_bmff(frames)
    assert payload[4:8] == b"ftyp"
    assert demux_bmff(payload) == frames

    import pytest as _pytest

    # corrupt the first stco offset -> sample lands outside mdat
    at = payload.rindex(b"stco") + 4 + 4 + 4  # type+fullbox+count
    bad = bytearray(payload)
    bad[at : at + 4] = struct.pack(">I", len(payload) + 50)
    with _pytest.raises(ValueError):
        demux_bmff(bytes(bad))

    # shrink the stco entry count -> stsz/stco disagreement
    bad2 = bytearray(payload)
    bad2[at - 4 : at] = struct.pack(">I", n_frames + 1)
    with _pytest.raises(ValueError):
        demux_bmff(bytes(bad2))

    # truncating moov's tail breaks the box walk
    with _pytest.raises(ValueError):
        demux_bmff(payload[:-1])


@given(seed=st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=15, deadline=None)
def test_bmff_and_header_walk_demux_agree(seed):
    """The two video-container paths — ISO-BMFF sample-table demux and
    the concatenated-BMP header walk — must recover the IDENTICAL frame
    byte sequence from the same frames (two independent mechanisms, one
    truth)."""
    import struct

    import numpy as np

    from cours_datalake_dwh_td_kafka_spark.operators.multimodal import (
        encode_bmp24,
        demux_bmff,
        mux_bmff,
    )

    rng = np.random.RandomState(seed)
    frames = [
        encode_bmp24(rng.randint(0, 256, size=(4, 4, 3)).astype(np.uint8))
        for _ in range(int(rng.randint(1, 8)))
    ]
    # header walk over the concatenated payload (sample_frames's walk)
    payload = b"".join(frames)
    walked, pos = [], 0
    while pos + 54 <= len(payload):
        assert payload[pos : pos + 2] == b"BM"
        (size,) = struct.unpack("<I", payload[pos + 2 : pos + 6])
        walked.append(payload[pos : pos + size])
        pos += size
    assert walked == demux_bmff(mux_bmff(frames)) == frames


@given(
    codec=st.sampled_from(
        ["wav", "bmp", "png", "dct8", "jfif", "bmff", "gzip"]
    ),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    truncate=st.booleans(),
)
# a bit flip that decodes a DCT coefficient past int16
@example(codec="jfif", seed=8086, truncate=False)
@settings(max_examples=120, deadline=None)
def test_all_decoders_reject_corruption_gracefully(codec, seed, truncate):
    """EVERY decoder of untrusted bytes must, on a truncated or
    bit-flipped stream, either decode to SOMETHING (silent corruption
    is spec-permitted where the format carries no checksum) or raise
    ValueError — never struct.error / zlib.error / IndexError /
    KeyError, which are parser crashes on hostile input (the
    _reject_corrupt boundary, multimodal.py)."""
    import gzip as _gzip

    import numpy as np

    from cours_datalake_dwh_td_kafka_spark.operators import multimodal as mm

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(16, 16)).astype(np.uint8)
    rgb = rng.randint(0, 256, size=(8, 7, 3)).astype(np.uint8)
    samples = ((rng.randint(0, 256, 64) - 128) * 256).astype("<i2")
    payload, dec = {
        "wav": lambda: (mm.encode_wav_pcm16(samples, 8000), mm.decode_wav_pcm16),
        "bmp": lambda: (mm.encode_bmp24(rgb), mm.decode_bmp24),
        "png": lambda: (mm.encode_png_rgb8(rgb), mm.decode_png_rgb8),
        "dct8": lambda: (mm.encode_dct8(img), mm.decode_dct8),
        "jfif": lambda: (
            mm.encode_jfif(img, restart_interval=int(rng.randint(0, 3))),
            mm.decode_jfif,
        ),
        "bmff": lambda: (
            mm.mux_bmff([b"frameone", b"frametwo2"]),
            mm.demux_bmff,
        ),
        "gzip": lambda: (
            _gzip.compress(b"hello world" * 20),
            mm.decode_gzip_member,
        ),
    }[codec]()

    p = bytearray(payload)
    if truncate:
        p = p[: rng.randint(1, len(p))]
    else:
        for _ in range(rng.randint(1, 5)):
            p[rng.randint(0, len(p))] ^= 1 << rng.randint(0, 8)
    try:
        dec(bytes(p))
    except ValueError:
        pass  # graceful rejection IS the contract


@settings(**_SETTINGS)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=40,
    )
)
@pytest.mark.slow
def test_pareto_recipe_matches_bruteforce_dominance(spark, pts):
    """The sort + exclusive-prefix-min skyline recipe (the
    pareto_frontier plan) must equal the O(n^2) dominance definition —
    non-dominated distinct points under (x1<=x2, y1<=y2, strict in
    one) — on arbitrary point sets including duplicates, equal-x ties,
    and equal-y ties across x."""
    from cours_datalake_dwh_td_kafka_spark.operators.scale import (
        prefix_min,
    )

    distinct = sorted(set(pts))
    want = {
        (x, y)
        for x, y in distinct
        if not any(
            (a <= x and b <= y and (a < x or b < y)) for a, b in distinct
        )
    }

    df = spark.createDataFrame(pts, "x BIGINT, y BIGINT")
    per_x = df.groupBy("x").agg(F.min("y").alias("y"))
    ranked = prefix_min(per_x, "x", {"prev_min": "y"}, n_buckets=4)
    got = {
        (r.x, r.y)
        for r in ranked.where(
            F.col("prev_min").isNull() | (F.col("y") < F.col("prev_min"))
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# generic Hamming banding == brute force for ANY width/threshold combo
# ---------------------------------------------------------------------------
@settings(**_SETTINGS)
@given(
    data=st.data(),
    n_bits=st.integers(min_value=8, max_value=60),
    hamming_max=st.integers(min_value=0, max_value=6),
)
@pytest.mark.slow
def test_hamming_banding_equals_bruteforce_any_width(
    spark, data, n_bits, hamming_max
):
    """The two-level variable-width pigeonhole banding is provably
    complete for EVERY (bit width, threshold): randomized hash sets plus
    a crafted at-the-boundary pair must reproduce the all-pairs theta
    join exactly."""
    from cours_datalake_dwh_td_kafka_spark.operators.image_dedup import (
        hamming_banded_pairs,
    )

    vals = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=(1 << n_bits) - 1),
            min_size=2,
            max_size=14,
        )
    )
    # plant one pair at exactly the threshold: flip hamming_max
    # scattered bits of the first value
    flip_bits = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=n_bits - 1),
            min_size=hamming_max,
            max_size=hamming_max,
            unique=True,
        )
    )
    v = vals[0]
    for bb in flip_bits:
        v ^= 1 << bb
    vals.append(v)
    rows = [(i, x) for i, x in enumerate(vals)]
    df = spark.createDataFrame(rows, "img_id BIGINT, phash BIGINT")
    got = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_banded_pairs(
            df, "img_id", "phash", n_bits, hamming_max
        ).collect()
    )
    want = sorted(
        (i, j, bin(vals[i] ^ vals[j]).count("1"))
        for i in range(len(vals))
        for j in range(i + 1, len(vals))
        if bin(vals[i] ^ vals[j]).count("1") <= hamming_max
    )
    assert got == want
    assert any(
        a == 0 and b == len(vals) - 1 for a, b, _ in got
    )  # the planted boundary pair survives


# ---------------------------------------------------------------------------
# exact-dedup fingerprint persistence (r11): the persisted-fps path is
# VALUE-IDENTICAL to the self-contained corpus path on random corpora —
# including whitespace-normalization collisions and cross-set dups
# ---------------------------------------------------------------------------
_word = st.text(alphabet="ab \t", min_size=0, max_size=8)


@settings(**_SETTINGS)
@given(
    corpus_texts=st.lists(_word, min_size=0, max_size=6),
    inc_texts=st.lists(_word, min_size=1, max_size=6),
)
@pytest.mark.slow
def test_incremental_new_docs_fps_path_matches_corpus_path(
    spark, corpus_texts, inc_texts
):
    from cours_datalake_dwh_td_kafka_spark.operators.dedup import (
        fingerprint_rows,
        incremental_new_docs,
    )

    schema = (
        "doc_id BIGINT, source STRING, lang STRING, n_chars INT, "
        "text STRING"
    )
    corpus = spark.createDataFrame(
        [(i, "s", "en", len(t), t) for i, t in enumerate(corpus_texts)],
        schema,
    )
    inc = spark.createDataFrame(
        [
            (100 + i, "s", "en", len(t), t)
            for i, t in enumerate(inc_texts)
        ],
        schema,
    )
    via_fps = incremental_new_docs(
        None, inc, corpus_fps=fingerprint_rows(corpus)
    ).collect()
    direct = incremental_new_docs(corpus, inc).collect()
    assert [r.asDict() for r in via_fps] == [r.asDict() for r in direct]


# ---------------------------------------------------------------------------
# mergeable quantile sketch (round 13): pure-Python core, so these run
# at full hypothesis budget — no Spark jobs per example
# ---------------------------------------------------------------------------
@settings(max_examples=60, deadline=None)
@given(
    data=st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=1,
        max_size=3000,
    ),
    n_parts=st.integers(min_value=1, max_value=7),
    p=st.floats(min_value=0.001, max_value=0.999),
)
def test_sketch_rank_error_bound_property(data, n_parts, p):
    """For ANY data, partitioning, and probe point: the merged sketch's
    estimate has a true rank within the self-reported err of the
    target, and total weight is conserved exactly."""
    from cours_datalake_dwh_td_kafka_spark.operators.quantile_sketch import (
        sketch_merge,
        sketch_new,
        sketch_points,
        sketch_quantile,
        sketch_update,
    )

    pts, n, err = [], 0, 0
    for i in range(n_parts):
        part = data[i::n_parts]
        if not part:
            continue
        stt = sketch_new()
        sketch_update(stt, part)
        pts, n, err = sketch_merge(
            pts, n, err, sketch_points(stt), stt["n"], stt["err"]
        )
    assert n == len(data)
    assert sum(w for _, w in pts) == n
    v = sketch_quantile(pts, n, p)
    s = sorted(data)
    lo = 1 + sum(1 for x in s if x < v)
    hi = max(lo, sum(1 for x in s if x <= v))
    target = max(1, math.ceil(p * n))
    assert lo - err <= target <= hi + err, (p, v, lo, hi, err, target)
