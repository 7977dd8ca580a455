"""Tests for the LLM-pipeline operators (dedup, similarity, text, multimodal)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import TESTDATA
from kafka_to_nexus_spark.llm import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat", "en"),  # near dup
        (3, "completely different content about spark engines", "en"),
        (4, "el rapido zorro marron salta sobre el perro", "es"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"]).cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(str(TESTDATA / "sf0.001" / "embeddings.parquet")).cache()


def test_exact_dedup(spark, docs):
    out = dedup.exact_dedup(docs).collect()
    dups = [r for r in out if r.n_copies > 1]
    assert len(dups) == 1 and dups[0].keep_id == 0 and dups[0].n_copies == 2
    assert len(out) == 4  # 5 docs, one pair collapsed


def test_minhash_identical_signatures(spark, docs):
    sig = dedup.minhash_signatures(docs).collect()
    by_id = {r.doc_id: (r.m0, r.m1, r.m2, r.m3) for r in sig}
    assert by_id[0] == by_id[1]  # identical docs → identical signature
    assert by_id[0] != by_id[3]


def test_lsh_candidates_and_jaccard(spark, docs):
    sig = dedup.minhash_signatures(docs)
    pairs = dedup.lsh_candidate_pairs(sig)
    cand = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in cand  # exact dups always collide
    verified = dedup.ngram_jaccard(docs, pairs).collect()
    jac = {(r.id_a, r.id_b): r.jaccard for r in verified}
    assert jac[(0, 1)] == 1.0
    # the fixture is deterministic: docs 0 and 2 differ by one word, so
    # their minhash signatures MUST collide — assert it, or a jaccard
    # regression on near-dups hides behind the candidate check
    assert (0, 2) in jac
    assert 0.5 < jac[(0, 2)] < 1.0


def test_simhash_near_dups(spark, docs):
    sig = dedup.simhash(docs)
    rows = {r.doc_id: r.simhash for r in sig.collect()}
    assert rows[0] == rows[1]  # identical text → identical fingerprint
    near = dedup.simhash_near_dups(sig, max_distance=16)
    got = {(r.id_a, r.id_b): r.distance for r in near.collect()}
    assert got.get((0, 1)) == 0


def test_brute_force_topk_self_is_best(spark, embeddings):
    qrow = embeddings.filter(F.col("vec_id") == 5).select("embedding").collect()[0]
    top = similarity.brute_force_topk(embeddings, list(qrow.embedding), k=5).collect()
    assert top[0].vec_id == 5 and abs(top[0].cosine - 1.0) < 1e-9
    assert all(top[i].cosine >= top[i + 1].cosine for i in range(len(top) - 1))


def test_pandas_topk_matches_jvm(spark, embeddings):
    qrow = embeddings.filter(F.col("vec_id") == 5).select("embedding").collect()[0]
    jvm = similarity.brute_force_topk(embeddings, list(qrow.embedding), k=10).collect()
    pdu = similarity.pandas_cosine_topk(embeddings, list(qrow.embedding), k=10).collect()
    assert [r.vec_id for r in jvm] == [r.vec_id for r in pdu]
    for a, b in zip(jvm, pdu):
        assert abs(a.cosine - b.cosine) < 1e-9


def test_ivf_topk_agrees_with_brute_force_on_probed_buckets(spark, embeddings):
    centroids = embeddings.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("ce")
    )
    qrow = embeddings.filter(F.col("vec_id") == 5).select("embedding").collect()[0]
    q = list(qrow.embedding)
    ivf = similarity.ivf_topk(embeddings, centroids, q, k=5, n_probe=8)  # probe all
    brute = similarity.brute_force_topk(embeddings, q, k=5)
    assert [r.vec_id for r in ivf.collect()] == [r.vec_id for r in brute.collect()]


def test_nearest_centroid_degenerate_vectors_get_lowest_id(spark):
    """Degenerate input parity with the struct-max form this expression
    replaced: a NULL embedding, an embedding containing a NULL ELEMENT,
    and a length-mismatched embedding (all-null dots in every case) must
    each assign to the LOWEST centroid id, not a NULL centroid_id (which
    would silently bypass within-cluster pruning — a null key never
    matches the left anti-join) and not an arbitrary id (guarding only
    vec.isNull() let a null array_position index reach element_at, whose
    Spark 4.1 codegen returns the LAST element — the highest centroid)."""
    cents = [(3, [1.0, 0.0]), (7, [0.0, 1.0])]
    df = spark.createDataFrame(
        [(1, [0.0, 2.0]), (2, None), (3, [0.5, None]), (4, [2.0])],
        "id long, embedding array<double>",
    )
    got = {
        r.id: r.cid
        for r in df.select(
            "id",
            similarity.nearest_centroid_expr(
                F.col("embedding"), cents
            ).alias("cid"),
        ).collect()
    }
    assert got == {1: 7, 2: 3, 3: 3, 4: 3}


def test_quality_score(spark, docs):
    out = {r.doc_id: r for r in text.quality_score(docs).collect()}
    assert out[0].n_tokens == 9
    assert out[0].stopword_ratio > 0  # 'the' twice
    assert 0.0 <= out[0].quality <= 1.0


def test_lang_id(spark, docs):
    out = {r.doc_id: r.predicted_lang for r in text.lang_id(docs).collect()}
    assert out[0] == "en"
    assert out[4] == "es"


def test_fingerprint_stable_under_punct(spark):
    rows = [(0, "Hello, World!"), (1, "hello world")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {r.doc_id: r.fingerprint for r in text.fingerprint(df).collect()}
    assert fps[0] == fps[1]


def test_rolling_hash_fingerprints(spark, docs):
    out = {r.doc_id: r.fingerprints for r in text.rolling_hash_fingerprints(docs).collect()}
    assert out[0] == out[1]  # identical docs → identical sparse fingerprints


def test_multimodal_features_and_specs(spark):
    rows = [
        (0, "image", "image/png", 640, 480, 0, bytearray(b"\x00\x01\x02\x03" * 10)),
        (1, "video", "video/mp4", 1920, 1080, 3500, bytearray(b"\xff" * 20)),
        (2, "image", "image/png", 100, 50, 0, None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = {r.media_id: r for r in multimodal.extract_features(df).collect()}
    assert feats[0].n_bytes == 40 and len(feats[0].feature) == 8
    assert abs(sum(feats[0].feature) - 1.0) < 1e-3
    assert feats[2].n_bytes == 0 and feats[2].feature == [0.0] * 8
    frames = multimodal.frame_sample_plan(df, every_ms=1000).collect()
    assert [r.frame_ts_ms for r in frames] == [0, 1000, 2000, 3000]
    resize = {r.media_id: r for r in multimodal.resize_spec(df, max_side=224).collect()}
    assert resize[0].target_width == 224 and resize[0].target_height == 168
    assert resize[2].target_width == 100  # already under max: unchanged


def _png(w, h):
    return (b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
            + w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + b"\x08\x06\x00\x00\x00")


def _jpeg(w, h, extra_segments=1):
    out = b"\xff\xd8"
    # variable-length segments before the SOF (APP0, comments...)
    for i in range(extra_segments):
        seg = b"JFIF\x00" + bytes(9 + i)
        out += b"\xff\xe0" + (len(seg) + 2).to_bytes(2, "big") + seg
    sof = (b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big")
           + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01")
    return out + b"\xff\xc2" + (len(sof) + 2).to_bytes(2, "big") + sof


def test_parse_image_dims_formats_and_garbage():
    """Real container parsing: PNG IHDR u32s, the JPEG marker walk over
    variable-length segments to any SOF marker (here progressive SOF2),
    and graceful None on garbage, truncation, zero dims, and a marker
    stream that never reaches a SOF."""
    p = multimodal.parse_image_dims
    assert p(_png(640, 480)) == ("png", 640, 480)
    assert p(_png(1, 70000)) == ("png", 1, 70000)  # u32, not u16
    assert p(_jpeg(1920, 1080)) == ("jpeg", 1920, 1080)
    assert p(_jpeg(16, 16, extra_segments=3)) == ("jpeg", 16, 16)
    assert p(None) is None and p(b"") is None
    assert p(b"not an image") is None
    assert p(_png(640, 480)[:20]) is None          # truncated IHDR
    assert p(_png(0, 480)) is None                 # zero dim
    assert p(_jpeg(16, 16)[:6]) is None            # truncated pre-SOF
    assert p(b"\xff\xd8\xff\xfe\x00\x04\x00\x00") is None  # no SOF
    assert p(b"\xff\xd8\x00\x00") is None          # broken marker stream
    bad_ihdr = _png(9, 9)[:12] + b"XXXX" + _png(9, 9)[16:]
    assert p(bad_ihdr) is None                     # first chunk not IHDR


def test_parse_jpeg_fill_bytes_and_scan_bail():
    """ITU T.81 B.1.1.2 allows any number of 0xFF fill bytes before a
    marker — a conformant encoder emitting padding must parse (ADVICE r7);
    and SOS/EOI before any SOF means dimensions can't follow, so bail
    rather than walk entropy-coded data where an FF Cx byte pair would
    masquerade as a SOF."""
    p = multimodal.parse_image_dims
    base = _jpeg(320, 240)
    padded = base.replace(b"\xff\xe0", b"\xff\xff\xff\xe0").replace(
        b"\xff\xc2", b"\xff\xff\xff\xff\xc2"
    )
    assert p(padded) == ("jpeg", 320, 240)
    assert p(b"\xff\xd8" + b"\xff" * 8) is None  # fill bytes, no marker
    # SOS before SOF: the FF C0 pair inside the scan data must NOT be
    # misread as a SOF carrying dimensions
    sos = b"\xff\xd8\xff\xda\x00\x04\x00\x00" + b"\xff\xc0\x00\x09\x08" \
          + (9).to_bytes(2, "big") + (9).to_bytes(2, "big") + b"\x01"
    assert p(sos) is None
    assert p(b"\xff\xd8\xff\xd9") is None  # EOI with no SOF


def test_parse_wav_rejects_undersized_fmt_chunk():
    """A fmt chunk declaring size<16 cannot hold the PCM fields; reading
    fixed offsets would silently consume the NEXT chunk's bytes as
    channels/rate/bits (ADVICE r7) — contract is None, not garbage."""
    w = _wav()
    i = w.index(b"fmt ")
    bad = w[: i + 4] + (8).to_bytes(4, "little") + w[i + 8 :]
    assert multimodal.parse_wav_meta(bad) is None


def test_wav_parse_against_stdlib_wave_fixture():
    """Bytes the test did NOT hand-construct: stdlib ``wave`` writes a
    genuine RIFF/WAVE file, so the builder and parser can't share one
    spec misreading (VERDICT r7 #3)."""
    import io
    import wave as wave_mod

    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as f:
        f.setnchannels(2)
        f.setsampwidth(2)
        f.setframerate(22050)
        f.writeframes(b"\x00\x01\x02\x03" * 22050)  # exactly 1 s
    assert multimodal.parse_wav_meta(buf.getvalue()) == (2, 22050, 16, 1000)


def test_png_parse_against_independently_built_fixture():
    """A spec-complete PNG (real CRCs, real zlib IDAT, IEND) built from
    the PNG spec independently of the minimal `_png` helper."""
    import struct
    import zlib

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    w, h = 31, 17
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit gray
    raw = b"".join(b"\x00" + bytes(w) for _ in range(h))
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert multimodal.parse_image_dims(png) == ("png", 31, 17)


def test_image_dims_mapinpandas(spark):
    """The Arrow-batched leg: nullable Int32 dims, null fmt on garbage."""
    rows = [
        (0, "image", "image/png", 0, 0, 0, bytearray(_png(320, 200))),
        (1, "image", "image/jpeg", 0, 0, 0, bytearray(_jpeg(64, 32))),
        (2, "image", "image/png", 0, 0, 0, bytearray(b"junk")),
        (3, "image", "image/png", 0, 0, 0, None),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r.media_id: (r.fmt, r.width, r.height)
           for r in multimodal.image_dims(df).collect()}
    assert got == {
        0: ("png", 320, 200),
        1: ("jpeg", 64, 32),
        2: (None, None, None),
        3: (None, None, None),
    }


def test_png_pixel_decoder_scope_rejections():
    """Out-of-scope PNGs degrade to None, never to wrong pixels: 16-bit
    depth, interlaced, unknown color type, palette index past PLTE,
    missing PLTE for type 3, scanline length mismatch, unknown filter
    type, and a header claiming more pixels than max_pixels."""
    import struct
    import zlib

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data)))

    def png(w=2, h=2, depth=8, ct=0, interlace=0, raw=None, plte=None):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ct, 0, 0, interlace)
        if raw is None:
            ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ct, 1)
            raw = b"".join(b"\x00" + bytes(w * ch) for _ in range(h))
        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if plte is not None:
            out += chunk(b"PLTE", plte)
        return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")

    p = multimodal.parse_png_pixels
    assert p(png()) is not None  # the baseline is in scope
    assert p(png(depth=16)) is None
    assert p(png(interlace=1)) is None
    assert p(png(ct=5)) is None
    assert p(png(ct=3)) is None  # palette image without PLTE
    assert p(png(w=2, h=1, ct=3, raw=b"\x00\x02\x02", plte=bytes(6))) is None  # idx 2 > 2-entry PLTE
    assert p(png(w=2, h=1, ct=3, raw=b"\x00\x01\x00",
                 plte=bytes((1, 2, 3, 4, 5, 6)))) == (
        2, 1, [[(4, 5, 6), (1, 2, 3)]])
    assert p(png(raw=b"\x00\x00")) is None  # scanline length mismatch
    assert p(png(raw=b"\x07\x00\x00\x07\x00\x00")) is None  # filter type 7
    assert p(png(w=1 << 16, h=1 << 16)) is None  # max_pixels guard
    big = multimodal.encode_png([[0, 1], [2, 3]], color_type=0)
    assert multimodal.parse_png_pixels(big, max_pixels=3) is None


def test_image_phash_near_identical_images(spark):
    """Constructed near-identicals: a base image, a copy with one pixel
    nudged, a brightness-shifted copy, and an unrelated image. dHash puts
    the nudged copy within 2 bits and the brightness shift at 0 bits
    (mean-free gradients), while the unrelated image stays far; the
    banded join returns exactly the near pairs, matching a brute-force
    bit_count sweep."""
    import random

    rng = random.Random(7)
    base = [[tuple(rng.randrange(256) for _ in range(3)) for _ in range(16)]
            for _ in range(16)]
    nudged = [row[:] for row in base]
    r, g, b = nudged[5][9]
    nudged[5][9] = ((r + 1) % 256, g, b)
    brighter = [[(min(r + 4, 255), min(g + 4, 255), min(b + 4, 255))
                 for (r, g, b) in row] for row in base]
    unrelated = [[tuple(rng.randrange(256) for _ in range(3))
                  for _ in range(16)] for _ in range(16)]
    imgs = {0: base, 1: nudged, 2: brighter, 3: unrelated}
    df = spark.createDataFrame(
        [(k, bytearray(multimodal.encode_png(v))) for k, v in imgs.items()],
        "media_id long, payload binary",
    )
    hashes = multimodal.image_phash(df)
    rows = {r.media_id: r for r in hashes.collect()}
    assert all(rows[k].width == 16 for k in imgs)

    def ham(a, b):
        return bin((rows[a].dhash64 ^ rows[b].dhash64) & (2**64 - 1)).count("1")

    assert ham(0, 1) <= 2
    # brightness shift below the downsample quantum: gradient-identical
    assert ham(0, 2) <= 2
    assert ham(0, 3) > 10
    got = {(r.id_a, r.id_b): r.hamming
           for r in multimodal.phash_near_dup(hashes).collect()}
    brute = {(a, b): ham(a, b) for a in imgs for b in imgs
             if a < b and ham(a, b) <= 3}
    assert got == brute
    assert (0, 3) not in got

    # null hashes (undecodable payload) are excluded, not joined
    with_null = df.union(spark.createDataFrame(
        [(9, bytearray(b"not a png"))], "media_id long, payload binary"))
    got2 = {(r.id_a, r.id_b)
            for r in multimodal.phash_near_dup(
                multimodal.image_phash(with_null)).collect()}
    assert got2 == set(got)


def test_phash_near_dup_guards():
    """Banded exactness holds only for max_hamming < bands; both
    misconfigurations fail loudly."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_hamming < bands"):
        multimodal.phash_near_dup(None, max_hamming=4, bands=4)
    with _pytest.raises(ValueError, match="divide 64"):
        multimodal.phash_near_dup(None, bands=5, max_hamming=3)


def test_phash_flood_bucket_cap(spark):
    """VERDICT r11 #2: flat/monochrome images (logos, placeholders,
    tracking pixels — ubiquitous in real crawls) ALL hash to dhash64=0,
    so without an occupancy cap one (band_idx, 0) bucket goes quadratic
    at corpus scale. 1000 monochrome PNGs through the REAL decode path:
    the capped default emits exactly C(max_bucket, 2) pairs over the
    deterministic first ids, the uncapped twin the full half-million."""
    imgs = [
        (i, bytearray(multimodal.encode_png(
            [[(i % 7) * 30] * 8 for _ in range(8)], color_type=0)))
        for i in range(1000)
    ]
    df = spark.createDataFrame(imgs, "media_id long, payload binary")
    hashes = multimodal.image_phash(df).persist()
    assert hashes.filter("dhash64 = 0").count() == 1000
    capped = multimodal.phash_near_dup(hashes).collect()  # max_bucket=64
    assert len(capped) == 64 * 63 // 2
    assert all(
        r.id_a < 64 and r.id_b < 64 and r.hamming == 0 for r in capped
    )
    uncapped = multimodal.phash_near_dup(hashes, max_bucket=None)
    assert uncapped.count() == 1000 * 999 // 2
    hashes.unpersist()


# --- JPEG baseline codec (r12: the last pixel stub, closed) -----------------


def _jpeg_gray_block_from_coefs(zz, quant):
    """Hand-built single-block grayscale JPEG from QUANTIZED zigzag
    coefficients — coefficient-level decoder tests independent of the
    encoder's FDCT (only the writer plumbing and canonical tables are
    shared)."""
    import struct

    from kafka_to_nexus_spark.llm.multimodal import (
        _JPEG_ENC_AC_BITS, _JPEG_ENC_AC_CODE, _JPEG_ENC_AC_VALS,
        _JPEG_ENC_DC_BITS, _JPEG_ENC_DC_VALS, _JpegBitWriter, _jpeg_mag,
    )

    out = bytearray(b"\xff\xd8")

    def seg(m, b):
        out.extend(struct.pack(">BBH", 0xFF, m, len(b) + 2))
        out.extend(b)

    seg(0xDB, bytes([0]) + bytes(quant))
    seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    seg(0xC4, bytes([0x00]) + bytes(_JPEG_ENC_DC_BITS) + _JPEG_ENC_DC_VALS)
    seg(0xC4, bytes([0x10]) + bytes(_JPEG_ENC_AC_BITS) + _JPEG_ENC_AC_VALS)
    seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    w = _JpegBitWriter()
    s = _jpeg_mag(zz[0])
    w.put(s, 4)
    if s:
        w.put(zz[0] if zz[0] > 0 else zz[0] + (1 << s) - 1, s)
    run = 0
    for k in range(1, 64):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            w.put(_JPEG_ENC_AC_CODE[0xF0], 8)
            run -= 16
        s = _jpeg_mag(v)
        w.put(_JPEG_ENC_AC_CODE[(run << 4) | s], 8)
        w.put(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        w.put(_JPEG_ENC_AC_CODE[0x00], 8)
    w.flush()
    out.extend(w.out)
    out.extend(b"\xff\xd9")
    return bytes(out)


def test_jpeg_flat_blocks_roundtrip_exact():
    """The DC-exact contract JPEG_QUANT_EXACT_DC exists for: a flat 8x8
    block's FDCT is DC-only and Q[0]=8 cancels the scaling exactly, so
    flat-block images round-trip bit-exactly — the property the registry
    fixture's arithmetic oracle stands on."""
    lv = [[10, 200], [130, 77]]
    rows = [[lv[y // 8][x // 8] for x in range(16)] for y in range(16)]
    got = multimodal.parse_jpeg_pixels(multimodal.encode_jpeg(rows))
    assert got is not None
    w, h, px = got
    assert (w, h) == (16, 16)
    assert all(
        px[y][x] == (lv[y // 8][x // 8],) * 3
        for y in range(16) for x in range(16)
    )


def test_jpeg_roundtrip_error_bound():
    """Textured content at quant=1: gray within ±1 (FDCT/IDCT float
    round-trip plus one rounding), color within ±3 (adds the BT.601
    forward/inverse pair); non-multiple-of-8 dims exercise the edge
    padding."""
    import random

    rng = random.Random(3)
    rows = [[rng.randrange(256) for _ in range(24)] for _ in range(17)]
    w, h, px = multimodal.parse_jpeg_pixels(
        multimodal.encode_jpeg(rows, quant=[1] * 64)
    )
    assert (w, h) == (24, 17)
    assert max(
        abs(px[y][x][0] - rows[y][x]) for y in range(17) for x in range(24)
    ) <= 1
    crows = [
        [tuple(rng.randrange(256) for _ in range(3)) for _ in range(16)]
        for _ in range(16)
    ]
    w, h, px = multimodal.parse_jpeg_pixels(
        multimodal.encode_jpeg(crows, quant=[1] * 64)
    )
    assert max(
        abs(px[y][x][c] - crows[y][x][c])
        for y in range(16) for x in range(16) for c in range(3)
    ) <= 3


def test_jpeg_ac_coefficients_match_independent_idct():
    """Coefficient-level check against an INDEPENDENT textbook IDCT
    (direct cosine double sum, not the module's matrix): single AC
    coefficients at several zigzag positions, plus a mixed block, via a
    hand-built bitstream — certifies dequant, inverse zigzag, the basis
    orientation (vertical=u), EXTEND sign decoding, and ZRL runs."""
    import math

    from kafka_to_nexus_spark.llm.multimodal import _JPEG_ZIGZAG

    def idct_px(zz, quant, y, x):
        acc = 0.0
        for k in range(64):
            if zz[k] == 0:
                continue
            n = _JPEG_ZIGZAG[k]
            u, v = n // 8, n % 8
            cu = (1 / math.sqrt(2)) if u == 0 else 1.0
            cv = (1 / math.sqrt(2)) if v == 0 else 1.0
            acc += (
                cu * cv / 4 * zz[k] * quant[k]
                * math.cos((2 * y + 1) * u * math.pi / 16)
                * math.cos((2 * x + 1) * v * math.pi / 16)
            )
        return min(255, max(0, round(acc) + 128))

    quant = [3] * 64
    cases = [
        {0: 40, 1: -25},            # DC + first AC
        {5: 31},                    # single mid AC
        {1: 7, 63: -9},             # ZRL runs to the last coefficient
        {0: -60, 2: 12, 17: -5, 40: 20},
    ]
    for coefs in cases:
        zz = [coefs.get(k, 0) for k in range(64)]
        got = multimodal.parse_jpeg_pixels(
            _jpeg_gray_block_from_coefs(zz, quant)
        )
        assert got is not None, coefs
        _, _, px = got
        for y in range(8):
            for x in range(8):
                want = idct_px(zz, quant, y, x)
                assert px[y][x] == (want,) * 3, (coefs, y, x)


def test_jpeg_subsampled_420_decode():
    """General sampling factors: a hand-built 4:2:0 stream (Y 2x2, Cb/Cr
    1x1 — one interleaved MCU of 4+1+1 DC-only blocks) decodes with
    nearest-neighbor chroma upsampling; constant chroma at 128 makes the
    expected RGB equal the per-quadrant Y levels exactly."""
    import struct

    from kafka_to_nexus_spark.llm.multimodal import (
        _JPEG_ENC_AC_BITS, _JPEG_ENC_AC_CODE, _JPEG_ENC_AC_VALS,
        _JPEG_ENC_DC_BITS, _JPEG_ENC_DC_VALS, _JpegBitWriter, _jpeg_mag,
    )

    out = bytearray(b"\xff\xd8")

    def seg(m, b):
        out.extend(struct.pack(">BBH", 0xFF, m, len(b) + 2))
        out.extend(b)

    seg(0xDB, bytes([0]) + bytes([8] + [16] * 63))
    sof = struct.pack(">BHHB", 8, 16, 16, 3)
    sof += bytes([1, 0x22, 0]) + bytes([2, 0x11, 0]) + bytes([3, 0x11, 0])
    seg(0xC0, sof)
    seg(0xC4, bytes([0x00]) + bytes(_JPEG_ENC_DC_BITS) + _JPEG_ENC_DC_VALS)
    seg(0xC4, bytes([0x10]) + bytes(_JPEG_ENC_AC_BITS) + _JPEG_ENC_AC_VALS)
    seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    w = _JpegBitWriter()
    levels = [40, 90, 160, 210]  # Y quadrants (raster block order)

    def dc(diff):
        s = _jpeg_mag(diff)
        w.put(s, 4)
        if s:
            w.put(diff if diff > 0 else diff + (1 << s) - 1, s)
        w.put(_JPEG_ENC_AC_CODE[0x00], 8)  # EOB

    pred = 0
    for lv in levels:  # 4 Y blocks, differential DC
        dc((lv - 128) - pred)
        pred = lv - 128
    dc(0)  # Cb = 128
    dc(0)  # Cr = 128
    w.flush()
    out.extend(w.out)
    out.extend(b"\xff\xd9")
    got = multimodal.parse_jpeg_pixels(bytes(out))
    assert got is not None
    width, height, px = got
    assert (width, height) == (16, 16)
    for y in range(16):
        for x in range(16):
            want = levels[(y // 8) * 2 + (x // 8)]
            assert px[y][x] == (want,) * 3, (y, x)


def test_jpeg_restart_markers_and_16bit_dqt():
    """DRI/RSTn path: a restart-interval stream decodes identically to
    the plain stream; a corrupted RST marker fails total (None). pq=1
    (16-bit) DQT entries parse: the same exact-DC table written wide
    round-trips the flat fixture."""
    rows = [[(x * 16 + y) % 256 for x in range(32)] for y in range(32)]
    plain = multimodal.parse_jpeg_pixels(multimodal.encode_jpeg(rows))
    rst = multimodal.encode_jpeg(rows, restart_interval=3)
    assert multimodal.parse_jpeg_pixels(rst) == plain
    corrupt = rst.replace(b"\xff\xd0", b"\xff\xd9", 1)
    assert multimodal.parse_jpeg_pixels(corrupt) is None

    import struct

    enc = multimodal.encode_jpeg([[57] * 16 for _ in range(16)])
    # rewrite the 8-bit DQT segment as its 16-bit equivalent
    q8 = bytes([8] + [16] * 63)
    old = struct.pack(">BBH", 0xFF, 0xDB, 67) + bytes([0]) + q8
    new = struct.pack(">BBH", 0xFF, 0xDB, 131) + bytes([0x10]) + b"".join(
        struct.pack(">H", v) for v in q8
    )
    assert old in enc
    wide = enc.replace(old, new, 1)
    got = multimodal.parse_jpeg_pixels(wide)
    assert got is not None
    assert all(p == (57, 57, 57) for r in got[2] for p in r)


def test_jpeg_totality_and_guards():
    """TOTAL over garbage: truncations at every byte, marker mutations
    (progressive SOF2, arithmetic DAC), oversubscribed Huffman tables,
    and the max_pixels allocation bomb all yield None — never an
    exception."""
    enc = multimodal.encode_jpeg([[7 * (x + y) % 256 for x in range(8)]
                                  for y in range(8)])
    assert multimodal.parse_jpeg_pixels(enc) is not None
    # every truncation inside the structure/entropy data fails total;
    # losing only the trailing EOI is lenient-decode territory (the scan
    # is already complete), matching parse_png_pixels' leniency note
    for k in range(len(enc) - 2):
        assert multimodal.parse_jpeg_pixels(enc[:k]) is None, k
    for bad in (None, b"", b"\xff\xd8", b"garbage bytes here"):
        assert multimodal.parse_jpeg_pixels(bad) is None
    # SOF0 -> SOF2 (progressive) and -> DAC (arithmetic) both reject
    i = enc.index(b"\xff\xc0")
    assert multimodal.parse_jpeg_pixels(
        enc[:i] + b"\xff\xc2" + enc[i + 2:]) is None
    # allocation bomb: header claims a huge image
    big = multimodal.encode_jpeg([[0] * 16] * 16)
    assert multimodal.parse_jpeg_pixels(big, max_pixels=100) is None
    # oversubscribed huffman table: 3 codes of length 1
    from kafka_to_nexus_spark.llm.multimodal import _jpeg_build_huffman
    assert _jpeg_build_huffman([3] + [0] * 15, bytes(3)) is None


def _wav(channels=2, rate=8000, bits=16, data_size=16000, pre_chunks=0):
    out = b""
    for i in range(pre_chunks):  # e.g. LIST/INFO chunks before fmt
        body = bytes(5 + i)  # odd sizes exercise word-alignment padding
        out += b"LIST" + len(body).to_bytes(4, "little") + body
        out += b"\x00" * (len(body) & 1)
    out += (b"fmt " + (16).to_bytes(4, "little")
            + (1).to_bytes(2, "little") + channels.to_bytes(2, "little")
            + rate.to_bytes(4, "little")
            + (rate * channels * bits // 8).to_bytes(4, "little")
            + (channels * bits // 8).to_bytes(2, "little")
            + bits.to_bytes(2, "little"))
    out += b"data" + data_size.to_bytes(4, "little")
    return b"RIFF" + (4 + len(out)).to_bytes(4, "little") + b"WAVE" + out


def test_parse_wav_meta_formats_and_garbage():
    """RIFF chunk walk: fmt fields little-endian, duration from data-chunk
    size ÷ byte rate (floor), word-aligned skip over odd-sized chunks
    before fmt, and None on garbage/truncation/non-integer sample bytes."""
    p = multimodal.parse_wav_meta
    assert p(_wav()) == (2, 8000, 16, 500)
    assert p(_wav(1, 44100, 16, 44100 * 2)) == (1, 44100, 16, 1000)
    assert p(_wav(pre_chunks=2)) == (2, 8000, 16, 500)
    assert p(None) is None and p(b"") is None
    assert p(b"RIFFxxxxNOPE") is None
    assert p(_wav()[:20]) is None            # truncated fmt chunk
    assert p(_wav(bits=12)) is None          # non-byte-multiple bits
    w = _wav()
    assert p(w[: w.index(b"data")]) is None  # no data chunk


def _mp4(timescale=1000, duration=5000, version=0, largesize=False,
         pre_boxes=0):
    if version == 0:
        mvhd = (b"\x00" + bytes(3) + bytes(8)
                + timescale.to_bytes(4, "big") + duration.to_bytes(4, "big"))
    else:
        mvhd = (b"\x01" + bytes(3) + bytes(16)
                + timescale.to_bytes(4, "big") + duration.to_bytes(8, "big"))
    mvhd_box = (len(mvhd) + 8).to_bytes(4, "big") + b"mvhd" + mvhd
    moov = (len(mvhd_box) + 8).to_bytes(4, "big") + b"moov" + mvhd_box
    out = (16).to_bytes(4, "big") + b"ftypisom" + bytes(4)
    for i in range(pre_boxes):
        body = bytes(3 + i)
        out += (8 + len(body)).to_bytes(4, "big") + b"free" + body
    if largesize:  # size==1 → u64 largesize follows the type
        moov_body = moov[8:]
        moov = ((1).to_bytes(4, "big") + b"moov"
                + (16 + len(moov_body)).to_bytes(8, "big") + moov_body)
    return out + moov


def test_parse_mp4_meta_versions_and_garbage():
    """ISO-BMFF box walk: mvhd v0 (u32 fields) and v1 (u64 duration),
    u64 largesize boxes, boxes before moov, and None on garbage,
    truncation, zero timescale, or a box walk that never finds mvhd."""
    p = multimodal.parse_mp4_meta
    assert p(_mp4(1000, 5000)) == (1000, 5000)
    assert p(_mp4(600, 601)) == (600, 1001)       # floor division
    assert p(_mp4(90000, 2**33, version=1)) == (90000, 2**33 * 1000 // 90000)
    assert p(_mp4(largesize=True)) == (1000, 5000)
    assert p(_mp4(pre_boxes=2)) == (1000, 5000)
    assert p(None) is None and p(b"") is None
    assert p(b"no box here") is None
    assert p(_mp4()[:24]) is None                 # truncated moov
    assert p(_mp4(timescale=0)) is None
    w = _mp4()
    assert p(w[: w.index(b"moov") - 4]) is None   # ftyp only, no moov
    bad = w.replace(b"mvhd", b"trak")             # moov without mvhd
    assert p(bad) is None


def test_wav_meta_mapinpandas(spark):
    rows = [
        (0, "audio", "audio/wav", 0, 0, 0, bytearray(_wav(1, 16000, 16, 32000))),
        (1, "audio", "audio/wav", 0, 0, 0, bytearray(b"static")),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r.media_id: (r.channels, r.sample_rate, r.bits, r.duration_ms)
           for r in multimodal.wav_meta(df).collect()}
    assert got == {0: (1, 16000, 16, 1000), 1: (None, None, None, None)}


# ---------------------------------------------------------------------------
# k-means training + IVF layout + SRP LSH
# ---------------------------------------------------------------------------

def test_kmeans_train_partitions_all_vectors(spark, embeddings):
    cents = similarity.kmeans_train(embeddings, k=4, n_iter=2)
    assert len(cents) == 4 and all(len(v) == 64 for _, v in cents)
    stats = similarity.kmeans_assignment_stats(embeddings, cents).collect()
    assert sum(r.n_vecs for r in stats) == embeddings.count()
    assert all(-1.0 <= r.avg_cosine <= 1.0 for r in stats)
    # repeatable to float tolerance: partial-sum merge order is not
    # deterministic across runs, so exact equality would flake at ~1 ulp
    import numpy as np

    again = similarity.kmeans_train(embeddings, k=4, n_iter=2)
    assert [c for c, _ in again] == [c for c, _ in cents]
    for (_, a), (_, b) in zip(cents, again):
        assert np.allclose(a, b, rtol=1e-12, atol=1e-12)


def test_kmeans_iteration_improves_cohesion(spark, embeddings):
    c0 = similarity.kmeans_train(embeddings, k=4, n_iter=0)
    c3 = similarity.kmeans_train(embeddings, k=4, n_iter=3)

    def mean_cos(cents):
        rows = similarity.kmeans_assignment_stats(embeddings, cents).collect()
        n = sum(r.n_vecs for r in rows)
        return sum(r.avg_cosine * r.n_vecs for r in rows) / n

    assert mean_cos(c3) >= mean_cos(c0) - 1e-9


def test_ivf_layout_prunes_partitions(spark, embeddings, tmp_path):
    """The partition-by-centroid layout turns a probe into a pruned scan:
    the parquet read must show a PartitionFilters entry and scan only the
    probed bucket's files."""
    cents = similarity.kmeans_train(embeddings, k=4, n_iter=1)
    path = str(tmp_path / "ivf")
    similarity.write_ivf_layout(embeddings, cents, path)
    probe = spark.read.parquet(path).filter(F.col("centroid_id") == 2)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "centroid_id" in plan.split(
        "PartitionFilters"
    )[1][:120]
    assert probe.count() > 0


def test_srp_signature_matches_numpy(spark, embeddings):
    import numpy as np

    planes = similarity.srp_planes(64, 16)
    got = {
        r.vec_id: r.srp_sig
        for r in similarity.srp_signatures(embeddings, bits=16).collect()
    }
    sample = embeddings.limit(5).collect()
    H = np.array(planes)
    for row in sample:
        v = np.asarray(row.embedding, dtype=np.float64)
        expect = sum(int(H[j] @ v >= 0) << j for j in range(16))
        assert got[row.vec_id] == expect


def test_srp_signature_expr_matches_fold_form(spark, embeddings):
    """The single-parsed-expression signature (r13 driver-build fix) is
    bit-identical to the reference Column-fold construction — same
    aggregate/zip_with tree, so every sign decision matches even for
    dots at rounding boundaries."""
    from pyspark.sql import functions as F

    planes = similarity.srp_planes(64, 16)
    both = embeddings.select(
        "vec_id",
        similarity.srp_signature_expr(
            "CAST(embedding AS ARRAY<DOUBLE>)", planes
        ).alias("e"),
        similarity.srp_signature_col(
            F.col("embedding").cast("array<double>"), planes
        ).alias("c"),
    )
    assert both.filter("e IS DISTINCT FROM c").count() == 0


def test_srp_candidates_rank_similar_vectors(spark):
    """A vector and its tiny perturbation share all SRP bits → the pair
    must surface as a candidate with cosine ≈ 1."""
    base = [float((i * 37) % 13 - 6) for i in range(64)]
    near = [x + 0.001 for x in base]
    far = [-x for x in base]
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], ["vec_id", "embedding"]
    )
    pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in similarity.srp_candidate_pairs(df, bits=16, bands=2).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.999
    assert (0, 2) not in pairs  # opposite vector flips every bit


def test_srp_max_bucket_star_cap_preserves_components(spark):
    """An embedding boilerplate cluster (many perturbations of one
    template) must not emit cluster² SRP pairs: past the cap each member
    pairs only with the bucket canonical, components stay identical to
    the uncapped cliques, and the star pairs carry true cosines."""
    base = [float((i * 37) % 13 - 6) for i in range(64)]
    rows = [(i, [x + 0.0001 * i for x in base]) for i in range(20)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    uncapped = {(r.id_a, r.id_b): r.cosine
                for r in similarity.srp_candidate_pairs(df).collect()}
    capped = {(r.id_a, r.id_b): r.cosine
              for r in similarity.srp_candidate_pairs(df, max_bucket=4).collect()}
    assert len(capped) < len(uncapped)
    # star pairs report the same cosine the clique form would have
    for k, v in capped.items():
        assert abs(v - uncapped[k]) < 1e-9, k

    from conftest import union_find_components

    rng = list(range(20))
    assert union_find_components(capped, rng) == union_find_components(
        uncapped, rng)


def test_connected_components_transitive(spark):
    """a-b and b-c edges must land a, b, c in one component labelled by
    the lowest id; isolated vertices keep their own id."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    verts = spark.createDataFrame([(i,) for i in [1, 2, 3, 7, 10, 11]], ["doc_id"])
    comp = {
        r.doc_id: r.component_id
        for r in dedup.connected_components(edges, verts).collect()
    }
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[7] == 7


def test_connected_components_chain_diameter(spark):
    """A length-6 path needs multiple propagation rounds — exercises the
    fixpoint loop, not just one iteration (driver_edge_threshold=0 keeps
    this on the distributed regime)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["id_a", "id_b"]
    )
    verts = spark.createDataFrame([(i,) for i in range(7)], ["doc_id"])
    comp = dedup.connected_components(
        edges, verts, driver_edge_threshold=0
    ).collect()
    assert {r.component_id for r in comp} == {0}


def test_mirror_merged_flags_matches_cc_self_join(spark):
    """mirror_merged_flags must equal connected_components + the +offset
    self-join in BOTH regimes (driver union-find fast path and the
    distributed fallback) — including transitive merges (d reaches
    d+offset only through an intermediary) and singleton/one-sided-edge
    docs."""
    off = 1_000_000
    # base docs 0..5; edges: 0<->mirror directly; 1 reaches mirror via 2;
    # 3 touched but NOT merged with its mirror; 4 untouched; 5's mirror
    # only touched on the mirror side.
    edges = spark.createDataFrame(
        [
            (0, off + 0),
            (1, 2),
            (2, off + 1),
            (3, 2),
            (off + 5, off + 3),
        ],
        ["id_a", "id_b"],
    )
    base = spark.createDataFrame([(i,) for i in range(6)], ["doc_id"])
    mirrored = base.unionByName(
        base.select((F.col("doc_id") + off).alias("doc_id"))
    )
    labels = dedup.connected_components(edges, mirrored)
    expected = {
        r.doc_id: r.flag
        for r in labels.alias("a")
        .join(labels.alias("b"), F.col("a.doc_id") + off == F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id"),
            (F.col("a.component_id") == F.col("b.component_id")).alias("flag"),
        )
        .collect()
    }
    for thresh in (500_000, 0):  # driver-UF regime, distributed regime
        got = {
            r.doc_id: r.flag
            for r in dedup.mirror_merged_flags(
                edges, base, "flag", offset=off, driver_edge_threshold=thresh
            ).collect()
        }
        assert got == expected, (thresh, got, expected)
    assert expected == {0: True, 1: True, 2: False, 3: False, 4: False, 5: False}


def test_scrub_pii_redacts_and_counts(spark):
    rows = [
        (0, "contact bob@example.com or +1 (555) 123-4567 now"),
        (1, "server at 192.168.1.10 see https://example.com/x?q=1 end"),
        (2, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in text.scrub_pii(df).collect()}
    assert out[0].n_email == 1 and out[0].n_phone == 1
    assert "[EMAIL]" in out[0].scrubbed_text and "bob@" not in out[0].scrubbed_text
    assert "[PHONE]" in out[0].scrubbed_text
    assert out[1].n_ipv4 == 1 and out[1].n_url == 1
    assert "[IPV4]" in out[1].scrubbed_text and "[URL]" in out[1].scrubbed_text
    assert out[2].scrubbed_text == "nothing sensitive here"
    assert out[2].n_email == out[2].n_phone == out[2].n_ipv4 == out[2].n_url == 0


def test_scrub_pii_phone_spares_numeric_prose(spark):
    """The phone pattern must not match \\s-joined digit runs: numeric
    prose and tables ('revenues were 1999 2004 2008 2012') are corpus
    content, not phone numbers — the old digits+whitespace pattern
    rewrote them to [PHONE]. Structured forms still scrub."""
    rows = [
        (0, "revenues were 1999 2004 2008 2012 across regions"),
        (1, "line one 123\nline two 4567890\nline three 22"),
        (2, "call 555-867-5309 or +46 8 123 456 78 today"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in text.scrub_pii(df).collect()}
    assert out[0].n_phone == 0 and out[0].scrubbed_text == rows[0][1]
    assert out[1].n_phone == 0 and out[1].scrubbed_text == rows[1][1]
    assert out[2].n_phone == 2


def test_scrub_pii_bare_digit_run_is_scrubbed(spark):
    """An unformatted 9-11 digit run (bare national number / SSN-like id)
    is PII and must scrub; 4-digit years and short ids stay."""
    rows = [(0, "call 5558675309 today"),
            (1, "order 1234 shipped in 2024")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in text.scrub_pii(df).collect()}
    assert out[0].n_phone == 1 and "[PHONE]" in out[0].scrubbed_text
    assert out[1].n_phone == 0 and out[1].scrubbed_text == rows[1][1]


def test_stream_ivf_append_maintains_pruned_layout(spark, embeddings, tmp_path):
    """Streaming IVF maintenance: vectors streamed in two micro-batches
    land in the same partition-by-centroid layout the batch writer
    produces — identical assignments, probe still partition-pruned."""
    import os
    import time as _time

    cents = similarity.kmeans_train(embeddings, k=4, n_iter=1)

    src = tmp_path / "stream_in"
    src.mkdir()
    half = embeddings.count() // 2
    for seq, pred in enumerate((F.col("vec_id") < half, F.col("vec_id") >= half)):
        d = src / f"b{seq}"
        embeddings.filter(pred).coalesce(1).write.mode("overwrite").json(str(d))
        for f in d.iterdir():
            base = _time.time() - 1000
            os.utime(f, (base + seq * 10, base + seq * 10))

    layout = str(tmp_path / "ivf_stream")
    stream = (spark.readStream
              .schema("vec_id long, embedding array<double>, label string")
              .option("maxFilesPerTrigger", 1).json(str(src / "*")))
    q = similarity.stream_ivf_append(
        stream, cents, layout, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # batch ground truth from the SAME JSON the stream consumed — the
    # decimal round-trip of the float32 fixture can flip a near-tied
    # argmax, so comparing against the parquet-sourced frame would be
    # fixture-fragile
    json_docs = spark.read.schema(
        "vec_id long, embedding array<double>, label string").json(str(src / "*"))
    batch_assign = {
        (r.vec_id, r.centroid_id)
        for r in json_docs.withColumn(
            "centroid_id",
            similarity.nearest_centroid_expr(F.col("embedding"), cents),
        ).select("vec_id", "centroid_id").collect()
    }
    got = {
        (r.vec_id, r.centroid_id)
        for r in spark.read.parquet(layout).select("vec_id", "centroid_id").collect()
    }
    assert got == batch_assign
    # probe over the streamed layout is still a pruned scan
    probe = spark.read.parquet(layout).filter(F.col("centroid_id") == 1)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "centroid_id" in plan.split(
        "PartitionFilters")[1][:120]


def test_stream_ivf_pq_append_equals_batch_layout(spark, embeddings, tmp_path):
    """Streaming IVF-PQ maintenance: a layout built entirely by the
    streaming appender (two micro-batches) carries IDENTICAL rows —
    coarse assignment AND all m residual PQ codes — to the batch
    write_ivf_pq_layout of the same vectors, and the stored probe over
    it returns the batch layout's exact results."""
    import os
    import time as _time

    emb = embeddings.limit(200).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    coarse = similarity.kmeans_train_portable(emb, k=4, n_iter=1)
    books = similarity.pq_train_portable(emb, m=4, k=8, n_iter=1)

    src = tmp_path / "stream_in"
    src.mkdir()
    for seq, pred in enumerate((F.col("vec_id") < 100, F.col("vec_id") >= 100)):
        d = src / f"b{seq}"
        emb.filter(pred).coalesce(1).write.mode("overwrite").json(str(d))
        for f in d.iterdir():
            base = _time.time() - 1000
            os.utime(f, (base + seq * 10, base + seq * 10))

    streamed = str(tmp_path / "ivfpq_stream")
    stream = (spark.readStream
              .schema("vec_id long, embedding array<double>")
              .option("maxFilesPerTrigger", 1).json(str(src / "*")))
    q = similarity.stream_ivf_pq_append(
        stream, coarse, books, streamed, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # batch ground truth from the SAME JSON the stream consumed (decimal
    # round-trip caveat as the plain-IVF twin above)
    json_emb = spark.read.schema("vec_id long, embedding array<double>").json(
        str(src / "*"))
    batch_layout = str(tmp_path / "ivfpq_batch")
    similarity.write_ivf_pq_layout(json_emb, coarse, books, batch_layout)
    cols = ["vec_id", "list_id", "code_0", "code_1", "code_2", "code_3"]
    got = {tuple(r) for r in spark.read.parquet(streamed).select(*cols).collect()}
    want = {tuple(r) for r in spark.read.parquet(batch_layout).select(*cols).collect()}
    assert got == want and len(got) == 200

    qv = [float(x) for x in coarse[0][1]]
    p_stream = similarity.ivf_pq_stored_probe(
        spark, streamed, coarse, books, qv, probes=2, topk=5).collect()
    p_batch = similarity.ivf_pq_stored_probe(
        spark, batch_layout, coarse, books, qv, probes=2, topk=5).collect()
    assert [tuple(r) for r in p_stream] == [tuple(r) for r in p_batch]
    # the streamed layout's probe is still partition-pruned
    probe = spark.read.parquet(streamed).filter(F.col("list_id") == 1)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "list_id" in plan.split(
        "PartitionFilters")[1][:120]


def test_compact_ivf_layout_shrinks_files_keeps_data(spark, embeddings, tmp_path):
    """Compaction rewrites the streamed layout's per-batch small files as
    one right-sized file per centroid partition; contents and partition
    pruning are unchanged."""
    import os
    import time as _time

    cents = similarity.kmeans_train(embeddings, k=4, n_iter=1)
    src = tmp_path / "stream_in"
    src.mkdir()
    third = embeddings.count() // 3
    preds = (F.col("vec_id") < third,
             (F.col("vec_id") >= third) & (F.col("vec_id") < 2 * third),
             F.col("vec_id") >= 2 * third)
    for seq, pred in enumerate(preds):
        d = src / f"b{seq}"
        embeddings.filter(pred).coalesce(1).write.mode("overwrite").json(str(d))
        for f in d.iterdir():
            base = _time.time() - 1000
            os.utime(f, (base + seq * 10, base + seq * 10))
    layout = str(tmp_path / "ivf_stream")
    stream = (spark.readStream
              .schema("vec_id long, embedding array<double>, label string")
              .option("maxFilesPerTrigger", 1).json(str(src / "*")))
    q = similarity.stream_ivf_append(
        stream, cents, layout, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def parquet_files(root):
        return [p for p in __import__("pathlib").Path(root).rglob("*.parquet")]

    compacted = str(tmp_path / "ivf_compact")
    similarity.compact_ivf_layout(spark, layout, compacted)
    assert len(parquet_files(compacted)) < len(parquet_files(layout))
    before = {(r.vec_id, r.centroid_id) for r in
              spark.read.parquet(layout).select("vec_id", "centroid_id").collect()}
    after = {(r.vec_id, r.centroid_id) for r in
             spark.read.parquet(compacted).select("vec_id", "centroid_id").collect()}
    assert before == after and len(after) == embeddings.count()
    plan = (spark.read.parquet(compacted).filter(F.col("centroid_id") == 1)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters: [" in plan


def test_semantic_dedup_prunes_min_id_survivor(spark):
    """SemDeDup rule: within a cluster, a vector is pruned iff a LOWER-id
    vector has cosine >= tau; the min-id member of a near-dup set always
    survives, and cross-cluster near-identical vectors are NOT compared."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),   # near-dup of 0 -> pruned
        (2, [0.0, 1.0, 0.0]),      # other direction, same-or-other cluster
        (3, [0.0, 0.999, 0.01]),   # near-dup of 2 -> pruned
        (4, [0.7, 0.7, 0.0]),      # mid-direction, below tau to both
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    out = {
        r["vec_id"]: (r["centroid_id"], r["keep"])
        for r in similarity.semantic_dedup_prune(df, centroids, threshold=0.98).collect()
    }
    assert len(out) == 5
    assert out[0][1] and not out[1][1], out
    assert out[2][1] and not out[3][1], out
    assert out[4][1], out
    # same cluster as its near-dup partner
    assert out[0][0] == out[1][0] and out[2][0] == out[3][0]


def test_lsh_max_bucket_caps_pairs_keeps_canonical(spark):
    """A boilerplate cluster (many near-copies of one template) must not
    explode the candidate-pair count: max_bucket keeps each bucket's
    lowest-id members, so every capped-out doc still has a path to the
    cluster canonical through the survivors it paired with before the cap
    bound the per-bucket output."""
    rows = [(i, "the quick brown fox jumps over the lazy dog variant " + str(i % 3), "en")
            for i in range(30)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    sig = dedup.minhash_signatures(docs)
    uncapped_pairs = [(r.id_a, r.id_b) for r in dedup.lsh_candidate_pairs(sig).collect()]
    capped_pairs = [
        (r.id_a, r.id_b)
        for r in dedup.lsh_candidate_pairs(sig, max_bucket=4).collect()
    ]
    assert len(capped_pairs) < len(uncapped_pairs)

    # NO doc may escape the candidate relation: a capped-out member still
    # carries a star edge to the bucket canonical, so union-find over the
    # capped pairs yields the SAME components as over the full cliques.
    from conftest import union_find_components

    rng = list(range(30))
    assert union_find_components(capped_pairs, rng) == union_find_components(
        uncapped_pairs, rng)


def test_lsh_chain_col_keeps_exact_dups_adjacent(spark):
    """The cap's exact-dup guarantee (VERDICT r8): with chain_col, an
    identical pair is DIRECTLY in the candidate set even when buried deep
    in a crowded bucket where id-ordered chains would route it through
    dissimilar neighbors whose links die at verify. Construct one bucket
    (identical signatures via identical band minima is hard to force, so
    use near-identical template texts that all share buckets) with the
    identical pair at non-adjacent ids."""
    from pyspark.sql import functions as F

    # 20 docs sharing template buckets; docs 3 and 17 are byte-identical,
    # everything between them differs
    rows = [(i, "shared template boilerplate prefix for every document "
                + ("THE EXACT DUPLICATE PAYLOAD" if i in (3, 17)
                   else f"unique filler {i} " * 3))
            for i in range(20)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "_fp", F.md5(F.col("text").cast("binary"))
    )
    sig = dedup.minhash_signatures(docs, keep_cols=("_fp",))
    capped = {
        (r.id_a, r.id_b)
        for r in dedup.lsh_candidate_pairs(
            sig, max_bucket=2, chain_col="_fp"
        ).collect()
    }
    assert (3, 17) in capped, capped
    # id_a < id_b holds even though chain predecessors can carry larger
    # ids than their successors
    assert all(a < b for a, b in capped)
    # the cap still preserves raw-graph components vs uncapped
    from conftest import union_find_components

    uncapped = [(r.id_a, r.id_b)
                for r in dedup.lsh_candidate_pairs(sig).collect()]
    rng = list(range(20))
    assert union_find_components(sorted(capped), rng) == \
        union_find_components(uncapped, rng)


def test_lsh_chain_col_missing_column_rejected(spark):
    import pytest

    sig = spark.createDataFrame([(0, "a", "b")], ["doc_id", "m0", "m1"])
    with pytest.raises(ValueError, match="chain_col"):
        dedup.lsh_candidate_pairs(sig, bands=1, rows_per_band=2,
                                  max_bucket=2, chain_col="_fp")


def test_lsh_chain_col_without_cap_rejected(spark):
    """ADVICE r8: chain_col with max_bucket=None was silently ignored —
    the fingerprint ordering only exists on the capped path, so a caller
    asking for it uncapped must get a hard error, not a no-op."""
    import pytest

    sig = spark.createDataFrame(
        [(0, "a", "b", "f")], ["doc_id", "m0", "m1", "_fp"]
    )
    with pytest.raises(ValueError, match="max_bucket"):
        dedup.lsh_candidate_pairs(sig, bands=1, rows_per_band=2,
                                  chain_col="_fp")


def test_dedup_pipeline_engine_parity_full_recall(spark):
    """The composed parity certificate is non-vacuous: on the mirrored
    corpus EVERY doc has an exact-dup partner, and both engines' full
    pipelines must merge every one of them (merged flags all true,
    corpus-sized row count)."""
    from kafka_to_nexus_spark import queries as Q

    out = Q.queries()["dedup_pipeline_engine_parity"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) == 500
    assert all(r.merged_md5 and r.merged_xxhash64 for r in out)


def test_max_bucket_zero_rejected(spark):
    """max_bucket=0 would push every rank-1 row into the capped branch,
    emitting self-edges and null-predecessor chain edges — both cap
    operators must reject it up front."""
    import pytest

    sig = spark.createDataFrame([(0, "a", "b")], ["doc_id", "m0", "m1"])
    with pytest.raises(ValueError, match="max_bucket"):
        dedup.lsh_candidate_pairs(sig, bands=1, rows_per_band=2, max_bucket=0)
    emb = spark.createDataFrame([(0, [0.0] * 64)], ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="max_bucket"):
        similarity.srp_candidate_pairs(emb, max_bucket=0)


def test_pq_adc_equals_reconstructed_dot(spark, embeddings):
    """PQ's defining identity: the ADC table-lookup score must equal the
    dot product of the query with the codebook RECONSTRUCTION of each
    vector — Σ_j q_j·c_{j,code_j} = q·concat(codewords). Verified through
    an independent numpy path (train in Spark, re-encode and score in
    numpy), plus structural sanity: multiple codes in use per subspace."""
    import numpy as np

    from pyspark.sql import functions as F

    emb = embeddings.limit(200)
    books = similarity.pq_train_portable(emb, m=4, k=8, n_iter=1)
    rows = {r.vec_id: np.array(r.e) for r in emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    ).collect()}
    q = rows[0]
    got = {r.vec_id: r.adc_score for r in similarity.pq_adc_topk_portable(
        emb, books, list(q), k=200, exclude_id=0).collect()}
    sd = len(books[0][0][1])
    used = [set() for _ in range(4)]
    for vid, v in rows.items():
        if vid == 0:
            continue
        score = 0.0
        near_tie = False
        for j, cb in enumerate(books):
            sub = v[j * sd:(j + 1) * sd]
            # independent argmax: numpy dot, tie on lowest cid; skip
            # vectors whose argmax margin is inside float-summation noise
            # (numpy pairwise sum vs the engine's sequential fold can
            # legitimately disagree there)
            ds = sorted(((float(np.dot(sub, c)), -cid) for cid, c in cb),
                        reverse=True)
            if len(ds) > 1 and ds[0][0] - ds[1][0] < 1e-9:
                near_tie = True
                break
            cid = -ds[0][1]
            used[j].add(cid)
            cw = dict(cb)[cid]
            score += float(np.dot(q[j * sd:(j + 1) * sd], cw))
        if near_tie or vid not in got:
            continue
        assert abs(got[vid] - round(score, 6)) <= 2e-6, (vid, got[vid], score)
    assert all(len(u) >= 2 for u in used), [len(u) for u in used]


def test_ivf_pq_probes_restrict_candidates(spark, embeddings):
    """The composed IVF-PQ read path: results come ONLY from the probed
    lists (at most `probes` distinct list_ids), the query vector itself
    is excluded, and scores are finite ADC values — the partition-pruning
    contract that makes the stored layout scan probes/coarse_k of the
    data at scale."""
    import math

    from kafka_to_nexus_spark import queries as Q

    out = Q.queries()["ivf_pq_topk"](spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 10
    assert len({r.list_id for r in out}) <= Q._IVFPQ_PROBES
    assert all(r.vec_id != 0 for r in out)
    assert all(math.isfinite(r.adc_score) for r in out)
    # descending score, id tie-break
    scores = [(r.adc_score, r.vec_id) for r in out]
    assert scores == sorted(scores, key=lambda t: (-t[0], t[1]))


def test_ivf_pq_explicit_query_vec_matches_id_lookup(spark, embeddings):
    """VERDICT r8 #3: the production call passes the query vector as a
    PARAMETER (no corpus scan in driver prep); it must produce exactly
    the id-lookup form's results."""
    emb = embeddings.limit(200)
    qv = [float(x) for x in emb.filter("vec_id = 0")
          .selectExpr("CAST(embedding AS ARRAY<DOUBLE>)").first()[0]]
    by_id = similarity.ivf_pq_topk_portable(
        emb, coarse_k=4, probes=2, m=4, k=8, topk=5, query_id=0
    ).collect()
    by_vec = similarity.ivf_pq_topk_portable(
        emb, coarse_k=4, probes=2, m=4, k=8, topk=5, query_id=0,
        query_vec=qv,
    ).collect()
    assert [tuple(r) for r in by_id] == [tuple(r) for r in by_vec]


def test_semantic_dedup_auto_scales_k_with_corpus(spark, embeddings):
    """The auto wrapper holds cluster SIZE constant: doubling the corpus
    doubles k, and the prune output still covers every vector exactly
    once with min-id survivors kept."""
    from pyspark.sql import functions as F

    small = embeddings.limit(200)
    out = similarity.semantic_dedup_auto(small, threshold=0.99,
                                         target_cluster_size=50, n_iter=1)
    rows = out.collect()
    assert len(rows) == 200
    assert {r.vec_id for r in rows} == {r.vec_id for r in small.select("vec_id").collect()}
    n_clusters_small = len({r.centroid_id for r in rows})
    big = embeddings.limit(400)
    out_big = similarity.semantic_dedup_auto(big, threshold=0.99,
                                             target_cluster_size=50, n_iter=1)
    n_clusters_big = len({r.centroid_id for r in out_big.collect()})
    assert n_clusters_big > n_clusters_small
    # keep is True for every vector no higher-similarity lower id exists;
    # at threshold 0.99 on random embeddings nearly everything survives
    assert sum(1 for r in rows if r.keep) >= 190


def test_semantic_dedup_auto_degenerate_corpora(spark, embeddings):
    """Total on edge inputs: an empty corpus returns an empty result with
    the same schema (not a kmeans seed crash), and a 1-row corpus clamps
    k to n and keeps its only vector."""
    empty = similarity.semantic_dedup_auto(
        embeddings.limit(0), threshold=0.9, n_iter=1)
    assert empty.count() == 0
    assert set(empty.columns) == {"vec_id", "centroid_id", "keep"}
    # the empty branch must track semantic_dedup_prune's schema EXACTLY
    # (names, order, and types) — a downstream union on the degenerate
    # case must not misalign
    nonempty = similarity.semantic_dedup_auto(
        embeddings.limit(3), threshold=0.9, n_iter=1)
    assert [(f.name, f.dataType) for f in empty.schema.fields] == [
        (f.name, f.dataType) for f in nonempty.schema.fields]
    one = similarity.semantic_dedup_auto(
        embeddings.limit(1), threshold=0.9, n_iter=1).collect()
    assert len(one) == 1 and one[0].keep


def test_multimodal_decoder_swap_contract(spark):
    """The documented production contract: swapping DECODER (or passing
    decoder=) changes the features; the vectorized fast path is
    bit-identical to calling the stub per row."""
    from kafka_to_nexus_spark.llm import multimodal as mm

    rows = [(i, "image", None, None, None, None,
             bytes([i % 7, (i * 3) % 11, 250, 0, i % 5]))
            for i in range(20)]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    fast = {r.media_id: r.feature
            for r in mm.extract_features(df, dim=4).collect()}
    slow = {r.media_id: r.feature
            for r in mm.extract_features(
                df, dim=4, decoder=lambda p, d: mm.decode_stub(p, d)
            ).collect()}
    assert fast == slow  # per-row stub == vectorized fast path

    const = {r.media_id: r.feature
             for r in mm.extract_features(
                 df, dim=4, decoder=lambda p, d: [float(len(p))] * d
             ).collect()}
    assert all(v == [5.0] * 4 for v in const.values())


def test_chunk_documents_matches_python_model(spark):
    """L42 chunking vs a naive Python model: chunk count, offsets,
    overlap stitching, and tails — including a doc shorter than one
    chunk, an exact multiple, and an overlap-boundary length."""
    import re

    texts = {
        0: " ".join(f"w{i}" for i in range(10)),   # 10 tokens
        1: " ".join(f"w{i}" for i in range(4)),    # shorter than a chunk
        2: " ".join(f"w{i}" for i in range(12)),   # exact multiple of step
        3: " ".join(f"w{i}" for i in range(13)),   # one past the boundary
        4: "solo",
    }
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    size, overlap = 6, 2
    got = {}
    for r in text.chunk_documents(df, size, overlap).collect():
        got.setdefault(r.doc_id, []).append(
            (r.chunk_id, r.token_offset, r.n_tokens, r.chunk_text))
    step = size - overlap
    for doc_id, t in texts.items():
        toks = re.split(r"\s+", t)
        n = len(toks)
        n_chunks = max(1, -(-(n - overlap) // step))
        expect = []
        for c in range(n_chunks):
            piece = toks[c * step: c * step + size]
            expect.append((c, c * step, len(piece), " ".join(piece)))
        assert sorted(got[doc_id]) == expect, doc_id
    # every token of every doc appears in at least one chunk
    for doc_id, t in texts.items():
        covered = set()
        for _, off, ln, _txt in got[doc_id]:
            covered.update(range(off, off + ln))
        assert covered == set(range(len(re.split(r"\s+", t))))


def test_embedding_moments_and_whitening(spark, embeddings):
    """L41 distributed covariance vs numpy.cov on the collected corpus,
    and the whitening transform decorrelates: cov of the whitened
    vectors is the identity."""
    import numpy as np

    sample = embeddings.limit(300)
    X = np.vstack([np.asarray(r.embedding, dtype=np.float64)
                   for r in sample.collect()])
    n, mean, cov = similarity.embedding_moments(sample)
    assert n == X.shape[0]
    assert np.allclose(mean, X.mean(axis=0), atol=1e-9)
    assert np.allclose(cov, np.cov(X, rowvar=False), atol=1e-8)

    W = similarity.whitening_transform(cov)
    white = similarity.apply_whitening(sample, mean, W)
    Y = np.vstack([np.asarray(r.whitened) for r in white.collect()])
    assert np.allclose(np.cov(Y, rowvar=False), np.eye(X.shape[1]), atol=1e-4)


def test_minhash_xxhash_engine_matches_md5_semantics(spark):
    """The xxhash64 production engine must keep the operator contract:
    same column names (m0..mN), exact duplicates share the full
    signature, and banding/bucket-join composition works unchanged."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup
        (2, "a completely different document about spark engines"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = dedup.minhash_signatures(df, hash_engine="xxhash64")
    assert [c for c in sig.columns if c.startswith("m")] == [
        f"m{i}" for i in range(8)
    ]
    got = {r.doc_id: tuple(r)[1:] for r in sig.collect()}
    assert got[0] == got[1]          # exact dup -> identical signature
    assert got[0] != got[2]
    # 32-bit slices: every hash is a non-negative long below 2^32
    assert all(0 <= h < 2**32 for sig_t in got.values() for h in sig_t)
    pairs = {(r.id_a, r.id_b)
             for r in dedup.lsh_candidate_pairs(sig).collect()}
    assert (0, 1) in pairs and (0, 2) not in pairs


def test_xxhash_engine_corpus_recall_matches_md5(spark):
    """Corpus-scale quality gate for the production minhash engine: on
    the real sf0.01 documents table, the xxhash64 engine's LSH candidates
    must recall the brute-force ground-truth near-dup set (jaccard >=
    0.8 on distinct 5-shingles) as well as the md5 oracle engine does
    (measured: both 25/25 at bands=4 x rows=2, 24/25 at 2 x 4). The
    registry's minhash_engine_parity query pins the deterministic
    exact-dup core; THIS pins the probabilistic hash quality — a
    regression in the multiply-shift derivation (bad constants, lost
    entropy) shows up as dropped true near-dups. Deterministic: fixed
    corpus, fixed hash constants."""
    import itertools

    from kafka_to_nexus_spark.llm import dedup as llm_dedup

    corpus = spark.read.parquet(str(TESTDATA / "sf0.01" / "documents.parquet"))
    rows = [(r.doc_id, r.text) for r in corpus.select("doc_id", "text").collect()]
    sh = {d: set(t[i:i + 5] for i in range(max(len(t) - 4, 1))) for d, t in rows}
    truth = {
        (a, b)
        for (a, _), (b, _) in itertools.combinations(rows, 2)
        if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= 0.8
    }
    assert len(truth) >= 20  # the corpus really carries near-dups
    sig = llm_dedup.minhash_signatures(corpus, num_hashes=8, hash_engine="xxhash64")
    for bands, rpb, floor in ((4, 2, 1.0), (2, 4, 0.9)):
        cand = {
            (r.id_a, r.id_b)
            for r in llm_dedup.lsh_candidate_pairs(
                sig, bands=bands, rows_per_band=rpb
            ).collect()
        }
        recall = len(cand & truth) / len(truth)
        assert recall >= floor, (bands, rpb, recall)


# ---------------------------------------------------------------------------
# L43 BM25 / L45 unigram NLL: engine output vs a pure-python model
# ---------------------------------------------------------------------------

def _py_bm25(texts: dict[int, str], terms: tuple[str, ...], k: int):
    """Reference Okapi BM25 (k1=1.2, b=0.75) with the query's rounding
    discipline: per-term scores rounded to 6 dp, summed in term order,
    final round to 6 dp."""
    import math

    toks = {d: [t for t in s.lower().split(" ") if t] for d, s in texts.items()}
    n = len(texts)
    total = sum(len(v) for v in toks.values())
    avgdl = total / n
    df = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    scores = {}
    for d, v in toks.items():
        s = 0.0
        for t in terms:
            tf = v.count(t)
            if not tf or not df[t]:
                continue
            idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            s += round(
                idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(v) / avgdl)), 6
            )
        if s:
            scores[d] = round(s, 6)
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return ranked


def test_dataset_split_stable_under_corpus_growth(spark, tmp_path):
    """The split op's load-bearing property at an accreting 100 TB
    corpus: a document's train/val/test label depends only on its own id
    (md5 gate), so DOUBLING the corpus must not reassign any existing
    document — row_number/ntile splits would reshuffle everything."""
    import pandas as pd

    from kafka_to_nexus_spark import queries as Q

    def run(df_docs, name):
        d = tmp_path / name
        d.mkdir()
        df_docs.to_parquet(d / "documents.parquet")
        Q.register_views(spark, str(d), ("documents",))
        out = spark.sql(Q.SPARK_SQL["dataset_split"])
        return {r.doc_id: r.split for r in out.collect()}

    base = pd.DataFrame(
        {"doc_id": range(200), "text": "x", "lang": "en", "source": "s",
         "n_chars": 1}
    )
    grown = pd.concat(
        [base, base.assign(doc_id=base.doc_id + 1_000_000)],
        ignore_index=True,
    )
    small = run(base, "small")
    big = run(grown, "big")
    assert all(big[d] == s for d, s in small.items())
    # all three splits are populated at n=200 (sanity on the 80/10/10 gate)
    assert {"train", "val", "test"} == set(small.values())


def test_minhash_jaccard_estimate_brackets_exact(spark, tmp_path):
    """Estimator sanity on a constructed corpus: exact duplicates
    estimate 1.0; every candidate (bucket-mate) estimates >= 0.5 by
    construction (m0/m1 equal); and a near-dup pair's estimate uses the
    m2/m3 agreement — the classic k-component MinHash estimator."""
    import pandas as pd

    from kafka_to_nexus_spark import queries as Q

    texts = {
        0: "the quick brown fox jumps over the lazy dog",
        1: "the quick brown fox jumps over the lazy dog",   # exact dup of 0
        2: "the quick brown fox jumps over the lazy cat",   # near dup
        3: "completely different content about spark plans",
    }
    d = tmp_path / "est"
    d.mkdir()
    pd.DataFrame(
        {"doc_id": list(texts), "text": list(texts.values()), "lang": "en",
         "source": "s", "n_chars": [len(t) for t in texts.values()]}
    ).to_parquet(d / "documents.parquet")
    got = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in Q.queries()["minhash_jaccard_estimate"](
            spark, str(d)
        ).collect()
    }
    assert got[(0, 1)] == 1.0
    assert all(v >= 0.5 for v in got.values())


def test_corpus_stats_spark_matches_duckdb(spark):
    """The query path derives the BM25/unigram corpus constants with a
    DISTRIBUTED Spark aggregate; the oracle builder (no Spark session)
    uses DuckDB. Both are exact BIGINT aggregates and must be
    bit-identical — the literals they embed are compared by the driver's
    hash gate."""
    from kafka_to_nexus_spark import queries as Q

    sf_dir = "/root/testdata/sf0.001"
    Q._CORPUS_STATS_CACHE.pop(sf_dir, None)
    via_spark = Q._spark_corpus_stats(spark, sf_dir)
    Q._CORPUS_STATS_CACHE.pop(sf_dir, None)
    via_duck = Q._duckdb_corpus_stats(sf_dir)
    assert via_spark == via_duck
    assert via_spark[0] > 0 and via_spark[1] > via_spark[0]


def test_lazy_oracles_sf_dir_param_and_missing_corpus_warning(tmp_path):
    """_lazy_oracles takes the tier as an explicit parameter (env is only
    the fallback), and a missing corpus emits a VISIBLE warning instead of
    silently shrinking oracle coverage."""
    import warnings

    from kafka_to_nexus_spark import queries as Q

    # explicit sf_dir wins over the env default: constants embed that tier
    got = Q._lazy_oracles("/root/testdata/sf0.001")
    n, tot = Q._duckdb_corpus_stats("/root/testdata/sf0.001")
    assert str(tot) in got["unigram_logprob_score"]
    assert str(n) in got["bm25_topk"]
    # missing corpus → {} plus a warning naming the tier
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        empty = Q._lazy_oracles(str(tmp_path / "nowhere"))
    assert empty == {}
    assert any("nowhere" in str(w.message) for w in caught)


def test_registry_query_path_never_imports_duckdb(spark, tmp_path, monkeypatch):
    """Verdict r6 gate: no registry query function may reach DuckDB — the
    driver-side corpus scan was the 100 TB scale-killer. Poison the import
    and run both corpus-constant queries end-to-end."""
    import builtins

    from kafka_to_nexus_spark import queries as Q

    real_import = builtins.__import__

    def poisoned(name, *a, **k):
        if name == "duckdb":
            raise AssertionError("registry query path imported duckdb")
        return real_import(name, *a, **k)

    monkeypatch.setattr(builtins, "__import__", poisoned)
    sf_dir = "/root/testdata/sf0.001"
    Q._CORPUS_STATS_CACHE.pop(sf_dir, None)
    assert Q.queries()["bm25_topk"](spark, sf_dir).count() > 0
    assert Q.queries()["unigram_logprob_score"](spark, sf_dir).count() > 0


def test_bm25_topk_matches_python_model(spark, tmp_path):
    """bm25_topk's full pipeline (pre-pass constants + SQL scoring) must
    reproduce a direct python BM25 on a corpus with edge shapes: empty
    doc, repeated query terms, a doc with no query terms, ties."""
    import pandas as pd

    from kafka_to_nexus_spark import queries as Q

    texts = {
        0: "join join join window",
        1: "filter vector filter",
        2: "the quick brown fox",       # no query terms
        3: "",                           # empty doc
        4: "window window window window window",
        5: "join window filter vector",
        6: "join window filter vector",  # exact tie with 5 → doc_id order
        7: "vector " * 50,               # long doc: length normalization
    }
    sf_dir = tmp_path / "corpus"
    sf_dir.mkdir()
    pd.DataFrame(
        {"doc_id": list(texts), "text": list(texts.values()),
         "lang": "en", "source": "s", "n_chars": [len(t) for t in texts.values()]}
    ).to_parquet(sf_dir / "documents.parquet")

    got = [
        (r.doc_id, r.score)
        for r in Q.queries()["bm25_topk"](spark, str(sf_dir)).collect()
    ]
    want = _py_bm25(texts, Q._BM25_TERMS, Q._BM25_K)
    assert [d for d, _ in got] == [d for d, _ in want], (got, want)
    for (gd, gs), (wd, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9, (gd, gs, ws)


def test_unigram_logprob_matches_python_model(spark, tmp_path):
    """unigram_logprob_score == -Σ tf·round6(ln(cf/total)) / n_tokens per
    doc, computed directly in python over a corpus with repeated and
    unique tokens."""
    import math

    import pandas as pd

    from kafka_to_nexus_spark import queries as Q

    texts = {
        0: "a a a b",
        1: "b c",
        2: "a unique",
        3: "c c c c c c",
    }
    sf_dir = tmp_path / "corpus"
    sf_dir.mkdir()
    pd.DataFrame(
        {"doc_id": list(texts), "text": list(texts.values()),
         "lang": "en", "source": "s", "n_chars": [len(t) for t in texts.values()]}
    ).to_parquet(sf_dir / "documents.parquet")

    toks = {d: s.split() for d, s in texts.items()}
    total = sum(len(v) for v in toks.values())
    cf: dict[str, int] = {}
    for v in toks.values():
        for t in v:
            cf[t] = cf.get(t, 0) + 1
    want = {}
    for d, v in toks.items():
        contrib = sum(
            round(tf * math.log(cf[t] / total), 6)
            for t, tf in {t: v.count(t) for t in set(v)}.items()
        )
        # exact decimal total + count, not a rounded mean (r9 backport of
        # the bigram tie-proof shape); consumers derive the mean
        want[d] = (len(v), -contrib)

    got = {
        r.doc_id: (r.n_tokens, r.nll_total)
        for r in Q.queries()["unigram_logprob_score"](spark, str(sf_dir)).collect()
    }
    assert set(got) == set(want)
    for d in want:
        assert got[d][0] == want[d][0], (d, got[d], want[d])
        assert abs(got[d][1] - want[d][1]) < 1e-9, (d, got[d], want[d])


def test_incremental_neardup_exact_dup_capproof(spark, tmp_path):
    """L66's fingerprint backstop: an arrival IDENTICAL to a standing doc
    must be rejected even when the standing doc ranks past the bucket cap
    behind low-id boilerplate neighbors whose jaccard is below τ — the
    cross-relation analog of the chain_col exact-dup guarantee. The
    boilerplate docs share band buckets (template-prefix signatures) but
    verify below τ against the arrival."""
    import pandas as pd

    from kafka_to_nexus_spark import queries as Q

    payload = ("shared template boilerplate prefix for every document "
               "THE EXACT DUPLICATE PAYLOAD UNIQUE TO THIS PAIR")
    rows = []
    # 25 low-id standing boilerplate docs (ids 1..29 skipping %10==0):
    # same template prefix, distinct filler — crowding every bucket the
    # payload doc shares, ahead of it in doc_id cap order
    i = 1
    while len(rows) < 25:
        if i % 10 != 0:
            rows.append((i, "shared template boilerplate prefix for every "
                            f"document unique filler {i} " * 2))
        i += 1
    rows.append((999, payload))      # the standing exact twin, high id
    rows.append((30, payload))       # the arrival (doc_id % 10 == 0)
    sf_dir = tmp_path / "corpus"
    sf_dir.mkdir()
    pd.DataFrame({
        "doc_id": [d for d, _ in rows],
        "text": [t for _, t in rows],
        "lang": "en", "source": "s",
        "n_chars": [len(t) for _, t in rows],
    }).to_parquet(sf_dir / "documents.parquet")

    out = {r.doc_id: (r.admitted, r.best_jaccard)
           for r in Q.queries()["incremental_neardup_merge"](
               spark, str(sf_dir)).collect()}
    assert 30 in out
    admitted, best_j = out[30]
    assert best_j == 1.0  # the exact twin was found and verified
    assert admitted is False


def test_nb_classifier_matches_python_model(spark, tmp_path):
    """L63: the in-query multinomial Naive Bayes (add-one smoothing,
    DECIMAL-summed contributions, class-ascending argmax tie-break) must
    reproduce a hand-computed NB on a corpus where the classes are
    separable — and misclassify the deliberately cross-labeled doc."""
    import math

    import pandas as pd

    from kafka_to_nexus_spark import queries as Q

    texts = {
        0: ("hello world common", "en"),
        1: ("hello there world world", "en"),
        2: ("hola mundo comun", "es"),
        3: ("hola hola mundo", "es"),
        4: ("hello world", "es"),  # es-labeled English text
    }
    sf_dir = tmp_path / "corpus"
    sf_dir.mkdir()
    pd.DataFrame({
        "doc_id": list(texts),
        "text": [t for t, _ in texts.values()],
        "lang": [l for _, l in texts.values()],
        "source": "s",
        "n_chars": [len(t) for t, _ in texts.values()],
    }).to_parquet(sf_dir / "documents.parquet")

    toks = {d: t.split() for d, (t, _) in texts.items()}
    labels = {d: l for d, (_, l) in texts.items()}
    classes = sorted(set(labels.values()))
    vocab = {w for v in toks.values() for w in v}
    cnt = {c: {} for c in classes}
    total = dict.fromkeys(classes, 0)
    ndocs = dict.fromkeys(classes, 0)
    for d, v in toks.items():
        c = labels[d]
        ndocs[c] += 1
        for w in v:
            cnt[c][w] = cnt[c].get(w, 0) + 1
            total[c] += 1
    want = {}
    for d, v in toks.items():
        best = None
        for c in classes:
            s = round(math.log(ndocs[c] / len(texts)), 6)
            for w, tf in {w: v.count(w) for w in set(v)}.items():
                s += round(
                    tf * math.log((cnt[c].get(w, 0) + 1)
                                  / (total[c] + len(vocab))), 6)
            s = round(s, 6)
            if best is None or s > best[1]:
                best = (c, s)
        want[d] = best
    got = {
        r.doc_id: (r.nb_pred, r.nb_logprob)
        for r in Q.queries()["nb_lang_classifier"](spark, str(sf_dir)).collect()
    }
    assert set(got) == set(want)
    for d in want:
        assert got[d][0] == want[d][0], (d, got[d], want[d])
        assert abs(got[d][1] - want[d][1]) < 1e-9, (d, got[d], want[d])
    # the cross-labeled doc is pulled to the class its WORDS belong to
    assert got[4][0] == "en"


def test_literal_array_helpers_match_per_element_lit(spark):
    """lit_doubles / lit_double_matrix / lit_longs (one parsed SQL
    expression, ~200x faster to build than per-element F.lit) must
    produce BIT-IDENTICAL values to the per-element form, including
    negative, tiny, huge, and shortest-repr-exponent doubles."""
    import struct

    vals = [0.0, -0.0, 1.0, -1.5, 1e-300, -2.5e17, 3.141592653589793,
            1 / 3, 6.02214076e23, -4.9e-324]
    a = spark.range(1).select(similarity.lit_doubles(vals).alias("x")).collect()[0]["x"]
    b = spark.range(1).select(
        F.array(*[F.lit(float(v)) for v in vals]).alias("x")
    ).collect()[0]["x"]
    assert [struct.pack("d", v) for v in a] == [struct.pack("d", v) for v in b]

    m = [vals[:5], vals[5:]]
    am = spark.range(1).select(similarity.lit_double_matrix(m).alias("x")).collect()[0]["x"]
    assert [[struct.pack("d", v) for v in row] for row in am] == [
        [struct.pack("d", float(v)) for v in row] for row in m
    ]

    ids = [0, -7, 2**40]
    ai = spark.range(1).select(similarity.lit_longs(ids).alias("x")).collect()[0]["x"]
    assert ai == ids

    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-finite"):
        similarity.lit_doubles([float("nan")])


def test_publish_layout_is_atomic_and_cleans_tmp(tmp_path):
    """ADVICE r9: the stored-layout publish must never rmtree a COMPLETE
    occupant (a concurrent winner at the same identity), must replace a
    broken partial, and must clean the tmp parent on every path."""
    from kafka_to_nexus_spark.queries import _publish_layout

    def _mk_build(tag):
        tmp = tmp_path / f"tmp_{tag}"
        build = tmp / "layout"
        build.mkdir(parents=True)
        (build / "_SUCCESS").write_text("")
        (build / "_model.json").write_text('{"who": "%s"}' % tag)
        return str(tmp), str(build)

    layout = str(tmp_path / "layout")
    markers = ("_SUCCESS", "_model.json")

    # 1. empty target: plain rename, tmp parent gone
    tmp, build = _mk_build("first")
    _publish_layout(tmp, build, layout, markers)
    import json
    import os

    assert json.load(open(os.path.join(layout, "_model.json")))["who"] == "first"
    assert not os.path.exists(tmp)

    # 2. complete occupant: loser keeps the winner, never deletes it
    tmp, build = _mk_build("second")
    _publish_layout(tmp, build, layout, markers)
    assert json.load(open(os.path.join(layout, "_model.json")))["who"] == "first"
    assert not os.path.exists(tmp)

    # 3. broken partial occupant (no _SUCCESS): replaced
    os.remove(os.path.join(layout, "_SUCCESS"))
    tmp, build = _mk_build("third")
    _publish_layout(tmp, build, layout, markers)
    assert json.load(open(os.path.join(layout, "_model.json")))["who"] == "third"
    assert os.path.exists(os.path.join(layout, "_SUCCESS"))
    assert not os.path.exists(tmp)


def test_compact_ivf_pq_layout_shrinks_files_keeps_codes(
    spark, embeddings, tmp_path
):
    """VERDICT r9 latent defect #1: compaction must also serve the
    list_id-partitioned IVF-PQ layout (the L64 streamed ingest
    accumulates per-batch small files and probe cost is files-opened).
    The partition key is sniffed from the layout schema; file count
    shrinks, every (vec_id, list_id, code_*) row survives exactly, and
    the stored probe over the compacted copy is still partition-pruned
    and returns identical results."""
    import os
    import pathlib
    import time as _time

    emb = embeddings.limit(200).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    coarse = similarity.kmeans_train_portable(emb, k=4, n_iter=1)
    books = similarity.pq_train_portable(emb, m=4, k=8, n_iter=1)

    src = tmp_path / "stream_in"
    src.mkdir()
    preds = (F.col("vec_id") < 70,
             (F.col("vec_id") >= 70) & (F.col("vec_id") < 140),
             F.col("vec_id") >= 140)
    for seq, pred in enumerate(preds):
        d = src / f"b{seq}"
        emb.filter(pred).coalesce(1).write.mode("overwrite").json(str(d))
        for f in d.iterdir():
            base = _time.time() - 1000
            os.utime(f, (base + seq * 10, base + seq * 10))
    streamed = str(tmp_path / "ivfpq_stream")
    stream = (spark.readStream
              .schema("vec_id long, embedding array<double>")
              .option("maxFilesPerTrigger", 1).json(str(src / "*")))
    q = similarity.stream_ivf_pq_append(
        stream, coarse, books, streamed, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def parquet_files(root):
        return list(pathlib.Path(root).rglob("*.parquet"))

    compacted = str(tmp_path / "ivfpq_compact")
    similarity.compact_ivf_layout(spark, streamed, compacted)  # sniffs list_id
    assert len(parquet_files(compacted)) < len(parquet_files(streamed))
    cols = ["vec_id", "list_id", "code_0", "code_1", "code_2", "code_3"]
    before = {tuple(r) for r in
              spark.read.parquet(streamed).select(*cols).collect()}
    after = {tuple(r) for r in
             spark.read.parquet(compacted).select(*cols).collect()}
    assert before == after and len(after) == 200

    qv = [float(x) for x in coarse[0][1]]
    p_src = similarity.ivf_pq_stored_probe(
        spark, streamed, coarse, books, qv, probes=2, topk=5).collect()
    p_cmp = similarity.ivf_pq_stored_probe(
        spark, compacted, coarse, books, qv, probes=2, topk=5).collect()
    assert [tuple(r) for r in p_cmp] == [tuple(r) for r in p_src]
    plan = (spark.read.parquet(compacted).filter(F.col("list_id") == 1)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters: [" in plan and "list_id" in plan.split(
        "PartitionFilters")[1][:120]

    # explicit-override contract: a wrong column raises, never silently
    # repartitions by a non-key
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in layout schema"):
        similarity.compact_ivf_layout(
            spark, streamed, str(tmp_path / "x"), partition_col="nope"
        )


def test_ivf_pq_rerank_monotone_and_reaches_ceiling(spark):
    """IVFADC+R (r10), the two guarantees the operator actually makes:

    1. At ANY candidate budget C, reranked recall vs exact ground truth
       is >= the plain ADC probe's recall (the rerank keeps every true
       neighbor its candidate superset contains — no non-neighbor can
       outscore one under the exact metric).
    2. Once C covers the probed lists, the reranked top-10 EQUALS exact
       max-dot search restricted to those lists (the coverage ceiling
       the recall gate measures) — the full PQ quantization loss is
       recovered.
    """
    from kafka_to_nexus_spark import queries as Q

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        Q.register_views(spark, sf, ("embeddings",))
        emb = spark.table("embeddings")

        vec = F.col("embedding").cast("array<double>")
        qv = [float(x) for x in
              emb.filter("vec_id = 0").select(vec).first()[0]]
        dot_q = F.aggregate(
            F.zip_with(vec, similarity.lit_doubles(qv), lambda x, y: x * y),
            F.lit(0.0), lambda s, x: s + x)
        exact_top = {r.vec_id for r in (
            emb.filter(F.col("vec_id") != 0)
            .select("vec_id", F.round(dot_q, 6).alias("d"))
            .orderBy(F.desc("d"), "vec_id").limit(10)
        ).collect()}

        kw = dict(coarse_k=Q._IVFPQ_COARSE_K, probes=Q._IVFPQ_PROBES,
                  m=Q._PQ_M, k=Q._PQ_K)
        adc = {r.vec_id for r in similarity.ivf_pq_topk_portable(
            emb, topk=10, **kw).collect()}
        rer50 = {r.vec_id for r in similarity.ivf_pq_rerank_topk(
            emb, candidates=50, topk=10, **kw).collect()}
        assert len(rer50 & exact_top) >= len(adc & exact_top), sf

        # ceiling: C covers the probed lists entirely
        coarse = similarity.kmeans_train_portable(
            emb, k=Q._IVFPQ_COARSE_K, n_iter=1)
        by_dot = sorted(sorted(coarse),
                        key=lambda t: (-similarity._seq_dot(qv, t[1]), t[0]))
        probed = [c for c, _ in by_dot[:Q._IVFPQ_PROBES]]
        cid = similarity.pq_code_col(vec, [coarse])[0]
        ceiling = [r.vec_id for r in (
            emb.filter(F.col("vec_id") != 0).filter(cid.isin(probed))
            .select("vec_id", F.round(dot_q, 6).alias("d"))
            .orderBy(F.desc("d"), "vec_id").limit(10).select("vec_id")
        ).collect()]
        rer_full = [r.vec_id for r in similarity.ivf_pq_rerank_topk(
            emb, candidates=1_000_000, topk=10, **kw).collect()]
        assert rer_full == ceiling, (sf, rer_full, ceiling)


# ---------------------------------------------------------------------------
# Bloom-filter membership admission (L73)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def bloom_corpus(spark):
    """400 standing + 60 arrival fingerprints; arrivals 0-19 are exact
    twins of standing keys, 20-59 are novel — randomized-looking but
    deterministic content (md5 of the index)."""
    rows = [(i, f"standing document body {i * 7919}") for i in range(400)]
    arr = [(1000 + i, f"standing document body {i * 7919}") for i in range(20)]
    arr += [(1000 + i, f"novel arrival body {i}") for i in range(20, 60)]
    standing = spark.createDataFrame(rows, ["doc_id", "text"]).select(
        "doc_id", F.md5("text").alias("_fp")
    )
    arrivals = spark.createDataFrame(arr, ["doc_id", "text"]).select(
        "doc_id", F.md5("text").alias("_fp")
    )
    return standing.cache(), arrivals.cache()


def test_bloom_no_false_negatives_and_bounded_fpr(bloom_corpus):
    """The two real guarantees: an arrival whose exact twin is standing
    can NEVER test negative (structural — all its bits are set), and the
    false-positive rate on novel arrivals stays near the sizing's design
    point (6 bits/key, k=4 → ~5.5% theory; assert a loose 4x bound so
    the test pins the mechanism, not one corpus's luck)."""
    standing, arrivals = bloom_corpus
    params, words = dedup.bloom_build(standing, "_fp", k=4, bits_per_key=6)
    out = {
        r["doc_id"]: r["bloom_positive"]
        for r in dedup.bloom_membership(
            arrivals, params, words, "_fp", "doc_id", k=4
        ).collect()
    }
    assert all(out[1000 + i] for i in range(20)), "false negative"
    novel = [out[1000 + i] for i in range(20, 60)]
    assert sum(novel) / len(novel) <= 4 * 0.055
    p = params.collect()[0]
    assert p["n_keys"] == 400 and p["m_bits"] % 63 == 0
    # every set bit lives in signed range: bit 63 never used
    assert words.filter(F.col("word_idx") * 63 + 62 >= p["m_bits"]).count() in (0, 1)


def test_bloom_layout_append_equals_rebuild(spark, bloom_corpus, tmp_path):
    """Stored-filter maintenance: append-then-read yields the SAME bitmap
    as a from-scratch build over the union (bloom union is bitwise OR),
    and compaction folds generations without changing a single word."""
    standing, arrivals = bloom_corpus
    half_a = standing.filter(F.col("doc_id") < 200)
    half_b = standing.filter(F.col("doc_id") >= 200)
    path = str(tmp_path / "bloom")
    dedup.write_bloom_layout(half_a, path, "_fp", k=4, bits_per_key=6)
    dedup.append_bloom(spark, path, half_b, "_fp")

    def words_dict(words):
        return {r["word_idx"]: r["word"] for r in words.collect()}

    _, params, words = dedup.read_bloom_layout(spark, path)
    # the reference build must reuse the STORED m_bits (appends never
    # resize), so rebuild with the same params rather than bloom_build's
    # in-plan sizing over the larger union
    m = params.collect()[0]["m_bits"]
    union_pos = (
        standing.select("_fp").distinct()
        .select(F.explode(dedup.bloom_positions(F.col("_fp"), 4, F.lit(m))).alias("pos"))
        .select(F.expr("pos div 63").alias("word_idx"),
                F.expr("shiftleft(1L, cast(pos % 63 as int))").alias("mask"))
        .groupBy("word_idx").agg(F.bit_or("mask").alias("word"))
    )
    assert words_dict(words) == words_dict(union_pos)

    import pathlib

    n_before = len(list(pathlib.Path(path, "words").rglob("*.parquet")))
    dedup.compact_bloom_layout(spark, path)
    n_after = len(list(pathlib.Path(path, "words").rglob("*.parquet")))
    assert n_after < n_before
    _, params2, words2 = dedup.read_bloom_layout(spark, path)
    assert words_dict(words2) == words_dict(words)
    assert params2.collect()[0]["m_bits"] == m

    # membership against the appended+compacted layout: no false negatives
    got = {
        r["doc_id"]: r["bloom_positive"]
        for r in dedup.bloom_membership(
            arrivals, params2, words2, "_fp", "doc_id", k=4
        ).collect()
    }
    assert all(got[1000 + i] for i in range(20))


@pytest.mark.parametrize("family", ["text", "image", "video"])
def test_banded_layout_append_equals_rebuild(spark, tmp_path, family):
    """A layout built from A and then appended B, every id in B above
    every id in A, equals a build from A ∪ B relation by relation, as
    multisets: the increment cap fills each bucket's remaining budget in
    id order, which is where the build-time cap puts B's rows."""
    from collections import Counter

    from kafka_to_nexus_spark.llm import layout as llm_layout

    H = lambda i, f: ((i * 0x9E3779B97F4A7C15 + f * 0x517CC1B7) % (1 << 62))
    if family == "text":
        fam = llm_layout.TEXT
        write, append = dedup.write_neardup_banding_layout, dedup.append_neardup_banding
        make = lambda ids: spark.createDataFrame(
            [(i, f"the quick brown fox {i % 7} jumps over dog {i % 5}")
             for i in ids], "doc_id long, text string")
    elif family == "image":
        fam = llm_layout.IMAGE
        write, append = multimodal.write_phash_layout, multimodal.append_phash_layout
        make = lambda ids: spark.createDataFrame(
            [(i, H(i % 6, 0) ^ (i % 3)) for i in ids],
            "media_id long, dhash64 long")
    else:
        fam = llm_layout.VIDEO
        write, append = (multimodal.write_video_phash_layout,
                         multimodal.append_video_phash_layout)
        make = lambda ids: spark.createDataFrame(
            [(i, f, 2, H(i % 4, f) ^ (i % 3)) for i in ids for f in range(2)],
            "media_id long, frame_idx int, n_frames int, dhash long")
    params = {"max_bucket": 3}
    grown, rebuilt = str(tmp_path / "grown"), str(tmp_path / "rebuilt")
    write(make(range(20)), grown, params=params)
    append(spark, grown, make(range(20, 40)))
    write(make(range(40)), rebuilt, params=params)

    def rows(df):
        cols = sorted(df.columns)
        return Counter(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(*cols).collect()
        )

    meta_g, *got = llm_layout.read(spark, grown, fam)
    meta_r, *want = llm_layout.read(spark, rebuilt, fam)
    assert meta_g == meta_r
    for rel, g, w in zip(fam.relations, got, want):
        assert rows(g) == rows(w), rel.name
    # the cap binds: some bucket of the rebuilt banding is full
    occ = want[0].groupBy(*fam.keys).count().agg(F.max("count")).first()[0]
    assert occ == params["max_bucket"], occ


def test_bloom_layout_records_and_enforces_hash_engine(spark, bloom_corpus, tmp_path):
    """ADVICE-r10: the stored layout must pin its position engine. An
    xxhash64-built layout records hash_engine in _meta.json, appends fold
    through the SAME engine (append ≡ rebuild under xxhash64 positions),
    probes built from the stored words with the stored engine keep the
    no-false-negative guarantee, and an append asserting the WRONG
    engine raises instead of silently mixing position families."""
    import pytest as _pytest

    standing, arrivals = bloom_corpus
    half_a = standing.filter(F.col("doc_id") < 200)
    half_b = standing.filter(F.col("doc_id") >= 200)
    path = str(tmp_path / "bloom_xx")
    dedup.write_bloom_layout(
        half_a, path, "_fp", k=4, bits_per_key=6, hash_engine="xxhash64"
    )
    meta, _, _ = dedup.read_bloom_layout(spark, path)
    assert meta["hash_engine"] == "xxhash64"

    with _pytest.raises(ValueError, match="mix position engines"):
        dedup.append_bloom(spark, path, half_b, "_fp", hash_engine="md5")

    dedup.append_bloom(spark, path, half_b, "_fp")  # engine from meta
    meta, params, words = dedup.read_bloom_layout(spark, path)
    m = params.collect()[0]["m_bits"]
    rebuilt = (
        standing.select("_fp").distinct()
        .select(F.explode(
            dedup.bloom_positions_xx(F.col("_fp"), 4, F.lit(m))
        ).alias("pos"))
        .select(F.expr("pos div 63").alias("word_idx"),
                F.expr("shiftleft(1L, cast(pos % 63 as int))").alias("mask"))
        .groupBy("word_idx").agg(F.bit_or("mask").alias("word"))
    )
    as_dict = lambda w: {r["word_idx"]: r["word"] for r in w.collect()}
    assert as_dict(words) == as_dict(rebuilt)

    # no false negatives through BOTH stored-layout probe forms when the
    # stored engine is honored
    got = {
        r["doc_id"]: r["bloom_positive"]
        for r in dedup.bloom_membership(
            arrivals, params, words, "_fp", "doc_id",
            k=meta["k"], hash_engine=meta["hash_engine"],
        ).collect()
    }
    assert all(got[1000 + i] for i in range(20))
    wrows = [(int(r["word_idx"]), int(r["word"])) for r in words.collect()]
    hit = dedup.bloom_literal_probe(
        wrows, int(m), meta["k"], hash_engine=meta["hash_engine"]
    )
    lit = {
        r["doc_id"]: r["hit"]
        for r in arrivals.select("doc_id", hit(F.col("_fp")).alias("hit")).collect()
    }
    assert lit == got

    # pre-engine layouts (written before the field existed) default md5
    import json as _json
    import os as _os

    legacy = str(tmp_path / "bloom_legacy")
    dedup.write_bloom_layout(half_a, legacy, "_fp", k=4, bits_per_key=6)
    with open(_os.path.join(legacy, "_meta.json"), "w") as f:
        _json.dump({"k": 4, "bits_per_key": 6}, f)
    meta_legacy, _, _ = dedup.read_bloom_layout(spark, legacy)
    assert meta_legacy["hash_engine"] == "md5"


def test_compact_bloom_layout_crash_recovery(spark, bloom_corpus, tmp_path):
    """ADVICE-r10: compaction publishes rename-first. Simulate both
    crash windows of the aside swap — (a) live dir moved aside but the
    staged dir not yet renamed in, (b) staged dir renamed in but the
    aside copy not yet deleted — and verify read_bloom_layout serves the
    correct bitmap in both; the stored filter is never destroyed."""
    import os
    import shutil

    standing, arrivals = bloom_corpus
    path = str(tmp_path / "bloom")
    dedup.write_bloom_layout(standing, path, "_fp", k=4, bits_per_key=6)
    _, _, words0 = dedup.read_bloom_layout(spark, path)
    as_dict = lambda w: {r["word_idx"]: r["word"] for r in w.collect()}
    want = as_dict(words0)

    # (a) crash after the aside rename: no live words dir, aside holds it
    wdst = os.path.join(path, "words")
    os.rename(wdst, wdst + ".old")
    assert not os.path.exists(wdst)
    _, _, words_a = dedup.read_bloom_layout(spark, path)
    assert as_dict(words_a) == want
    assert os.path.exists(wdst) and not os.path.exists(wdst + ".old")

    # (b) crash after the swap, stale aside copy left behind: the live
    # dir wins and the aside is dropped, not merged
    shutil.copytree(wdst, wdst + ".old")
    _, _, words_b = dedup.read_bloom_layout(spark, path)
    assert as_dict(words_b) == want
    assert not os.path.exists(wdst + ".old")

    # a full compaction still round-trips the bitmap exactly
    dedup.append_bloom(
        spark, path, standing.filter(F.col("doc_id") < 50), "_fp"
    )
    _, _, before = dedup.read_bloom_layout(spark, path)
    before_d = as_dict(before)
    dedup.compact_bloom_layout(spark, path)
    _, _, after = dedup.read_bloom_layout(spark, path)
    assert as_dict(after) == before_d == want
    assert not os.path.exists(wdst + ".old")


def test_serving_pointer_repoints_probes_atomically(spark, embeddings, tmp_path):
    """VERDICT r10 #7: compaction publishes a _current pointer the stored
    probes resolve — re-compaction + repoint is ONE call, a probe issued
    through the layout root scans the serving copy, and a reader holding
    the pre-swap copy keeps working while the pointer flips under it."""
    cents = similarity.kmeans_train(embeddings, k=4, n_iter=1)
    layout = str(tmp_path / "ivf")
    similarity.write_ivf_layout(embeddings, cents, layout)
    q = [0.5] * 64
    base = {r.vec_id for r in similarity.ivf_partitioned_probe(
        spark, layout, cents, q, k=5, n_probe=2).collect()}

    copy1 = str(tmp_path / "serve1")
    similarity.compact_ivf_layout(spark, layout, copy1)
    assert similarity.resolve_serving_copy(layout) == copy1
    through_pointer = {r.vec_id for r in similarity.ivf_partitioned_probe(
        spark, layout, cents, q, k=5, n_probe=2).collect()}
    assert through_pointer == base

    # concurrent reader: a probe df built against copy1 stays valid
    # while the pointer flips to copy2 (old files untouched)
    old_reader = similarity.ivf_partitioned_probe(
        spark, layout, cents, q, k=5, n_probe=2)
    copy2 = str(tmp_path / "serve2")
    similarity.compact_ivf_layout(spark, layout, copy2)
    assert similarity.resolve_serving_copy(layout) == copy2
    assert {r.vec_id for r in old_reader.collect()} == base
    assert {r.vec_id for r in similarity.ivf_partitioned_probe(
        spark, layout, cents, q, k=5, n_probe=2).collect()} == base
    # a layout without a pointer resolves to itself (back-compat)
    assert similarity.resolve_serving_copy(copy1) == copy1


def test_bloom_generation_rotation_forgets_deleted_keys(spark, tmp_path):
    """VERDICT r10 #6: rotation is the filter's delete/resize path. The
    old generation serves during the rebuild; post-rotation every
    RETAINED key still probes positive (structural no-FN over the new
    bitmap); DELETED keys admit again (up to ordinary FPR); sizing and
    engine carry over from the serving generation; old generations
    prune."""
    import os

    def fps(lo, hi):
        return spark.range(lo, hi).select(
            "id", F.md5(F.col("id").cast("string")).alias("_fp")
        )

    root = str(tmp_path / "bloom_gens")
    gen1 = dedup.write_bloom_generation(
        fps(0, 400), root, k=4, bits_per_key=10, hash_engine="xxhash64"
    )
    assert gen1.endswith("gen-000001")
    meta, params, words = dedup.read_bloom_layout(spark, root)
    assert meta["hash_engine"] == "xxhash64" and meta["bits_per_key"] == 10

    def verdicts(words, params, meta):
        got = dedup.bloom_membership(
            fps(0, 500), params, words, "_fp", "id",
            k=meta["k"], hash_engine=meta["hash_engine"],
        )
        return {r["id"]: r["bloom_positive"] for r in got.collect()}

    # appended keys fold into the CURRENT generation through the root
    dedup.append_bloom(spark, root, fps(400, 450), "_fp")
    _, params, words = dedup.read_bloom_layout(spark, root)
    v1 = verdicts(words, params, meta)
    standing = set(range(450))
    assert all(v1[i] for i in standing)  # no FN, incl. appended

    # rotate to retained = ids 0..300 (drop 300+); the old generation's
    # verdicts were already materialized above, and the gen dir survives
    retained = fps(0, 300)
    gen2 = dedup.rotate_bloom_layout(spark, root, retained, "_fp")
    assert gen2.endswith("gen-000002")
    assert all(v1[i] for i in standing)

    meta2, params2, words2 = dedup.read_bloom_layout(spark, root)
    assert meta2["hash_engine"] == "xxhash64"  # sizing carried over
    assert meta2["bits_per_key"] == 10
    v2 = verdicts(words2, params2, meta2)
    kept = set(range(300))
    assert all(v2[i] for i in kept), "retained key lost by rotation"
    deleted = standing - kept
    readmitted = [f for f in deleted if not v2[f]]
    assert len(readmitted) > 0.8 * len(deleted), (
        "deleted keys should admit again (FPR-bounded)",
        len(readmitted), len(deleted),
    )

    # m_bits re-derived from the retained count (the resize path)
    m1 = params.collect()[0]["m_bits"]
    m2 = params2.collect()[0]["m_bits"]
    assert m2 < m1

    # generation pruning: rotate again with keep_generations=1 →
    # gen-000001 is pruned, gen-000002 + gen-000003 remain
    dedup.rotate_bloom_layout(spark, root, fps(0, 200), "_fp")
    gens = sorted(n for n in os.listdir(root) if n.startswith("gen-"))
    assert gens == ["gen-000002", "gen-000003"]
    assert dedup.resolve_bloom_generation(root).endswith("gen-000003")


def test_count_bloom_hits_probe_forms_agree_at_boundary(spark, monkeypatch):
    """ADVICE/verdict r10: the Bloom probe FORM is auto-selected by
    stored word count — literal codegen map under the cap, broadcast
    word-join above it — and the two regimes are the SAME relation:
    pinned on a corpus with empty gram arrays, repeated grams, both hash
    engines, and a passthrough column; then at the query level, the full
    bloom_decontamination output is identical with the cap forced to 0
    (join regime) vs the default (literal regime)."""
    from kafka_to_nexus_spark import queries as Q

    docs = spark.createDataFrame(
        [
            (i, i * 10, [f"g{i % 7}", "shared", f"g{i}"] if i % 5 else [])
            for i in range(30)
        ],
        "doc_id long, n_grams long, sh array<string>",
    )
    bench = spark.createDataFrame([("shared",), ("g1",), ("g2",)], ["g"])
    for engine in ("md5", "xxhash64"):
        params, words = dedup.bloom_build(
            bench, "g", k=4, bits_per_key=8, hash_engine=engine
        )
        m = int(params.collect()[0]["m_bits"])
        out = {}
        for cap in (10**6, 0):  # literal regime, join regime
            got = dedup.count_bloom_hits(
                docs, words, m, 4, hash_engine=engine, literal_word_cap=cap
            )
            assert set(got.columns) == {"doc_id", "n_grams", "n_bloom_hits"}
            out[cap] = {
                r.doc_id: (r.n_grams, r.n_bloom_hits) for r in got.collect()
            }
        assert out[10**6] == out[0], engine
        assert len(out[0]) == 30  # empty-gram rows survive with 0 hits
        assert all(h == 0 for g, h in [out[0][i] for i in range(0, 30, 5)])
        # no false negatives: 'shared' is standing, so every non-empty
        # row counts at least one hit in BOTH regimes
        assert all(
            out[0][i][1] >= 1 for i in range(30) if i % 5
        ), engine
        # ADVICE r11: a precomputed n_words (e.g. from layout params)
        # skips the chooser action entirely — same relation either way,
        # in whichever regime the hint lands the call
        for hint, cap in ((1, 10**6), (10**6, 10**6)):
            got = dedup.count_bloom_hits(
                docs, words, m, 4, hash_engine=engine,
                literal_word_cap=cap, n_words=hint,
            )
            assert {
                r.doc_id: (r.n_grams, r.n_bloom_hits) for r in got.collect()
            } == out[0], (engine, hint)

    sf = "/root/testdata/sf0.001"
    base = {tuple(r) for r in
            Q.queries()["bloom_decontamination"](spark, sf).collect()}
    monkeypatch.setattr(Q, "_DECON_LITERAL_WORD_CAP", 0)
    forced = {tuple(r) for r in
              Q.queries()["bloom_decontamination"](spark, sf).collect()}
    assert forced == base


def test_kneser_ney_matches_python_model(spark, tmp_path):
    """kneser_ney_bigram_score == -Σ tf·round6(ln P_KN) with P_KN the
    interpolated KN bigram (D=0.75, continuation distribution from
    bigram TYPES), computed directly in python over a corpus built to
    exercise the continuation correction: 'francisco' appears often but
    only ever after 'san', so its continuation count (1 context) is far
    below its raw frequency — the quantity the discounted mass must
    weight by."""
    import math
    from collections import Counter

    import pandas as pd

    from kafka_to_nexus_spark import queries as Q

    texts = {
        0: "san francisco san francisco san francisco",
        1: "new york and old york",
        2: "san jose and new jersey",
        3: "francisco york jose",
    }
    sf_dir = tmp_path / "corpus"
    sf_dir.mkdir()
    pd.DataFrame(
        {"doc_id": list(texts), "text": list(texts.values()),
         "lang": "en", "source": "s", "n_chars": [len(t) for t in texts.values()]}
    ).to_parquet(sf_dir / "documents.parquet")

    D = 0.75
    bg: Counter = Counter()
    per_doc: dict[int, Counter] = {}
    for d, s in texts.items():
        ws = s.split()
        c = Counter(zip(ws, ws[1:]))
        per_doc[d] = c
        bg.update(c)
    cw: Counter = Counter()
    n1f: Counter = Counter()
    n1p: Counter = Counter()
    for (w1, w2), n in bg.items():
        cw[w1] += n
        n1f[w1] += 1
        n1p[w2] += 1
    nbt = len(bg)

    def p_kn(w1, w2):
        return (max(bg[(w1, w2)] - D, 0) / cw[w1]
                + D * n1f[w1] / cw[w1] * n1p[w2] / nbt)

    want = {}
    for d, c in per_doc.items():
        total = sum(
            round(tf * math.log(p_kn(*pair)), 6) for pair, tf in c.items()
        )
        want[d] = (sum(c.values()), -total)

    got = {
        r.doc_id: (r.n_bigrams, r.nll_total)
        for r in Q.queries()["kneser_ney_bigram_score"](
            spark, str(sf_dir)
        ).collect()
    }
    assert set(got) == set(want)
    for d in want:
        assert got[d][0] == want[d][0], (d, got[d], want[d])
        assert abs(got[d][1] - want[d][1]) < 1e-9, (d, got[d], want[d])
    # the correction itself: 'francisco' is frequent (raw cf 4) but
    # completes only ONE context, so P_cont is the type ratio, not the
    # frequency ratio
    assert n1p["francisco"] == 1


def test_weighted_sample_ars_is_proportional_and_deterministic(spark, tmp_path):
    """A-Res weighted sampling: (a) deterministic — identical output on
    re-run; (b) inclusion frequency tracks weight — across 30 salted
    re-draws of k=20 from 200 docs whose weights span 1..200, the
    top-weight decile must be sampled far more often than the bottom
    decile (expected inclusion ~k·w/Σw up to without-replacement
    adjustment)."""
    import pandas as pd

    from kafka_to_nexus_spark import queries as Q
    from kafka_to_nexus_spark.queries import _weighted_sample_sql

    sf_dir = tmp_path / "corpus"
    sf_dir.mkdir()
    n = 200
    pd.DataFrame(
        {"doc_id": range(n), "text": ["x" * (i + 1) for i in range(n)],
         "lang": "en", "source": "s", "n_chars": [i + 1 for i in range(n)]}
    ).to_parquet(sf_dir / "documents.parquet")

    a = Q.queries()["weighted_sample_ars"](spark, str(sf_dir)).collect()
    b = Q.queries()["weighted_sample_ars"](spark, str(sf_dir)).collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]

    Q.register_views(spark, str(sf_dir), ("documents",))
    counts = {d: 0 for d in range(n)}
    for salt in range(30):
        rows = spark.sql(
            _weighted_sample_sql("spark", salt=str(salt), k=20)
        ).collect()
        assert len(rows) == 20
        for r in rows:
            counts[r.doc_id] += 1
    top = sum(counts[d] for d in range(180, 200)) / 20
    bottom = sum(counts[d] for d in range(20)) / 20
    # top decile weights ~190/avg-100 → ~2x the mean rate; bottom ~0.1x.
    # With 30 draws the separation is enormous; 5x is a loose floor.
    assert top > 5 * max(bottom, 1e-9), (top, bottom)


def test_zipf_slope_matches_python_model(spark, tmp_path):
    """zipf_slope == least squares of round6(ln cf) on round6(ln rank)
    computed directly in python, on a corpus whose frequencies actually
    follow a power law — and the fitted slope lands near the law's
    exponent (the diagnostic's point: natural text ≈ -1; the synthetic
    fixture's template vocabulary reads ≈ -0.2)."""
    import math
    from collections import Counter

    import pandas as pd

    from kafka_to_nexus_spark import queries as Q

    # 12 terms with freq ~ floor(60 / rank): a discrete zipf corpus
    words = []
    for rank in range(1, 13):
        words += [f"w{rank:02d}"] * (60 // rank)
    text = " ".join(words)
    sf_dir = tmp_path / "corpus"
    sf_dir.mkdir()
    pd.DataFrame(
        {"doc_id": [0], "text": [text], "lang": ["en"], "source": ["s"],
         "n_chars": [len(text)]}
    ).to_parquet(sf_dir / "documents.parquet")

    cf = Counter(words)
    ranked = sorted(cf.items(), key=lambda kv: (-kv[1], kv[0]))
    pts = [
        (round(math.log(r), 6), round(math.log(c), 6))
        for r, (_, c) in enumerate(ranked, start=1)
    ]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(round(x * y, 6) for x, y in pts)
    sxx = sum(round(x * x, 6) for x, _ in pts)
    want = round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)

    rows = Q.queries()["zipf_slope"](spark, str(sf_dir)).collect()
    assert len(rows) == 1 and rows[0].n_types == 12
    assert abs(rows[0].zipf_slope - want) < 1e-6, (rows[0].zipf_slope, want)
    assert -1.15 < want < -0.85, want  # the power law is recovered


def test_js_source_drift_bounds_and_zero(spark, tmp_path):
    """JS divergence: a source with the corpus's own distribution scores
    ~0; a source with a DISJOINT vocabulary scores near the ln 2 ceiling
    — and never above it (the boundedness that makes JS a monitorable
    number where KL diverges)."""
    import math

    import pandas as pd

    from kafka_to_nexus_spark import queries as Q

    sf_dir = tmp_path / "corpus"
    sf_dir.mkdir()
    # two balanced same-distribution sources + one disjoint-vocab source
    rows = []
    for i in range(20):
        rows.append((i, "alpha beta gamma delta", "en", "same_a", 22))
        rows.append((100 + i, "alpha beta gamma delta", "en", "same_b", 22))
        rows.append((200 + i, "zeta eta theta iota", "en", "drifted", 19))
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(sf_dir / "documents.parquet")

    got = {
        r.source: r.js_nats
        for r in Q.queries()["js_source_drift"](spark, str(sf_dir)).collect()
    }
    ln2 = math.log(2)
    assert all(0 <= v <= ln2 + 1e-9 for v in got.values()), got
    # the same-distribution sources are NOT at zero: each is 1/3 of a
    # corpus whose other 2/3 includes the drifted vocab — but they must
    # sit far below the disjoint source
    assert got["drifted"] > 2 * got["same_a"], got
    assert abs(got["same_a"] - got["same_b"]) < 1e-9, got
    # fully disjoint vocabulary: strong drift — but the source is 1/3 of
    # the corpus, so the mixture m sits close to it and the divergence
    # lands well below the ceiling (measured 0.318 nats); pin a floor
    # that a non-disjoint source could not reach at this mixture weight
    assert got["drifted"] > 0.4 * ln2, got


def test_bloom_xxhash_engine_guarantees(bloom_corpus):
    """The production (xxhash64) position engine holds the same two
    guarantees as the md5 oracle twin on the same corpus: zero false
    negatives on exact-twin arrivals, FPR within the sizing's band."""
    standing, arrivals = bloom_corpus
    params, words = dedup.bloom_build(
        standing, "_fp", k=4, bits_per_key=6, hash_engine="xxhash64"
    )
    out = {
        r["doc_id"]: r["bloom_positive"]
        for r in dedup.bloom_membership(
            arrivals, params, words, "_fp", "doc_id", k=4,
            hash_engine="xxhash64",
        ).collect()
    }
    assert all(out[1000 + i] for i in range(20)), "false negative (xx)"
    novel = [out[1000 + i] for i in range(20, 60)]
    assert sum(novel) / len(novel) <= 4 * 0.055


def test_wav_samples_roundtrip_all_depths():
    """encode_wav → parse_wav_samples is bit-exact at every supported
    depth and channel count — PCM is uncompressed, so unlike JPEG the
    round-trip has NO error budget at all."""
    vals16 = [0, 1, -1, 32767, -32768, 12345, -20000, 7, 100, -100]
    for bits, vals in (
        (8, [0, 1, -1, 127, -128, 55, -77, 3, 9, -9]),
        (16, vals16),
        (24, [0, 1, -1, (1 << 23) - 1, -(1 << 23), 777777, -123456, 5, 6, 7]),
        (32, [0, 1, -1, (1 << 31) - 1, -(1 << 31), 10**9, -10**9, 8, 9, -2]),
    ):
        for channels in (1, 2):
            got = multimodal.parse_wav_samples(
                multimodal.encode_wav(vals, channels, 8000, bits)
            )
            assert got == (channels, 8000, bits, vals), (bits, channels)


def test_wav_samples_totality_and_guards():
    """TOTAL over garbage: non-PCM format tags, unsupported depths,
    data-chunk overrun/misalignment, and the declared-size allocation
    bomb all yield None — never an exception, never a buffer."""
    p = multimodal.parse_wav_samples
    good = multimodal.encode_wav([1, -2, 3, -4], 2, 8000, 16)
    assert p(good) == (2, 8000, 16, [1, -2, 3, -4])
    for bad in (None, b"", b"RIFF", b"RIFFxxxxNOPE", good[:20]):
        assert p(bad) is None
    # format tag 3 (IEEE float) rejects — integer PCM only
    i = good.index(b"fmt ") + 8
    assert p(good[:i] + (3).to_bytes(2, "little") + good[i + 2:]) is None
    # declared data size overruns the buffer
    j = good.index(b"data") + 4
    assert p(good[:j] + (10**6).to_bytes(4, "little") + good[j + 4:]) is None
    # misaligned data size (7 bytes is not whole int16 stereo frames)
    assert p(good[:j] + (7).to_bytes(4, "little") + good[j + 4:]) is None
    # allocation bomb: size that would decode past max_samples
    assert p(good, max_samples=2) is None
    # 12-bit depth (not byte-decodable PCM scope)
    k = good.index(b"fmt ") + 22
    assert p(good[:k] + (12).to_bytes(2, "little") + good[k + 2:]) is None


def test_wav_features_over_spark(spark):
    """The mapInPandas plumbing: mixed good/garbage payloads → typed
    telemetry columns with nulls on the garbage rows; checksum is the
    position-weighted sum over the INTERLEAVED stream (channel order is
    load-bearing — swapping L/R flips it)."""
    lr = [100, -200, 300, -400]          # L,R,L,R
    rl = [-200, 100, -400, 300]          # channels swapped
    rows = [
        (1, multimodal.encode_wav(lr, 2, 8000, 16)),
        (2, multimodal.encode_wav(rl, 2, 8000, 16)),
        (3, b"not a wav"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r for r in multimodal.wav_features(df).collect()}
    assert (got[1].channels, got[1].sample_rate, got[1].n_frames) == (2, 8000, 2)
    assert got[1].peak == 400 and got[1].sum_val == -200
    assert got[1].checksum == sum(v * (j + 1) for j, v in enumerate(lr))
    assert got[2].checksum == sum(v * (j + 1) for j, v in enumerate(rl))
    assert got[1].checksum != got[2].checksum
    assert got[3].channels is None and got[4].peak is None


def test_phash_cross_container_png_jpeg(spark):
    """The perceptual family is container-agnostic (r12): a flat-block
    image encoded as PNG and as JPEG (exact-DC quant table → lossless
    for flat blocks) produces IDENTICAL luminance and therefore
    IDENTICAL aHash/dHash — a JPEG logo and its PNG re-export land in
    the same near-dup band buckets. A perturbed JPEG variant stays
    within the near-dup radius of both."""
    img = [[((x // 8) * 90 + (y // 8) * 60 + 40) % 256 for x in range(16)]
           for y in range(16)]
    bump = [row[:] for row in img]
    bump[3][5] = (bump[3][5] + 1) % 256
    rows = [
        (1, multimodal.encode_png(img, color_type=0)),
        (2, multimodal.encode_jpeg(img)),
        (3, multimodal.encode_jpeg(bump)),
        (4, b"neither container"),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r for r in multimodal.image_phash(df).collect()}
    assert (got[1].ahash64, got[1].dhash64) == (got[2].ahash64, got[2].dhash64)
    assert (got[1].width, got[1].height) == (16, 16) == (got[2].width, got[2].height)
    assert got[4].ahash64 is None
    ham = bin((got[2].dhash64 or 0) ^ (got[3].dhash64 or 0)).count("1")
    assert ham <= 3, ham
    pairs = multimodal.phash_near_dup(
        multimodal.image_phash(df).filter("dhash64 is not null"))
    got_pairs = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got_pairs  # png twin joins its jpeg re-export


def test_audio_fingerprint_gradient_properties(spark):
    """L90: the fingerprint is the envelope SHAPE — (a) volume scaling
    (×4, no clipping) preserves every gradient bit; (b) a +1-halfword
    bump in one window flips at most the two adjacent bits (the
    near-dup construction); (c) clips shorter than the window count and
    undecodable payloads yield null."""
    import random

    rng = random.Random(7)
    base = [rng.randrange(-6000, 6000) for _ in range(256)]
    loud = [s * 4 for s in base]
    bump = base[:]
    bump[130] += 1  # frame 130 → window 32 only
    rows = [
        (1, multimodal.encode_wav(base)),
        (2, multimodal.encode_wav(loud)),
        (3, multimodal.encode_wav(bump)),
        (4, multimodal.encode_wav([1, -1] * 10)),   # 20 frames < 64 windows
        (5, b"not audio"),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r for r in multimodal.audio_fingerprint(df).collect()}
    assert got[1].fp63 == got[2].fp63            # volume-invariant
    assert got[1].n_frames == 256
    ham = bin(got[1].fp63 ^ got[3].fp63).count("1")
    assert ham <= 2, ham                          # near-dup by construction
    assert got[4].fp63 is None and got[4].n_frames == 20
    assert got[5].fp63 is None and got[5].n_frames is None
    # the banded join finds the constructed pairs, not the short/garbage
    pairs = multimodal.phash_near_dup(
        multimodal.audio_fingerprint(df).filter("fp63 is not null"),
        hash_col="fp63",
    )
    got_pairs = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got_pairs and (1, 3) in got_pairs


def test_resize_image_block_means_and_totality():
    """L18's pixel leg: 16x16 -> 4x4 is exactly per-channel 4x4 block
    means with floor division; upscale repeats pixels; JPEG input
    resizes through the same path; garbage and bad targets are None."""
    img = [[(x * 16 + y * 3) % 256 for x in range(16)] for y in range(16)]
    png = multimodal.encode_png(img, color_type=0)
    out = multimodal.parse_png_pixels(multimodal.resize_image(png, 4, 4))
    assert out is not None and (out[0], out[1]) == (4, 4)
    for cy in range(4):
        for cx in range(4):
            want = sum(img[cy*4+dy][cx*4+dx]
                       for dy in range(4) for dx in range(4)) // 16
            assert out[2][cy][cx] == (want, want, want), (cy, cx)
    # upscale 2x2 -> 4x4 repeats each source pixel into a 2x2 block
    small = multimodal.encode_png([[10, 20], [30, 40]], color_type=0)
    up = multimodal.parse_png_pixels(multimodal.resize_image(small, 4, 4))
    assert up[2][0][0] == up[2][1][1] == (10, 10, 10)
    assert up[2][2][2] == up[2][3][3] == (40, 40, 40)
    # JPEG in, PNG out: flat blocks are lossless so the mean is exact
    flat = [[7 if (x // 8 + y // 8) % 2 == 0 else 200
             for x in range(16)] for y in range(16)]
    via_jpeg = multimodal.parse_png_pixels(
        multimodal.resize_image(multimodal.encode_jpeg(flat), 8, 8))
    assert via_jpeg[2][0][0] == (7, 7, 7)      # block (0,0): even -> 7
    assert via_jpeg[2][7][0] == (200, 200, 200)  # block (1,0): odd -> 200
    # totality
    assert multimodal.resize_image(b"garbage", 4, 4) is None
    assert multimodal.resize_image(None, 4, 4) is None
    assert multimodal.resize_image(png, 0, 4) is None


def test_phash_stored_layout_admission_and_fold(spark, tmp_path):
    """L91: the stored image-fingerprint layout — admission against
    standing state, cap-aware fold-back, and cross-batch rejection
    through the fold (the write_neardup_banding_layout contract for the
    image family)."""
    layout = str(tmp_path / "phash_layout")
    standing = spark.createDataFrame(
        [(i, (i * 0x9E3779B97F4A7C15) % (1 << 62)) for i in range(50)],
        "media_id long, dhash64 long",
    )
    multimodal.write_phash_layout(standing, layout)
    rows = standing.collect()
    arrivals = spark.createDataFrame(
        [(100, rows[7].dhash64 ^ (1 << 5)),     # 1-bit twin: reject
         (101, rows[7].dhash64 ^ 0xF0F0F0F0),   # far: admit
         (102, 0x123456789ABCDEF)],             # novel: admit
        "media_id long, dhash64 long",
    )
    got = {r.media_id: r for r in multimodal.phash_admission(
        spark, layout, arrivals).collect()}
    assert not got[100].admitted and got[100].best_hamming == 1
    assert got[101].admitted and got[102].admitted

    # fold the admitted images; their later copies are rejected
    admitted = arrivals.join(
        spark.createDataFrame([(101,), (102,)], "media_id long"), "media_id")
    multimodal.append_phash_layout(spark, layout, admitted)
    copies = spark.createDataFrame(
        [(200, 0x123456789ABCDEF),               # exact copy of folded 102
         (201, (0x123456789ABCDEF) ^ (1 << 40))],  # near-dup of folded
        "media_id long, dhash64 long",
    )
    got2 = {r.media_id: r for r in multimodal.phash_admission(
        spark, layout, copies).collect()}
    assert not got2[200].admitted and got2[200].best_hamming == 0
    assert not got2[201].admitted and got2[201].best_hamming == 1


def test_phash_layout_cap_holds_across_appends(spark, tmp_path):
    """A flat-image flood folded in batches can never push a bucket past
    max_bucket: occupancy-aware appends fill only the remaining budget
    (the append_neardup_banding discipline)."""
    from pyspark.sql import functions as F

    layout = str(tmp_path / "flood_layout")
    multimodal.write_phash_layout(
        spark.createDataFrame([(i, 0) for i in range(10)],
                              "media_id long, dhash64 long"),
        layout, params={"max_bucket": 12},
    )
    for wave in range(3):  # 3 waves of 10 identical hashes
        multimodal.append_phash_layout(
            spark, layout,
            spark.createDataFrame(
                [(100 + wave * 10 + i, 0) for i in range(10)],
                "media_id long, dhash64 long"),
        )
    from kafka_to_nexus_spark.llm import layout as llm_layout

    _p, stored = llm_layout.read(spark, layout, llm_layout.IMAGE)
    occ = stored.groupBy("band_idx", "band_val").count().agg(
        F.max("count")).first()[0]
    assert occ <= 12, occ
    # and a probe of the flooded hash still rejects (bucket kept matches)
    got = multimodal.phash_admission(
        spark, layout,
        spark.createDataFrame([(999, 0)], "media_id long, dhash64 long"),
    ).collect()[0]
    assert not got.admitted and got.best_hamming == 0


# --- L92: MJPEG-in-AVI video frame decode -----------------------------------


def _avi_fixture(n_frames=3, w=16, h=16, fps=10, levels=None):
    frames = []
    for f in range(n_frames):
        rows = [[(levels or (lambda ff, y, x: (37 * ff + 11 * (y // 8)
                                               + 23 * (x // 8) + 40) % 256))
                 (f, y, x) for x in range(w)] for y in range(h)]
        frames.append(multimodal.encode_jpeg(rows))
    return multimodal.encode_avi(frames, w, h, fps=fps), frames


def test_avi_roundtrip_exact():
    """Flat-block MJPEG frames round-trip bit-exactly through
    encode_avi -> parse_avi_frames, in frame order."""
    avi, _ = _avi_fixture(n_frames=3)
    got = multimodal.parse_avi_frames(avi)
    assert got is not None
    w, h, frames = got
    assert (w, h, len(frames)) == (16, 16, 3)
    for f, px in enumerate(frames):
        for y in range(16):
            for x in range(16):
                v = (37 * f + 11 * (y // 8) + 23 * (x // 8) + 40) % 256
                assert px[y][x] == (v, v, v)


def test_avi_meta_and_zero_frames():
    avi, _ = _avi_fixture(n_frames=4, fps=25)
    assert multimodal.parse_avi_meta(avi) == (4, 16, 16, 160)
    empty = multimodal.encode_avi([], 16, 16, fps=25)
    assert multimodal.parse_avi_meta(empty) == (0, 16, 16, 0)
    assert multimodal.parse_avi_frames(empty) == (16, 16, [])


def test_avi_truncation_sweep_is_total():
    """Every prefix of a valid AVI decodes to None or the full result —
    never raises, never a partial frame list (the declared-size guard)."""
    avi, _ = _avi_fixture(n_frames=2)
    full = multimodal.parse_avi_frames(avi)
    for cut in range(len(avi)):
        got = multimodal.parse_avi_frames(avi[:cut])
        assert got is None or got == full


def test_avi_integrity_cross_checks():
    """Header/content contradictions are rejected, not papered over:
    a dwTotalFrames lie, an avih dimension mismatch, a non-MJPG
    handler, a 'rec ' grouping list, and a frame the JPEG codec
    rejects each cost a None."""
    avi, frames = _avi_fixture(n_frames=2)
    # dwTotalFrames lives 16 bytes into the avih chunk body
    k = avi.index(b"avih") + 8 + 16
    lied = avi[:k] + (9).to_bytes(4, "little") + avi[k + 4:]
    assert multimodal.parse_avi_frames(lied) is None
    k = avi.index(b"avih") + 8 + 32  # dwWidth
    wrong_dim = avi[:k] + (99).to_bytes(4, "little") + avi[k + 4:]
    assert multimodal.parse_avi_frames(wrong_dim) is None
    swapped = avi.replace(b"MJPG", b"H264")
    assert multimodal.parse_avi_frames(swapped) is None
    k = avi.index(b"00dc")
    poisoned = avi[:k + 8] + b"\x00" * 4 + avi[k + 12:]
    assert multimodal.parse_avi_frames(poisoned) is None
    # splice a LIST where the first frame chunk id sits: rec-grouping scope
    rec = avi[:k] + b"LIST" + avi[k + 4:]
    assert multimodal.parse_avi_frames(rec) is None


def test_avi_frame_bomb_guard():
    avi, _ = _avi_fixture(n_frames=5)
    assert multimodal.parse_avi_frames(avi, max_frames=4) is None
    assert multimodal.parse_avi_frames(avi, max_frames=5) is not None
    # max_pixels bounds each frame's decode allocation
    assert multimodal.parse_avi_frames(avi, max_pixels=16) is None


def test_avi_mixed_frame_dims_rejected():
    a = multimodal.encode_jpeg([[100] * 16 for _ in range(16)])
    b = multimodal.encode_jpeg([[100] * 8 for _ in range(8)])
    avi = multimodal.encode_avi([a, b], 16, 16)
    assert multimodal.parse_avi_frames(avi) is None


def test_video_frames_op_rows_and_null_contract(spark):
    """video_frames: one row per decoded frame with luminance telemetry
    and the 8x8-grid perceptual hashes, matching the integer twins; an
    unparseable payload yields ONE null-frame row (rows don't vanish)."""
    avi, _ = _avi_fixture(n_frames=2)
    df = spark.createDataFrame(
        [(1, bytearray(avi)), (2, bytearray(b"not an avi"))],
        "media_id long, payload binary",
    )
    rows = {(r.media_id, r.frame_idx): r
            for r in multimodal.video_frames(df).collect()}
    assert set(rows) == {(1, 0), (1, 1), (2, None)}
    got = multimodal.parse_avi_frames(avi)
    for f in range(2):
        grid = multimodal.luminance_grid(got[2][f])
        cells = multimodal.box_downsample(grid)
        r = rows[(1, f)]
        assert (r.n_frames, r.width, r.height) == (2, 16, 16)
        assert r.lum_sum == sum(v for row in grid for v in row)
        assert r.ahash == multimodal.ahash64(cells)
        assert r.dhash == multimodal.dhash64(cells)
    r = rows[(2, None)]
    assert r.n_frames is None and r.lum_sum is None and r.ahash is None


def test_decode_media_dispatch_all_kinds():
    """decode_media routes every stored media kind through the engine's
    real codecs and honors the unsupported-kind null contract."""
    png = multimodal.encode_png([[(200, 10, 10)] * 4 for _ in range(4)])
    jpg = multimodal.encode_jpeg([[128] * 16 for _ in range(16)])
    wav = multimodal.encode_wav([0, 1000, -1000, 32767], channels=1)
    avi, _ = _avi_fixture(n_frames=2)
    for payload in (png, jpg, wav, avi):
        feat = multimodal.decode_media(payload, dim=8)
        assert feat is not None and len(feat) == 8
        assert abs(sum(feat) - 1.0) < 1e-4
    assert multimodal.decode_media(b"", dim=8) is None
    assert multimodal.decode_media(b"\x00" * 100, dim=8) is None
    assert multimodal.decode_media(None, dim=8) is None
    # a JPEG histogram of an all-128 image lands entirely in bucket 4
    feat = multimodal.decode_media(jpg, dim=8)
    assert feat[128 * 8 // 256] == 1.0


def test_extract_features_with_real_decoder(spark):
    """The production path: extract_features(decoder=decode_media)
    yields real-codec features and null features for unknown kinds —
    the stub fast path stays bit-pinned by its own oracle twin."""
    png = multimodal.encode_png([[(0, 0, 0)] * 4 for _ in range(4)])
    df = spark.createDataFrame(
        [(1, "image", bytearray(png)), (2, "text", bytearray(b"hello"))],
        "media_id long, kind string, payload binary",
    )
    out = {r.media_id: r for r in multimodal.extract_features(
        df, dim=4, decoder=multimodal.decode_media).collect()}
    assert out[1].feature[0] == 1.0  # all-black image: bucket 0
    assert out[2].feature is None


def test_video_near_dup_constructed_pairs_and_vote(spark):
    """video_near_dup (L93): constructed frame-aligned near-dups are
    found with the right vote; a video whose frames all differ is not
    paired; null-frame rows drop out."""
    rows = []
    # video 1 and 2: identical 2-frame videos -> 2/2 matched
    for vid in (1, 2):
        rows += [(vid, 0, 2, -4321, 100), (vid, 1, 2, -4321, 777)]
    # video 3: matches 1/2 on frame 0 only -> 1 of min(2,2) -> matched
    # (>= half); frame 1 differs in every band
    rows += [(3, 0, 2, -4321, 100), (3, 1, 2, -4321, ~777)]
    # video 4: single frame, far from everything
    rows += [(4, 0, 1, -4321, 0x5A5A5A5A5A5A5A5A)]
    # video 5: unparseable payload -> null frame row
    rows += [(5, None, None, None, None)]
    df = spark.createDataFrame(
        rows,
        "media_id long, frame_idx int, n_frames int, ahash long, dhash long",
    )
    got = {(r.id_a, r.id_b): (r.n_matched, r.n_frames_min, r.matched)
           for r in multimodal.video_near_dup(df, hash_col="dhash").collect()}
    assert got[(1, 2)] == (2, 2, True)
    assert got[(1, 3)] == (1, 2, True)
    assert got[(2, 3)] == (1, 2, True)
    assert not any(4 in k or 5 in k for k in got)


def test_video_near_dup_hamming_and_fraction_rules(spark):
    """Per-frame pigeonhole: <= max_hamming flips anywhere still pairs
    (band agreement survives), > max_hamming on a candidate frame does
    not count toward the vote; the vote threshold is configurable."""
    base = 0x0123456789ABCDEF
    flip2 = base ^ 0b11          # 2 flips, same 3 other bands
    flip5 = base ^ 0x1F          # 5 flips in band 0 -> verify rejects,
                                 # but other bands still make it a
                                 # candidate; hamming 5 > 3 -> no match
    rows = [
        (1, 0, 3, 0, base), (1, 1, 3, 0, base), (1, 2, 3, 0, base),
        (2, 0, 3, 0, flip2), (2, 1, 3, 0, flip5), (2, 2, 3, 0, base),
    ]
    df = spark.createDataFrame(
        rows,
        "media_id long, frame_idx int, n_frames int, ahash long, dhash long",
    )
    got = {(r.id_a, r.id_b): (r.n_matched, r.matched)
           for r in multimodal.video_near_dup(df, hash_col="dhash").collect()}
    assert got[(1, 2)] == (2, True)  # frames 0 and 2 verify, frame 1 fails
    strict = {(r.id_a, r.id_b): r.matched
              for r in multimodal.video_near_dup(
                  df, hash_col="dhash",
                  min_match_num=1, min_match_den=1).collect()}
    assert strict[(1, 2)] is False  # 2 of 3 < min-frames-all threshold


def test_video_near_dup_cap_bounds_flood(spark):
    """A flood of identical-hash single-frame videos is bounded by the
    occupancy cap: pair count stays at C(max_bucket, 2), not C(n, 2)."""
    n = 300
    rows = [(i, 0, 1, 0, 0) for i in range(n)]
    df = spark.createDataFrame(
        rows,
        "media_id long, frame_idx int, n_frames int, ahash long, dhash long",
    )
    out = multimodal.video_near_dup(df, hash_col="dhash", max_bucket=20)
    assert out.count() == 20 * 19 // 2
    full = multimodal.video_near_dup(df, hash_col="dhash", max_bucket=None)
    assert full.count() == n * (n - 1) // 2


def test_video_near_dup_frame_alignment(spark):
    """The band key includes frame_idx: the same fingerprint at
    DIFFERENT frame positions never becomes a candidate."""
    rows = [(1, 0, 1, 0, 42), (2, 1, 2, 0, 42), (2, 0, 2, 0, ~42)]
    df = spark.createDataFrame(
        rows,
        "media_id long, frame_idx int, n_frames int, ahash long, dhash long",
    )
    assert multimodal.video_near_dup(df, hash_col="dhash").count() == 0


def test_video_phash_stored_layout_admission_and_fold(spark, tmp_path):
    """L94: the stored video-fingerprint layout — vote-based admission
    against standing state, cap-aware fold-back, cross-batch rejection
    through the fold (the L91 contract with the frame vote on top)."""
    layout = str(tmp_path / "video_layout")
    H = lambda i, f: ((i * 0x9E3779B97F4A7C15 + f * 0x517CC1B7) % (1 << 62))
    standing = spark.createDataFrame(
        [(i, f, 3, H(i, f)) for i in range(30) for f in range(3)],
        "media_id long, frame_idx int, n_frames int, dhash long",
    )
    multimodal.write_video_phash_layout(standing, layout)
    arrivals = spark.createDataFrame(
        # twin of video 7 with frame 0 flipped 1 bit: 3/3 frames verify
        [(100, 0, 3, H(7, 0) ^ (1 << 5)),
         (100, 1, 3, H(7, 1)), (100, 2, 3, H(7, 2)),
         # only frame 2 matches video 8: 1 of min(3,3) < half -> admit
         (101, 0, 3, H(8, 2) ^ 0xF0F0F0F0),
         (101, 1, 3, 0x123456789ABCDEF), (101, 2, 3, H(8, 2)),
         # 2-frame video matching video 9 on ONE frame: 1 >= min(2,3)/2
         # -> rejected (the shorter-video denominator)
         (102, 0, 2, H(9, 0)), (102, 1, 2, 0x222222222222222),
         # novel everywhere
         (103, 0, 1, 0x31415926535897)],
        "media_id long, frame_idx int, n_frames int, dhash long",
    )
    got = {r.media_id: r for r in multimodal.video_phash_admission(
        spark, layout, arrivals).collect()}
    assert not got[100].admitted and got[100].best_match_frames == 3
    assert got[101].admitted and got[101].best_match_frames == 1
    assert not got[102].admitted and got[102].best_match_frames == 1
    assert got[103].admitted and got[103].best_match_frames is None

    # fold the admitted videos; a later re-encode of one is rejected
    admitted_ids = spark.createDataFrame(
        [(101,), (103,)], "media_id long")
    multimodal.append_video_phash_layout(
        spark, layout, arrivals.join(admitted_ids, "media_id"))
    copies = spark.createDataFrame(
        [(200, 0, 1, 0x31415926535897)],  # exact copy of folded 103
        "media_id long, frame_idx int, n_frames int, dhash long",
    )
    got2 = {r.media_id: r for r in multimodal.video_phash_admission(
        spark, layout, copies).collect()}
    assert not got2[200].admitted and got2[200].best_match_frames == 1


def test_video_phash_layout_cap_holds_across_appends(spark, tmp_path):
    """A flood of identical single-frame videos folded in waves never
    pushes a (frame, band) bucket past max_bucket."""
    from pyspark.sql import functions as F

    layout = str(tmp_path / "video_flood")
    mk = lambda ids: spark.createDataFrame(
        [(i, 0, 1, 0) for i in ids],
        "media_id long, frame_idx int, n_frames int, dhash long",
    )
    multimodal.write_video_phash_layout(
        mk(range(10)), layout, params={"max_bucket": 12})
    for wave in range(3):
        multimodal.append_video_phash_layout(
            spark, layout, mk(range(100 + wave * 10, 110 + wave * 10)))
    from kafka_to_nexus_spark.llm import layout as llm_layout

    _p, stored, _nf = llm_layout.read(spark, layout, llm_layout.VIDEO)
    occ = stored.groupBy("_f", "band_idx", "band_val").count().agg(
        F.max("count")).first()[0]
    assert occ <= 12, occ
    got = multimodal.video_phash_admission(spark, layout, mk([999])).collect()[0]
    assert not got.admitted and got.best_match_frames == 1


def test_layout_compaction_preserves_decisions_and_shrinks_files(
        spark, tmp_path):
    """Small-files compaction (r13): after a burst of appended
    micro-batches, compaction rewrites each layout relation to a few
    files WITHOUT changing any decision (pure rewrite, duplicates and
    all), and a crashed swap (aside dir left behind) self-heals on the
    next read."""
    import glob
    import os
    import shutil

    from kafka_to_nexus_spark.llm import dedup as llm_dedup

    H = lambda i, f: ((i * 0x9E3779B97F4A7C15 + f * 0x517CC1B7) % (1 << 62))
    layout = str(tmp_path / "vl")
    mk = lambda ids: spark.createDataFrame(
        [(i, f, 2, H(i, f)) for i in ids for f in range(2)],
        "media_id long, frame_idx int, n_frames int, dhash long")
    multimodal.write_video_phash_layout(mk(range(10)), layout)
    for wave in range(5):
        multimodal.append_video_phash_layout(
            spark, layout, mk(range(100 + wave * 5, 105 + wave * 5)))
    probes = mk([3, 102, 900])  # standing dup, folded dup, novel
    before = sorted(tuple(r) for r in multimodal.video_phash_admission(
        spark, layout, probes).collect())
    n_before = len(glob.glob(f"{layout}/banding/*/*.parquet"))
    multimodal.compact_video_phash_layout(spark, layout)
    n_after = len(glob.glob(f"{layout}/banding/*/*.parquet"))
    assert n_after < n_before, (n_before, n_after)
    after = sorted(tuple(r) for r in multimodal.video_phash_admission(
        spark, layout, probes).collect())
    assert after == before

    # crash window: live dir moved aside, staged never landed -> the
    # reader restores the aside copy and decisions are unchanged
    shutil.move(f"{layout}/banding", f"{layout}/banding.old")
    healed = sorted(tuple(r) for r in multimodal.video_phash_admission(
        spark, layout, probes).collect())
    assert healed == before
    assert os.path.exists(f"{layout}/banding")

    # image layout: same contract
    il = str(tmp_path / "il")
    imgs = lambda ids: spark.createDataFrame(
        [(i, H(i, 0)) for i in ids], "media_id long, dhash64 long")
    multimodal.write_phash_layout(imgs(range(10)), il)
    for wave in range(4):
        multimodal.append_phash_layout(
            spark, il, imgs(range(50 + wave * 5, 55 + wave * 5)))
    ip = imgs([3, 52, 901])
    b = sorted(tuple(r) for r in multimodal.phash_admission(
        spark, il, ip).collect())
    multimodal.compact_phash_layout(spark, il)
    a = sorted(tuple(r) for r in multimodal.phash_admission(
        spark, il, ip).collect())
    assert a == b

    # text near-dup layout: same contract through its admission
    tl = str(tmp_path / "tl")
    docs = lambda ids: spark.createDataFrame(
        [(i, f"the quick brown fox {i % 7} jumps over dog {i % 5}")
         for i in ids], "doc_id long, text string")
    llm_dedup.write_neardup_banding_layout(docs(range(20)), tl)
    for wave in range(3):
        llm_dedup.append_neardup_banding(
            spark, tl, docs(range(100 + wave * 5, 105 + wave * 5)))
    tp = docs([3, 101, 999])
    b = sorted(tuple(r) for r in llm_dedup.neardup_admission(
        spark, tl, tp, tau=0.5).collect())
    llm_dedup.compact_neardup_layout(spark, tl)
    a = sorted(tuple(r) for r in llm_dedup.neardup_admission(
        spark, tl, tp, tau=0.5).collect())
    assert a == b


def test_remove_boilerplate_lines_semantics(spark):
    """L95: lines in >= min_docs distinct docs drop EVERYWHERE (zero
    copies kept — template, not content); rare lines survive in
    original order; a doc that was all boilerplate keeps its row with
    empty kept_text; within-doc repeats of a rare line count once
    toward df (count_distinct)."""
    from kafka_to_nexus_spark.llm import text as llm_text

    docs = [(i, "BANNER\nunique line %d\nBANNER" % i) for i in range(5)]
    docs.append((100, "BANNER\nBANNER"))          # all boilerplate
    docs.append((101, "rare\nrare\nunique line 0"))  # repeats, df(rare)=1
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in llm_text.remove_boilerplate_lines(
        df, min_docs=5).collect()}
    # BANNER df = 6 >= 5 -> dropped everywhere
    assert out[0].kept_text == "unique line 0"
    assert (out[0].n_lines, out[0].n_dropped) == (3, 2)
    assert out[100].kept_text == "" and out[100].n_dropped == 2
    assert out[100].n_chars_kept == 0
    # 'rare' appears 2x in ONE doc: df=1 < 5 -> kept, order preserved;
    # 'unique line 0' df=2 < 5 -> kept
    assert out[101].kept_text == "rare\nrare\nunique line 0"
    # raising the threshold past BANNER's df keeps everything
    loose = {r.doc_id: r.n_dropped for r in llm_text.remove_boilerplate_lines(
        df, min_docs=7).collect()}
    assert all(v == 0 for v in loose.values())


def test_remove_duplicate_spans_semantics(spark):
    """L96: a cross-doc 12-token block (>= min_run=10) is excised from
    every doc holding it (incl. a doc that IS the block — empty
    kept_text, row kept); a 9-token shared block stays below the run
    threshold and the doc passes through BYTE-identical; <k-token docs
    and NULL text pass through; a gram repeated twice inside ONE doc
    never counts (min_docs is distinct docs); dropping min_run to the
    default k removes the 9-token run too."""
    from kafka_to_nexus_spark.llm import text as llm_text

    A = " ".join(f"a{j}" for j in range(12))   # shared 12-token block
    B = " ".join(f"b{j}" for j in range(9))    # shared 9-token block
    R = " ".join(f"r{j}" for j in range(8))    # within-doc repeat gram

    def u(i, p, n):
        return " ".join(f"{p}{i}w{j}" for j in range(n))

    docs = [
        (1, f"{u(1,'u',10)} {A} {u(1,'v',10)}"),
        (2, f"{u(2,'u',10)} {A} {u(2,'v',10)}"),
        (3, f"{u(3,'u',10)} {B} {u(3,'v',10)}"),
        (4, f"{u(4,'u',10)} {B} {u(4,'v',10)}"),
        (5, "short doc here"),
        (6, None),
        (7, A),
        (8, f"{R} {u(8,'m',9)} {R}"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in llm_text.remove_duplicate_spans(
        df, k=8, min_docs=2, min_run=10).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6, 7, 8}
    # the 12-token block goes; unique wrap survives in order
    assert out[1].kept_text == f"{u(1,'u',10)} {u(1,'v',10)}"
    assert (out[1].n_tokens, out[1].n_removed, out[1].n_runs) == (32, 12, 1)
    assert out[2].n_removed == 12
    # 9-token run < min_run=10: byte-identical passthrough
    assert out[3].kept_text == docs[2][1] and out[3].n_removed == 0
    # <k tokens / NULL text passthrough
    assert out[5].kept_text == "short doc here" and out[5].n_removed == 0
    assert out[6].kept_text == "" and out[6].n_removed == 0
    # a doc that IS the duplicated block: emptied, row kept
    assert out[7].kept_text == "" and out[7].n_removed == 12
    assert out[7].n_tokens == 12
    # within-doc repetition alone never marks (distinct-doc frequency)
    assert out[8].kept_text == docs[7][1] and out[8].n_removed == 0
    # default min_run=k removes the 9-token run as well
    tight = {r.doc_id: r for r in llm_text.remove_duplicate_spans(
        df, k=8, min_docs=2).collect()}
    assert tight[3].n_removed == 9
    assert tight[3].kept_text == f"{u(3,'u',10)} {u(3,'v',10)}"


def test_web_curation_pipeline_stage_contracts(spark):
    """L100: the composed chain certifies WHY both removal stages
    exist — an all-doc line (cookie banner) falls to the LINE stage;
    a license block wrapped in per-doc-unique intro/outro words
    survives the line stage (each line is unique) and falls to the
    SPAN stage; unique content survives both."""
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.llm import text as llm_text

    A = " ".join(f"lic{j}" for j in range(12))
    docs = [(i, f"unique heading {i}\nBANNER LINE\nintro{i} {A} outro{i}")
            for i in range(1, 7)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    b = llm_text.remove_boilerplate_lines(df, min_docs=5)
    flat = b.select(
        "doc_id", F.translate("kept_text", "\n", " ").alias("text"))
    s = llm_text.remove_duplicate_spans(
        flat, k=8, min_docs=2, min_run=10)
    out = {r.doc_id: r for r in s.collect()}
    got_b = {r.doc_id: r for r in b.collect()}
    # line stage: BANNER dropped everywhere, license LINE survives
    assert all(r.n_dropped == 1 for r in got_b.values())
    assert "BANNER" not in got_b[1].kept_text
    assert "lic0" in got_b[1].kept_text
    # span stage: the 12-token license run excised, unique wrap kept
    assert out[1].n_removed == 12 and out[1].n_runs == 1
    assert out[1].kept_text == "unique heading 1 intro1 outro1"


def test_span_rewrite_admission_semantics(spark, tmp_path):
    """L99: arrivals are rewritten against the STORED gram bank only —
    a template frequent in the standing corpus is excised from every
    arrival holding it, but grams shared ONLY among arrivals never mark
    (batch-local rewriting would make admission order-dependent); docs
    without bank hits pass through byte-identical."""
    from kafka_to_nexus_spark.llm import text as llm_text

    A = " ".join(f"a{j}" for j in range(12))   # standing template
    Z = " ".join(f"z{j}" for j in range(12))   # arrival-only shared block

    def u(i, p, n):
        return " ".join(f"{p}{i}w{j}" for j in range(n))

    standing = spark.createDataFrame(
        [(2, f"{u(2,'u',10)} {A} {u(2,'v',10)}"),
         (4, f"{u(4,'u',10)} {A} {u(4,'v',10)}")],
        "doc_id long, text string")
    layout = str(tmp_path / "bank")
    llm_text.write_dupgram_layout(standing, layout, k=8, min_docs=2)

    arrivals = spark.createDataFrame(
        [(1, f"{u(1,'u',10)} {A} {u(1,'v',10)}"),   # bank hit -> excised
         (3, f"{u(3,'u',10)} {Z} {u(3,'v',10)}"),   # arrival-only dup
         (5, f"{u(5,'u',10)} {Z} {u(5,'v',10)}"),   # arrival-only dup
         (7, "short doc here")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in llm_text.span_rewrite_admission(
        spark, layout, arrivals, min_run=10).collect()}
    assert out[1].n_removed == 12
    assert out[1].kept_text == f"{u(1,'u',10)} {u(1,'v',10)}"
    # Z is shared by arrivals 3 and 5 but absent from the bank: untouched
    assert out[3].n_removed == 0 and out[5].n_removed == 0
    assert out[3].kept_text == f"{u(3,'u',10)} {Z} {u(3,'v',10)}"
    assert out[7].kept_text == "short doc here" and out[7].n_removed == 0


def test_quality_filter_flags_attribution(spark):
    """L104: each engineered pathology trips ITS rule (rules overlap —
    a stopword-free short doc trips both), clean prose passes all
    five, NULL text keeps its row flagged short, and the report's
    totals add up (dropped + kept == docs)."""
    from kafka_to_nexus_spark.llm import text as llm_text

    docs = [
        (1, "the fast key order of the table and the index is fine "
            "here so the scan can run well"),
        (2, "tiny doc"),                       # short (+ stopword)
        (3, "spam " * 30),                     # repetition
        (4, "!!!! ???? ;;;; .... " * 4),       # symbol
        (5, " ".join(f"uniqtok{j}" for j in range(30))),   # stopword only
        (6, " ".join("verylongtokenpayloadx" * 2 for _ in range(20))),
        (7, None),                             # short, row kept
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in llm_text.quality_filter_flags(df).collect()}
    assert out[1].kept and not any(
        [out[1].f_short, out[1].f_stopword, out[1].f_repetition,
         out[1].f_symbol, out[1].f_word_len])
    assert out[2].f_short and out[2].f_stopword and not out[2].kept
    assert out[3].f_repetition and not out[3].kept
    assert out[4].f_symbol and not out[4].kept
    assert out[5].f_stopword and not out[5].f_short and not out[5].kept
    assert out[6].f_word_len and not out[6].kept
    assert out[7].f_short and not out[7].kept
    rep = {r.rule: r.n for r in llm_text.quality_filter_report(df).collect()}
    assert rep["dropped"] + rep["kept"] == len(docs)
    assert rep["kept"] == 1 and rep["short"] == 2  # docs 2 and 7


def test_dedup_keep_best_invariants(spark):
    """L103: exactly ONE keeper per component; the keeper has the
    component's max n_chars (ties -> lowest id); singletons keep
    themselves — asserted over the real sf0.001 clusters."""
    from kafka_to_nexus_spark import queries as Q

    rows = Q.queries()["dedup_keep_best"](
        spark, "/root/testdata/sf0.001").collect()
    by_comp: dict = {}
    for r in rows:
        by_comp.setdefault(r.component_id, []).append(r)
    assert any(len(v) > 1 for v in by_comp.values())  # clusters exist
    for comp, members in by_comp.items():
        keepers = [m for m in members if m.keep]
        assert len(keepers) == 1, comp
        best = max(members, key=lambda m: (m.n_chars, -m.doc_id))
        assert keepers[0].doc_id == best.doc_id, comp


def test_script_profile_semantics(spark):
    """L102: each script class counts its own characters only, the
    dominant label follows the strict-majority with first-class
    tie-break, 'other' wins only when NO class scores (punctuation/
    whitespace docs), and NULL text keeps its row at zero."""
    from kafka_to_nexus_spark.llm import text as llm_text

    docs = [
        (1, "hello мир"),        # 5 latin vs 3 cyrillic -> latin
        (2, "你好世界"),          # cjk only
        (3, "abc абв"),          # 3 vs 3 tie -> latin (class order)
        (4, "?! ?!"),            # no class scores -> other
        (5, None),
        (6, "γειά 123 456"),     # 4 greek vs 6 digits -> digit
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in llm_text.script_profile(df).collect()}
    assert out[1].dominant_script == "latin"
    assert out[1].n_latin == 5 and out[1].n_cyrillic == 3
    assert out[2].dominant_script == "cjk" and out[2].cjk_frac == 1.0
    assert out[3].dominant_script == "latin"
    assert out[4].dominant_script == "other"
    assert out[5].dominant_script == "other" and out[5].n_chars == 0
    assert out[6].dominant_script == "digit" and out[6].n_greek == 4


def test_normalize_for_dedup_rule_table(spark):
    """L101: the CCNet normalization rules, one assert each — case,
    accent fold, digit→0 (different years collide BY DESIGN),
    punctuation→space (no word gluing), whitespace collapse + trim,
    NULL→''."""
    from kafka_to_nexus_spark.llm import text as llm_text

    cases = [
        (1, "Hello WORLD", "hello world"),
        (2, "café résumé naïve", "cafe resume naive"),
        (3, "report 2019 and 2024", "report 0000 and 0000"),
        (4, "end.Start (x)[y]{z}", "end start x y z"),
        (5, "  a\tb\nc  ", "a b c"),
        (6, None, ""),
        (7, "??!!..", ""),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in cases], "doc_id long, text string")
    got = {r.doc_id: r.n for r in df.select(
        "doc_id",
        llm_text.normalize_for_dedup(F.col("text")).alias("n")).collect()}
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)


def test_normalized_dedup_keeps_lowest_id(spark):
    from kafka_to_nexus_spark.llm import text as llm_text

    df = spark.createDataFrame(
        [(1, "The Quick Brown Fox, 2021 edition!"),
         (2, "the quick brown fox 2024 edition"),
         (3, "THE QUICK BROWN FOX  1999 EDITION"),
         (4, "a different document")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in llm_text.normalized_dedup(df).collect()}
    assert out[1].is_kept and not out[2].is_kept and not out[3].is_kept
    assert out[1].norm_hash == out[2].norm_hash == out[3].norm_hash
    assert out[4].is_kept


def test_canonicalize_url_semantics(spark):
    """L98: scheme/host lowercase, fragment gone, default ports only
    (:8080 survives), tracking params dropped, survivors byte-sorted,
    trailing slash stripped off non-root paths, bare authority gets
    '/', and a non-URL string passes through verbatim."""
    from kafka_to_nexus_spark.llm import text as llm_text

    cases = [
        (1, "HTTPS://WWW.Ex.COM:443/A/b/#frag", "https://www.ex.com/A/b"),
        (2, "http://ex.com:80/x", "http://ex.com/x"),
        (3, "http://ex.com:8080/x", "http://ex.com:8080/x"),
        (4, "https://ex.com/p?utm_source=a&b=2&a=1&gclid=z",
            "https://ex.com/p?a=1&b=2"),
        (5, "https://ex.com", "https://ex.com/"),
        (6, "https://ex.com/only/?utm_campaign=x", "https://ex.com/only"),
        (7, "no url here", "no url here"),
        (8, "https://ex.com/?ref=home", "https://ex.com/"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u, _ in cases], "doc_id long, url string"
    )
    got = {
        r.doc_id: r.canon
        for r in df.select(
            "doc_id",
            llm_text.canonicalize_url(F.col("url")).alias("canon"),
        ).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)


def test_url_canonical_dedup_keeps_lowest_id(spark):
    from kafka_to_nexus_spark.llm import text as llm_text

    df = spark.createDataFrame(
        [
            (3, "https://ex.com/a?utm_source=x"),
            (1, "HTTPS://EX.COM:443/a#top"),
            (2, "https://ex.com/b"),
        ],
        "doc_id long, url string",
    )
    out = {r.doc_id: r for r in llm_text.url_canonical_dedup(df).collect()}
    assert out[1].is_kept and not out[3].is_kept  # same resource, min id
    assert out[1].canon_url == out[3].canon_url == "https://ex.com/a"
    assert out[2].is_kept


def test_extract_html_text_semantics(spark):
    """L97: script/style bodies vanish wholesale (even holding bare '<'
    that would derail the generic tag strip), block tags become line
    boundaries, inline tags become spaces (no word gluing), entities
    decode with &amp; LAST (so '&amp;lt;' yields the literal '&lt;'
    string, never '<'), whitespace collapses, and NULL html keeps its
    row with empty text."""
    from kafka_to_nexus_spark.llm import text as llm_text

    docs = [
        (1, "<p>alpha</p><p>beta</p>"),
        (2, "<script>if (a < b) { x(); }</script>rest"),
        (3, "word<b>bold</b>tail"),
        (4, "Tom &amp; Jerry say &amp;lt;hi&amp;gt;"),
        (5, None),
        (6, "<style>p { margin: 0; }</style>  spaced   out  "),
    ]
    df = spark.createDataFrame(docs, "doc_id long, html string")
    out = {r.doc_id: r for r in llm_text.extract_html_text(df).collect()}
    assert out[1].text == "alpha\nbeta"
    assert out[2].text == "rest"          # script body + its '<' gone
    assert out[3].text == "word bold tail"  # inline tag -> space
    assert out[4].text == "Tom & Jerry say &lt;hi&gt;"
    assert out[5].text == "" and out[5].n_tags == 0
    assert out[5].n_chars_html == 0 and out[5].markup_ratio == 0.0
    assert out[6].text == "spaced out"
    assert out[1].n_tags == 4
    assert 0.0 <= out[1].markup_ratio <= 1.0


def test_remove_duplicate_spans_adjacent_runs_merge(spark):
    """Two shared 8-grams whose covered intervals are token-adjacent
    (next start == prev start + k) form ONE contiguous run — the merge
    rule is `gap > k` splits, `<= k` fuses."""
    from kafka_to_nexus_spark.llm import text as llm_text

    X = " ".join(f"x{j}" for j in range(8))
    Y = " ".join(f"y{j}" for j in range(8))
    docs = [
        (1, f"p1a p1b {X} {Y} q1a q1b"),
        (2, f"p2a p2b {X} {Y} q2a q2b"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in llm_text.remove_duplicate_spans(
        df, k=8, min_docs=2, min_run=10).collect()}
    # X+Y is itself a shared 16-token region: one run, not two
    assert out[1].n_runs == 1 and out[1].n_removed == 16
    assert out[1].kept_text == "p1a p1b q1a q1b"


def test_decode_media_empty_wav_takes_null_contract():
    """Review finding (r13): a valid WAV with a zero-length data chunk
    must return None, not a fake all-zero vector — an all-zero
    'histogram' would make every empty clip an exact feature-space
    duplicate and breaks the sums-to-1 invariant."""
    empty = multimodal.encode_wav([], channels=1)
    assert multimodal.parse_wav_samples(empty) is not None  # parses fine
    assert multimodal.decode_media(empty, dim=8) is None


def test_remove_boilerplate_lines_null_text_keeps_row(spark):
    """Review finding (r13): a NULL-text doc must keep its output row
    (degrading to one empty line), never vanish from the relation."""
    from kafka_to_nexus_spark.llm import text as llm_text

    df = spark.createDataFrame(
        [(1, "keep me"), (2, None)], "doc_id long, text string")
    out = {r.doc_id: r for r in llm_text.remove_boilerplate_lines(
        df, min_docs=5).collect()}
    assert set(out) == {1, 2}
    assert out[2].n_lines == 1 and out[2].n_dropped == 0
    assert out[2].kept_text == ""


def test_png_fixture_numpy_matches_sql_builder(spark):
    """r13 optimization: the PNG pixel fixture is synthesized
    numpy-vectorized in mapInPandas (the SQL higher-order-function
    builder ran interpreted and dominated all five PNG-decode
    certificates). The SQL builder stays as the independent witness:
    both must emit BYTE-IDENTICAL payloads for every media_id."""
    from kafka_to_nexus_spark import queries as Q

    sf_dir = "/root/testdata/sf0.001"
    new = {r.media_id: bytes(r.payload)
           for r in Q._png_pixel_fixture(spark, sf_dir).collect()}
    old = {r.media_id: bytes(r.payload)
           for r in Q._png_pixel_fixture_sql(spark, sf_dir).collect()}
    assert set(new) == set(old) and len(new) > 0
    assert all(new[k] == old[k] for k in new)


def test_wav_fixture_numpy_matches_sql_builder(spark):
    """r13 optimization: the WAV PCM fixture is synthesized
    numpy-vectorized in mapInPandas (same move as the PNG fixture — the
    SQL higher-order builder ran interpreted and every audio consumer
    re-evaluated it inline). The SQL builder stays as the independent
    witness: both must emit BYTE-IDENTICAL payloads for every media_id."""
    from kafka_to_nexus_spark import queries as Q

    sf_dir = "/root/testdata/sf0.001"
    new = {r.media_id: bytes(r.payload)
           for r in Q._wav_fp_fixture(spark, sf_dir).collect()}
    old = {r.media_id: bytes(r.payload)
           for r in Q._wav_fp_fixture_sql(spark, sf_dir).collect()}
    assert set(new) == set(old) and len(new) > 0
    assert all(new[k] == old[k] for k in new)


def test_run_sql_materialized_matches_inline(spark):
    """r13: _run_sql_materialized swaps named CTE bodies for
    localCheckpoint-ed temp views (Spark re-runs an inlined CTE's
    subtree at every reference site). The rewritten query must return
    exactly the inline query's rows, for a single- and a two-CTE
    materialization; a missing CTE name must fail loudly."""
    import pytest

    from kafka_to_nexus_spark import queries as Q

    sf_dir = "/root/testdata/sf0.001"
    Q.register_views(spark, sf_dir, ("documents",))
    for name, ctes in (
        ("nb_lang_classifier", ("tf",)),
        ("kneser_ney_bigram_score", ("bgf", "bc")),
    ):
        sql = Q.SPARK_SQL[name]
        inline = sorted(map(tuple, spark.sql(sql).collect()))
        mat = sorted(
            map(tuple, Q._run_sql_materialized(spark, sql, ctes, "t").collect())
        )
        assert mat == inline and len(mat) > 0
    with pytest.raises(ValueError, match="no_such_cte"):
        Q._run_sql_materialized(
            spark, Q.SPARK_SQL["nb_lang_classifier"], ("no_such_cte",), "t"
        )


def test_pq_train_seed_derived_dim_matches_explicit(spark, embeddings):
    """r13: pq_train_portable derives dim from the seed rows (the old
    df.first() cost an extra Spark action per training). On the
    uniform-dimension fixtures the codebooks must be identical to an
    explicit-dim training."""
    from kafka_to_nexus_spark.llm import similarity as sim

    emb = spark.read.parquet(str(TESTDATA / "sf0.001" / "embeddings.parquet"))
    derived = sim.pq_train_portable(emb, m=4, k=4, n_iter=1)
    explicit = sim.pq_train_portable(emb, m=4, k=4, n_iter=1, dim=64)
    assert derived == explicit
    with pytest.raises(ValueError, match="not divisible"):
        sim.pq_train_portable(emb, m=7, k=4, n_iter=1)


def test_pq_code_col_string_form_matches_column_form(spark, embeddings):
    """r13: pq_code_col accepts the vector as a SQL string and renders
    the struct-max assignment as ONE parsed expression per subspace
    (the Column form cost a py4j round trip per centroid struct). The
    codes must be identical for every row under both forms, on both the
    multi-subspace and the whole-vector (coarse) shapes."""
    from kafka_to_nexus_spark.llm import similarity as sim

    emb = spark.read.parquet(str(TESTDATA / "sf0.001" / "embeddings.parquet"))
    books = sim.pq_train_portable(emb, m=4, k=4, n_iter=1)
    coarse = sim.kmeans_train_portable(emb, k=4, n_iter=1)
    for cbs in ([coarse], books):
        col_form = sim.pq_code_col(
            F.col("embedding").cast("array<double>"), cbs
        )
        str_form = sim.pq_code_col("CAST(embedding AS ARRAY<DOUBLE>)", cbs)
        cmp = emb.select(
            *[c.alias(f"a{j}") for j, c in enumerate(col_form)],
            *[c.alias(f"b{j}") for j, c in enumerate(str_form)],
        )
        bad = cmp.filter(
            " OR ".join(
                f"(NOT (a{j} <=> b{j}))" for j in range(len(cbs))
            )
        ).count()
        assert bad == 0


def test_pq_train_combined_matches_per_subspace(spark, embeddings):
    """r13: pq_train_portable fuses the m per-subspace trainings into one
    seed action + one partial-agg action per iteration. This pins the
    fused form bit-identical to the per-subspace reference (the original
    implementation: m independent kmeans_train_portable calls over the
    sliced subvectors) on both a raw and a residual-shaped frame."""

    def kmeans_hof(df, k, n_iter):
        # the ORIGINAL kmeans_train_portable iteration, verbatim: md5-gate
        # seed + nearest_centroid_expr (interpreted lambda fold) assign +
        # DECIMAL update — the independent reference both r13 rewrites
        # (unrolled codegen assignment, fused subspace pass) must match
        vec = similarity._as_double(F.col("embedding"))
        gate = F.pmod(
            F.expr(
                "CAST(conv(substr(md5(CAST(vec_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
            ),
            F.lit(9973),
        )
        seed_rows = (
            df.select(vec.alias("_v"), gate.alias("_g"), F.col("vec_id"))
            .orderBy("_g", "vec_id")
            .limit(k)
            .collect()
        )
        centroids = [(i, list(r["_v"])) for i, r in enumerate(seed_rows)]
        for _ in range(n_iter):
            sums = (
                df.select(
                    similarity.nearest_centroid_expr(vec, centroids).alias("_cid"),
                    F.posexplode(vec).alias("_pos", "_x"),
                )
                .groupBy("_cid", "_pos")
                .agg(
                    F.sum(F.col("_x").cast("decimal(38,18)")).alias("_sx"),
                    F.count(F.lit(1)).alias("_n"),
                )
                .collect()
            )
            by_cid = {}
            for r in sums:
                by_cid.setdefault(r["_cid"], {})[r["_pos"]] = float(r["_sx"]) / r["_n"]
            centroids = [
                (
                    cid,
                    [by_cid[cid][p] for p in sorted(by_cid[cid])]
                    if cid in by_cid
                    else prev,
                )
                for cid, prev in centroids
            ]
        return centroids

    def per_subspace(df, m, k, n_iter):
        dim = len(df.select(similarity._as_double(F.col("embedding"))).first()[0])
        sd = dim // m
        return [
            kmeans_hof(
                df.select(
                    F.col("vec_id"),
                    F.slice(
                        similarity._as_double(F.col("embedding")), j * sd + 1, sd
                    ).alias("embedding"),
                ),
                k=k,
                n_iter=n_iter,
            )
            for j in range(m)
        ]

    emb = embeddings.select("vec_id", "embedding")
    assert similarity.pq_train_portable(emb, m=4, k=8, n_iter=1) == per_subspace(
        emb, 4, 8, 1
    )
    assert similarity.pq_train_portable(emb, m=2, k=4, n_iter=2) == per_subspace(
        emb, 2, 4, 2
    )
    # the whole-vector trainer against the HOF reference too
    assert similarity.kmeans_train_portable(emb, k=4, n_iter=2) == kmeans_hof(
        emb, 4, 2
    )
    # residual-shaped frame (the ivf_pq_topk_portable training input)
    coarse = similarity.kmeans_train_portable(emb, k=4, n_iter=1)
    vec = similarity._as_double(F.col("embedding"))
    cid = similarity.pq_code_col(vec, [coarse])[0]
    oc = sorted(coarse)
    cm = F.map_from_arrays(
        similarity.lit_longs([c for c, _ in oc]),
        F.array(*[similarity.lit_doubles(v) for _, v in oc]),
    )
    resid = emb.select(
        "vec_id",
        F.zip_with(vec, F.element_at(cm, cid), lambda x, c: x - c).alias(
            "embedding"
        ),
    )
    assert similarity.pq_train_portable(resid, m=4, k=8, n_iter=1) == per_subspace(
        resid, 4, 8, 1
    )


def test_fused_verify_matches_per_engine_verify(spark):
    """r13: the parity certificate verifies the DISTINCT union of both
    engines' candidate pairs in ONE ngram_jaccard pass with membership
    flags (carry_cols). Each engine's flag-filtered verified edge set
    must equal the edge set of a separate per-engine verify."""
    from kafka_to_nexus_spark import queries as Q
    from kafka_to_nexus_spark.llm import dedup as _dd

    sf_dir = "/root/testdata/sf0.001"
    Q.register_views(spark, sf_dir, ("documents",))
    base = spark.table("documents").select("doc_id", "text")
    docs = base.unionAll(
        base.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    docs_fp = docs.withColumn("_fp", F.md5(F.col("text").cast("binary")))
    vh = _dd.ngram_hashes(docs).persist()
    sigs = {
        e: _dd.minhash_signatures(
            docs_fp,
            num_hashes=Q._DEDUP_PIPE_BANDS * Q._DEDUP_PIPE_ROWS,
            shingle_k=5,
            keep_cols=("_fp",),
            hash_engine=e,
        ).persist()
        for e in ("md5", "xxhash64")
    }
    pairs = {
        e: _dd.lsh_candidate_pairs(
            sigs[e],
            bands=Q._DEDUP_PIPE_BANDS,
            rows_per_band=Q._DEDUP_PIPE_ROWS,
            max_bucket=Q._JACCARD_MAX_BUCKET,
            chain_col="_fp",
        )
        for e in ("md5", "xxhash64")
    }
    sep = {
        e: {
            (r.id_a, r.id_b)
            for r in _dd.ngram_jaccard(
                docs_fp, pairs[e], join_hint="merge", hashes=vh
            )
            .filter(F.round(F.col("jaccard"), 6) >= Q._DEDUP_PIPE_TAU)
            .collect()
        }
        for e in ("md5", "xxhash64")
    }
    tagged = (
        pairs["md5"]
        .select("id_a", "id_b", F.lit(True).alias("_m"), F.lit(False).alias("_x"))
        .unionByName(
            pairs["xxhash64"].select(
                "id_a", "id_b", F.lit(False).alias("_m"), F.lit(True).alias("_x")
            )
        )
        .groupBy("id_a", "id_b")
        .agg(F.max("_m").alias("_in_md5"), F.max("_x").alias("_in_xx"))
    )
    fused = (
        _dd.ngram_jaccard(
            docs_fp,
            tagged,
            join_hint="merge",
            hashes=vh,
            carry_cols=("_in_md5", "_in_xx"),
        )
        .filter(F.round(F.col("jaccard"), 6) >= Q._DEDUP_PIPE_TAU)
        .collect()
    )
    got_md5 = {(r.id_a, r.id_b) for r in fused if r._in_md5}
    got_xx = {(r.id_a, r.id_b) for r in fused if r._in_xx}
    assert got_md5 == sep["md5"] and len(got_md5) > 0
    assert got_xx == sep["xxhash64"] and len(got_xx) > 0
    for d in (sigs.values(), (vh,)):
        for f in d:
            f.unpersist()


def test_minhash_emit_hashes_col_matches_ngram_hashes(spark):
    """r13: minhash_signatures(emit_hashes_col=...) derives the
    ngram_hashes relation from the signature pass's _d0 digests — one
    corpus digest pass serving both. Pins the emitted column EXACTLY
    equal to the standalone ngram_hashes relation and the signature
    columns unchanged vs the plain call."""
    docs = spark.read.parquet(
        str(TESTDATA / "sf0.01" / "documents.parquet")
    ).select("doc_id", "text")
    plain = dedup.minhash_signatures(docs, num_hashes=8, shingle_k=5)
    both = dedup.minhash_signatures(
        docs, num_hashes=8, shingle_k=5, emit_hashes_col="sh"
    )
    ref = dedup.ngram_hashes(docs, shingle_k=5)
    got = {r["doc_id"]: (tuple(r["sh"]), tuple(r[f"m{i}"] for i in range(8)))
           for r in both.collect()}
    want_sh = {r["doc_id"]: tuple(r["sh"]) for r in ref.collect()}
    want_m = {r["doc_id"]: tuple(r[f"m{i}"] for i in range(8))
              for r in plain.collect()}
    assert len(got) > 0
    assert {k: v[0] for k, v in got.items()} == want_sh
    assert {k: v[1] for k, v in got.items()} == want_m
    # non-md5 engines cannot reproduce the md5-slice relation: loud error
    with pytest.raises(ValueError, match="md5 engine"):
        dedup.minhash_signatures(
            docs, num_hashes=4, hash_engine="xxhash64", emit_hashes_col="sh"
        )


def test_minhash_emit_xx_prefix_matches_separate_engines(spark):
    """r14 (VERDICT r13 #3): minhash_signatures(emit_xx_prefix=...)
    emits BOTH engines' signature columns from one corpus scan (the
    shingle relation is engine-independent). Pins the xx columns
    EXACTLY equal to a separate hash_engine="xxhash64" call and the
    md5 columns + emitted hash relation unchanged vs the plain call."""
    docs = spark.read.parquet(
        str(TESTDATA / "sf0.01" / "documents.parquet")
    ).select("doc_id", "text")
    md = dedup.minhash_signatures(
        docs, num_hashes=8, shingle_k=5, emit_hashes_col="sh"
    )
    xx = dedup.minhash_signatures(
        docs, num_hashes=8, shingle_k=5, hash_engine="xxhash64"
    )
    dual = dedup.minhash_signatures(
        docs, num_hashes=8, shingle_k=5,
        emit_hashes_col="sh", emit_xx_prefix="_x",
    )
    got = {
        r["doc_id"]: (
            tuple(r[f"m{i}"] for i in range(8)),
            tuple(r["sh"]),
            tuple(r[f"_x{i}"] for i in range(8)),
        )
        for r in dual.collect()
    }
    want_md = {
        r["doc_id"]: (tuple(r[f"m{i}"] for i in range(8)), tuple(r["sh"]))
        for r in md.collect()
    }
    want_xx = {
        r["doc_id"]: tuple(r[f"m{i}"] for i in range(8)) for r in xx.collect()
    }
    assert len(got) > 0
    assert {k: (v[0], v[1]) for k, v in got.items()} == want_md
    assert {k: v[2] for k, v in got.items()} == want_xx
    # the pure-xxhash64 call is already one pass: loud error
    with pytest.raises(ValueError, match="md5 engine"):
        dedup.minhash_signatures(
            docs, num_hashes=4, hash_engine="xxhash64", emit_xx_prefix="_x"
        )


def test_run_sql_materialized_quote_aware_and_bounded(spark):
    """r14 (ADVICE r13 #1): the CTE paren scanner skips string
    literals (including '' escapes) and raises loudly instead of
    walking off the end on unbalanced text — silent mis-splicing into
    wrong-but-parseable SQL is the failure mode being pinned out."""
    import pytest

    from kafka_to_nexus_spark import queries as Q

    # (a) literal containing an unbalanced '(' and an escaped quote:
    # the materialized result must equal the inline result
    sql = (
        "WITH\n"
        "c AS (SELECT 'it''s (' AS s, 1 AS n),\n"
        "d AS (SELECT s, n + 1 AS n2 FROM c)\n"
        "SELECT c.s, c.n, d.n2 FROM c JOIN d ON c.s = d.s"
    )
    inline = sorted(map(tuple, spark.sql(sql).collect()))
    mat = sorted(
        map(tuple, Q._run_sql_materialized(spark, sql, ("c",), "qa").collect())
    )
    assert mat == inline and len(mat) == 1
    # (b) unbalanced parens: loud error, not an index walk off the end
    with pytest.raises(ValueError, match="unbalanced parentheses"):
        Q._run_sql_materialized(spark, "c AS (SELECT 1", ("c",), "qa")
    # (c) unterminated literal: loud error
    with pytest.raises(ValueError, match="unterminated string"):
        Q._run_sql_materialized(spark, "c AS (SELECT 'x", ("c",), "qa")


def test_run_sql_materialized_skips_comments(spark):
    """The CTE paren scanner skips ``-- …`` line comments and
    ``/* … */`` block comments, so a paren inside a comment cannot end
    (or keep open) a CTE body; an unterminated block comment is a loud
    error."""
    import pytest

    from kafka_to_nexus_spark import queries as Q

    sql = (
        "WITH\n"
        "c AS (SELECT 1 AS n -- note: ( is unbalanced here\n"
        "      , 2 AS m /* and ) here ( too */),\n"
        "d AS (SELECT n + m AS s FROM c)\n"
        "SELECT c.n, c.m, d.s FROM c CROSS JOIN d"
    )
    inline = sorted(map(tuple, spark.sql(sql).collect()))
    mat = sorted(
        map(tuple, Q._run_sql_materialized(spark, sql, ("c",), "cm").collect())
    )
    assert mat == inline == [(1, 2, 3)]
    with pytest.raises(ValueError, match="unterminated block comment"):
        Q._run_sql_materialized(spark, "c AS (SELECT 1 /* (", ("c",), "cm")


def test_registry_build_drops_prior_materialized_views(spark):
    """The ``_mat_*`` temp views a registry build registers are dropped,
    with their checkpoints, when the next registry build starts."""
    from kafka_to_nexus_spark import queries as Q

    sql = "WITH\nc AS (SELECT 1 AS n)\nSELECT n FROM c"

    def build(tag):
        return Q._with_ckpt_release(
            lambda spark, sf_dir: Q._run_sql_materialized(spark, sql, ("c",), tag)
        )

    assert build("first")(spark, "").collect()[0].n == 1
    assert spark.catalog.tableExists("_mat_first_c")
    assert build("second")(spark, "").collect()[0].n == 1
    assert not spark.catalog.tableExists("_mat_first_c")
    assert spark.catalog.tableExists("_mat_second_c")


def test_pq_train_portable_error_paths(spark):
    """r14 (ADVICE r13 #4): empty input raises a loud ValueError (not a
    bare IndexError), and an explicitly-passed indivisible dim raises
    BEFORE any Spark action (proved on an empty frame: the divisibility
    error wins over the empty-seed error only if it fires first)."""
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="empty input"):
        similarity.pq_train_portable(empty, m=4, k=2)
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_train_portable(empty, m=3, k=2, dim=64)


def test_assign_portable_pandas_matches_expr_bitwise(spark):
    """r14: assign_portable_pandas_col is the numpy execution twin of
    nearest_centroid_expr (the pinned cross-impl witness) — strict
    ascending-j accumulation reproduces the fold's IEEE add order, first
    argmax reproduces the lowest-centroid-id tie rule, and every
    degenerate input (null vector, null element, ragged lengths) maps to
    the lowest centroid id exactly like the expr's null-argmax sentinel.
    Pinned on the fixture embeddings AND a synthetic frame of edge
    cases, for k=8 and the auto-k k=31 regime."""
    emb = spark.read.parquet(
        str(TESTDATA / "sf0.1" / "embeddings.parquet")
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    rows = emb.limit(40).collect()
    for k in (8, 31):
        cents = [(i, list(r["v"])) for i, r in enumerate(rows[:k])]
        both = emb.select(
            "vec_id",
            similarity.nearest_centroid_expr(F.col("v"), cents).alias("e"),
            similarity.assign_portable_pandas_col(F.col("v"), cents).alias("p"),
        ).collect()
        assert len(both) > 0
        diff = [(r["vec_id"], r["e"], r["p"]) for r in both if r["e"] != r["p"]]
        assert diff == [], f"k={k}: {diff[:5]}"
    # degenerate + tie cases: null vector, null element, short, long,
    # exact-tie vectors (two identical centroids -> lowest id wins)
    cents = [(3, [1.0, 0.0]), (5, [1.0, 0.0]), (7, [0.0, 1.0])]
    edge = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),        # ties centroids 3 and 5 -> 3
            (1, [0.0, 2.0]),        # centroid 7
            (2, None),              # null vector -> lowest id (3)
            (3, [1.0, None]),       # null element -> 3
            (4, [1.0]),             # short -> 3
            (5, [1.0, 0.0, 9.0]),   # long -> 3
            (6, [-0.0, -0.0]),      # all-(-0.0) dots tie -> 3
            # infinities: inf * 0.0 is NaN, and a NaN dot is the greatest
            # under both Spark's NaN ordering and numpy's argmax
            (7, [float("inf"), 1.0]),    # dots inf, inf, NaN -> 7
            (8, [float("-inf"), 1.0]),   # dots -inf, -inf, NaN -> 7
            (9, [float("inf"), 0.0]),    # inf with a zero coordinate -> 7
            (10, [0.0, float("inf")]),   # dots NaN, NaN, inf -> 3
            (11, [float("inf"), float("inf")]),   # all dots NaN -> 3
            (12, [float("-inf"), float("-inf")]),  # all dots NaN -> 3
        ],
        "vec_id long, v array<double>",
    )
    both = edge.select(
        "vec_id",
        similarity.nearest_centroid_expr(F.col("v"), cents).alias("e"),
        similarity.assign_portable_pandas_col(F.col("v"), cents).alias("p"),
    ).collect()
    got = {r["vec_id"]: (r["e"], r["p"]) for r in both}
    for vid, (e, p) in got.items():
        assert e == p, (vid, e, p)
    assert got[0] == (3, 3) and got[1] == (7, 7) and got[2] == (3, 3)
    assert {v: got[v][0] for v in range(7, 13)} == {
        7: 7, 8: 7, 9: 7, 10: 3, 11: 3, 12: 3}
