"""JPEG codec: round trips, framing, honesty guards.

The differential contract is decode(encode(px)) == reference_transform(px)
(JPEG is lossy but deterministically so); the catalog query
multimodal_jpeg_decode carries the full DuckDB oracle. These tests pin
the codec itself: entropy-layer losslessness, byte stuffing, marker
tolerance, and the explicit unsupported-variant guards.
"""

from __future__ import annotations

import random

import pytest

from stock_streaming_data_pipeline_spark.operators import jpeg_codec as j


def test_random_roundtrips_match_reference_transform():
    rng = random.Random(42)
    for _ in range(25):
        w = rng.choice([8, 16, 24, 32])
        h = rng.choice([8, 16, 24])
        px = bytes(rng.randrange(256) for _ in range(w * h))
        dw, dh, _, dec = j.decode_jpeg(j.encode_jpeg_gray(px, w, h))
        assert (dw, dh) == (w, h)
        assert dec == j.reference_transform(px, w, h)


def test_uniform_and_extreme_blocks():
    # uniform blocks put DC/Q on exact .5 lattices — the round-6 guard's
    # target case; extremes exercise clamping
    for v in (0, 1, 127, 128, 129, 254, 255):
        px = bytes([v] * 64)
        assert j.decode_jpeg(j.encode_jpeg_gray(px, 8, 8))[3] == (
            j.reference_transform(px, 8, 8)
        )


def test_quality_loss_is_bounded():
    rng = random.Random(1)
    px = bytes(rng.randrange(256) for _ in range(64))
    _, _, _, dec = j.decode_jpeg(j.encode_jpeg_gray(px, 8, 8))
    # Annex-K tables at full scale: coarse but sane — mean abs error
    # bounded, means close
    mae = sum(abs(a - b) for a, b in zip(px, dec)) / 64
    assert mae < 48
    assert abs(sum(px) - sum(dec)) / 64 < 16


def test_byte_stuffing_roundtrip():
    # gradient blocks reliably produce 0xFF bytes in the entropy stream
    # across many phases; all must round-trip through stuffing
    for shift in range(16):
        px = bytes((i * 7 + shift * 13) % 256 for i in range(16 * 16))
        enc = j.encode_jpeg_gray(px, 16, 16)
        assert j.decode_jpeg(enc)[3] == j.reference_transform(px, 16, 16)


def test_dc_differential_across_blocks():
    # blocks with very different DC levels exercise negative diffs and
    # high categories
    px = bytes(([10] * 64) + ([250] * 64))
    dec = j.decode_jpeg(j.encode_jpeg_gray(px, 8, 16))[3]
    assert dec == j.reference_transform(px, 8, 16)


def test_rejects_bad_inputs():
    with pytest.raises(ValueError, match="multiples of 8"):
        j.encode_jpeg_gray(b"\x00" * 63, 7, 9)
    with pytest.raises(ValueError, match="size mismatch"):
        j.encode_jpeg_gray(b"\x00" * 10, 8, 8)
    with pytest.raises(ValueError, match="missing SOI"):
        j.decode_jpeg(b"\x89PNG")
    enc = j.encode_jpeg_gray(b" " * 64, 8, 8)
    with pytest.raises(ValueError):
        j.decode_jpeg(enc[:-10])  # truncated: EOI gone
    for cut in range(2, len(enc)):  # any truncation, headers included
        with pytest.raises(ValueError):
            j.decode_jpeg(enc[:cut])
    # a frame claiming more blocks than the stream has bits is refused
    # before its coefficient blocks are allocated
    big = bytearray(enc)
    sof = big.find(b"\xff\xc0")
    big[sof + 5 : sof + 9] = b"\xff\xf8\xff\xf8"  # 65528 x 65528
    with pytest.raises(ValueError, match="larger than the stream"):
        j.decode_jpeg(bytes(big))


def test_rejects_progressive_marker():
    """Baseline and progressive encodings of the same pixels decode
    identically; a baseline scan under a frame relabelled SOF2
    (progressive) is malformed and raises."""
    px = bytes(range(0, 256, 4))
    enc = bytearray(j.encode_jpeg_gray(px, 8, 8))
    assert j.decode_jpeg(bytes(enc)) == j.decode_jpeg(
        j.encode_jpeg_gray_progressive(px, 8, 8)
    )
    i = enc.find(b"\xff\xc0")
    enc[i + 1] = 0xC2  # pretend SOF2 (progressive)
    with pytest.raises(ValueError, match="Se=0"):
        j.decode_jpeg(bytes(enc))


def test_decode_image_routes_jpeg():
    from stock_streaming_data_pipeline_spark.operators import multimodal

    px = bytes(range(64))
    enc = j.encode_jpeg_gray(px, 8, 8)
    w, h, ch, out = multimodal.decode_image(enc)
    assert (w, h, ch) == (8, 8, 1)
    assert bytes(out) == j.reference_transform(px, 8, 8)
    prog = j.encode_jpeg_gray_progressive(px, 8, 8)
    assert multimodal.decode_image(prog) == (
        8, 8, 1, bytearray(j.reference_transform(px, 8, 8))
    )
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x00\x01\x02not-an-image")


# --- color (4:2:0 YCbCr) ---


def test_color_random_roundtrips_match_reference_transform():
    rng = random.Random(9)
    for _ in range(12):
        w = rng.choice([16, 32, 48])
        h = rng.choice([16, 32])
        rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
        dw, dh, _, dec = j.decode_jpeg(j.encode_jpeg_color(rgb, w, h))
        assert (dw, dh) == (w, h)
        assert dec == j.reference_transform_color(rgb, w, h)


def test_color_uniform_and_extreme_images():
    for v in ((0, 0, 0), (255, 255, 255), (255, 0, 0), (0, 255, 0),
              (0, 0, 255), (128, 128, 128), (127, 128, 129)):
        rgb = bytes(v * (16 * 16))
        assert j.decode_jpeg(j.encode_jpeg_color(rgb, 16, 16))[3] == (
            j.reference_transform_color(rgb, 16, 16)
        )


def test_color_dc_differential_across_mcus():
    # two MCUs with opposite chroma extremes: negative DC diffs on all
    # three components' predictors
    rgb = bytes((250, 10, 10) * (16 * 16)) + bytes((10, 10, 250) * (16 * 16))
    assert j.decode_jpeg(j.encode_jpeg_color(rgb, 16, 32))[3] == (
        j.reference_transform_color(rgb, 16, 32)
    )


def test_color_quality_loss_is_bounded():
    rng = random.Random(3)
    rgb = bytes(rng.randrange(256) for _ in range(16 * 16 * 3))
    _, _, _, dec = j.decode_jpeg(j.encode_jpeg_color(rgb, 16, 16))
    mae = sum(abs(a - b) for a, b in zip(rgb, dec)) / len(rgb)
    assert mae < 64  # chroma subsampling on random noise is coarse but sane


def test_color_rejects_bad_inputs():
    with pytest.raises(ValueError, match="multiples of 16"):
        j.encode_jpeg_color(b"\x00" * (8 * 8 * 3), 8, 8)
    with pytest.raises(ValueError, match="size mismatch"):
        j.encode_jpeg_color(b"\x00" * 10, 16, 16)
    # one decoder for both component counts: a grayscale stream decodes
    # to one channel, a color stream to three, baseline and progressive
    # alike
    gray = b" " * 64
    assert j.decode_jpeg(j.encode_jpeg_gray(gray, 8, 8)) == j.decode_jpeg(
        j.encode_jpeg_gray_progressive(gray, 8, 8)
    ) == (8, 8, 1, j.reference_transform(gray, 8, 8))
    color = b" " * (8 * 8 * 3)
    assert j.decode_jpeg(
        j.encode_jpeg_color(color, 8, 8, subsampling="444")
    ) == j.decode_jpeg(j.encode_jpeg_color_progressive(color, 8, 8)) == (
        8, 8, 3, j.reference_transform_color(color, 8, 8, subsampling="444")
    )
    # a 2-component frame is neither: refused
    enc = bytearray(j.encode_jpeg_color(color, 8, 8, subsampling="444"))
    sof = enc.find(b"\xff\xc0")
    assert enc[sof + 9] == 3
    enc[sof + 9] = 2
    with pytest.raises(ValueError, match="only grayscale"):
        j.decode_jpeg(bytes(enc))


def test_color_rejects_unsupported_sampling():
    # hand-flip the SOF0 sampling byte for Y from 0x22 to 0x12 (4:4:0,
    # unimplemented): the decoder must refuse rather than misread the
    # MCU layout
    enc = bytearray(j.encode_jpeg_color(b" " * (16 * 16 * 3), 16, 16))
    sof = enc.find(b"\xff\xc0")
    assert sof > 0
    assert enc[sof + 11] == 0x22
    enc[sof + 11] = 0x12
    with pytest.raises(ValueError, match="4:2:0.*4:2:2.*4:4:4"):
        j.decode_jpeg(bytes(enc))
    with pytest.raises(ValueError, match="subsampling must be"):
        j.encode_jpeg_color(b" " * (16 * 16 * 3), 16, 16, subsampling="440")


def test_color_422_roundtrips_match_reference():
    """4:2:2 (horizontal-only subsampling): 16x8 MCUs, two luma blocks
    per MCU, half-width full-height chroma."""
    rng = random.Random(33)
    for w, h in ((16, 8), (32, 16), (48, 8)):
        rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
        dw, dh, _, dec = j.decode_jpeg(
            j.encode_jpeg_color(rgb, w, h, subsampling="422")
        )
        assert (dw, dh) == (w, h)
        assert dec == j.reference_transform_color(rgb, w, h, subsampling="422")
    # vertical chroma detail survives 4:2:2 (unlike 4:2:0): horizontal
    # stripes of opposite chroma
    rgb = bytes(
        b
        for r in range(8)
        for c in range(16)
        for b in ((255, 0, 0) if r % 2 == 0 else (0, 0, 255))
    )
    dec422 = j.decode_jpeg(j.encode_jpeg_color(rgb, 16, 8, subsampling="422"))[3]
    reds = [dec422[3 * i] for i in range(16 * 8)]
    assert max(reds) - min(reds) > 100  # stripes preserved


def test_restart_markers_gray_and_color():
    """DRI/RSTn: restart-encoded streams decode to the SAME pixels as
    marker-free ones (the transform is restart-agnostic), RSTn bytes are
    actually present, and a stream whose predictors are NOT reset at a
    restart would diverge — proven by the marker bytes + predictor-reset
    schedule round-tripping across many intervals."""
    rng = random.Random(11)
    px = bytes(rng.randrange(256) for _ in range(32 * 24))
    plain = j.decode_jpeg(j.encode_jpeg_gray(px, 32, 24))[3]
    for ri in (1, 2, 3, 7):
        enc = j.encode_jpeg_gray(px, 32, 24, restart_interval=ri)
        assert b"\xff\xdd" in enc  # DRI present
        assert any(bytes((0xFF, 0xD0 + m)) in enc for m in range(8))
        assert j.decode_jpeg(enc)[3] == plain == j.reference_transform(px, 32, 24)

    rgb = bytes(rng.randrange(256) for _ in range(48 * 32 * 3))
    plain_c = j.decode_jpeg(j.encode_jpeg_color(rgb, 48, 32))[3]
    for ri in (1, 2):
        enc = j.encode_jpeg_color(rgb, 48, 32, restart_interval=ri)
        assert b"\xff\xdd" in enc
        assert j.decode_jpeg(enc)[3] == plain_c == (
            j.reference_transform_color(rgb, 48, 32)
        )


def test_restart_marker_sequence_is_validated():
    """A wrong RSTn index (resync slip) must be detected, not silently
    accepted as data."""
    px = bytes(range(64)) * 8  # 8 blocks
    enc = bytearray(j.encode_jpeg_gray(px, 64, 8, restart_interval=2))
    # find the first RST marker in the scan and break its index
    for i in range(len(enc) - 1):
        if enc[i] == 0xFF and 0xD0 <= enc[i + 1] <= 0xD7:
            enc[i + 1] = 0xD0 + ((enc[i + 1] - 0xD0 + 3) % 8)
            break
    else:
        raise AssertionError("no RST marker found")
    with pytest.raises(ValueError):
        j.decode_jpeg(bytes(enc))


def test_decode_image_routes_color_jpeg():
    from stock_streaming_data_pipeline_spark.operators import multimodal as mm

    rgb = bytes((i * 5) % 256 for i in range(16 * 16 * 3))
    w, h, ch, px = mm.decode_image(j.encode_jpeg_color(rgb, 16, 16))
    assert (w, h, ch) == (16, 16, 3)
    assert bytes(px) == j.reference_transform_color(rgb, 16, 16)
    gray = bytes((i * 3) % 256 for i in range(64))
    w, h, ch, px = mm.decode_image(j.encode_jpeg_gray(gray, 8, 8))
    assert (w, h, ch) == (8, 8, 1)
    rgb = rgb[: 8 * 8 * 3]
    assert mm.decode_image(j.encode_jpeg_color_progressive(rgb, 8, 8)) == (
        8, 8, 3,
        bytearray(j.reference_transform_color(rgb, 8, 8, subsampling="444")),
    )


def test_color_444_roundtrips_match_reference():
    """4:4:4 (no chroma subsampling): round trip equals the 4:4:4
    reference transform; chroma detail that 4:2:0 averages away
    survives; restart markers compose with it; 8-multiple (not
    16-multiple) dims are legal."""
    rng = random.Random(21)
    for w, h in ((8, 8), (24, 16), (16, 8)):
        rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
        dw, dh, _, dec = j.decode_jpeg(
            j.encode_jpeg_color(rgb, w, h, subsampling="444")
        )
        assert (dw, dh) == (w, h)
        assert dec == j.reference_transform_color(rgb, w, h, subsampling="444")
    # checkerboard chroma: 2x2-averaged to gray by 4:2:0, preserved by 4:4:4
    rgb = bytes(
        b
        for r in range(8)
        for c in range(8)
        for b in ((255, 0, 0) if (r + c) % 2 == 0 else (0, 0, 255))
    )
    dec420 = j.decode_jpeg(
        j.encode_jpeg_color(rgb.ljust(16 * 16 * 3, b"\x00"), 16, 16)
    )[3]
    dec444 = j.decode_jpeg(j.encode_jpeg_color(rgb, 8, 8, subsampling="444"))[3]
    # 4:4:4 keeps far more chroma energy on the checkerboard
    def chroma_spread(px, w):
        reds = [px[3 * i] for i in range(w * w)]
        return max(reds) - min(reds)
    assert chroma_spread(dec444, 8) > chroma_spread(dec420, 16) + 50
    rgb2 = bytes(rng.randrange(256) for _ in range(24 * 16 * 3))
    enc = j.encode_jpeg_color(rgb2, 24, 16, subsampling="444", restart_interval=2)
    assert b"\xff\xdd" in enc
    assert j.decode_jpeg(enc)[3] == j.reference_transform_color(
        rgb2, 24, 16, subsampling="444"
    )


def test_progressive_roundtrips_match_reference():
    """decode(encode_progressive(px)) == reference_transform(px) ==
    baseline decode — progressive is purely an entropy re-layering of
    the same quantized coefficients."""
    rng = random.Random(99)
    for w, h in ((8, 8), (16, 16), (32, 16)):
        px = bytes(rng.randrange(256) for _ in range(w * h))
        prog = j.encode_jpeg_gray_progressive(px, w, h)
        assert prog[2:4] != b"\xff\xc0" and b"\xff\xc2" in prog  # SOF2
        w2, h2, ch, dec = j.decode_jpeg(prog)
        assert (w2, h2, ch) == (w, h, 1)
        assert dec == j.reference_transform(px, w, h)
        assert dec == j.decode_jpeg(j.encode_jpeg_gray(px, w, h))[3]


def test_progressive_sparse_blocks_exercise_zrl_and_eob():
    """Near-empty blocks hit the long-zero-run paths: ZRL folding into
    EOB, and the refinement-scan history-bit ordering around ZRLs (the
    bug class the sf0.01 differential caught: a history coefficient's
    correction bit buffered across a ZRL desyncs the decoder)."""
    rng = random.Random(5)
    for _ in range(100):
        px = bytearray(32 * 32)
        for _ in range(rng.randrange(1, 5)):
            px[rng.randrange(len(px))] = rng.randrange(256)
        got = j.decode_jpeg(
            j.encode_jpeg_gray_progressive(bytes(px), 32, 32)
        )[3]
        assert got == j.reference_transform(bytes(px), 32, 32)


def test_progressive_constant_and_extreme_images():
    for val in (0, 128, 255):
        px = bytes([val]) * 256
        got = j.decode_jpeg(
            j.encode_jpeg_gray_progressive(px, 16, 16)
        )[3]
        assert got == j.reference_transform(px, 16, 16)


def test_progressive_and_baseline_gray_decode_identically():
    rng = random.Random(17)
    for w, h in ((8, 8), (24, 16)):
        px = bytes(rng.randrange(256) for _ in range(w * h))
        assert j.decode_jpeg(j.encode_jpeg_gray_progressive(px, w, h)) == (
            j.decode_jpeg(j.encode_jpeg_gray(px, w, h))
        ) == (w, h, 1, j.reference_transform(px, w, h))


def test_progressive_color_roundtrips_match_reference():
    rng = random.Random(31)
    for w, h in ((8, 8), (16, 16)):
        rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
        prog = j.encode_jpeg_color_progressive(rgb, w, h)
        assert b"\xff\xc2" in prog
        w2, h2, ch, dec = j.decode_jpeg(prog)
        assert (w2, h2, ch) == (w, h, 3)
        assert dec == j.reference_transform_color(rgb, w, h, subsampling="444")
        assert dec == j.decode_jpeg(
            j.encode_jpeg_color(rgb, w, h, subsampling="444")
        )[3]


def test_progressive_and_baseline_color_decode_identically():
    rgb = bytes((i * 7) % 256 for i in range(16 * 8 * 3))
    want = (16, 8, 3, j.reference_transform_color(rgb, 16, 8, subsampling="444"))
    assert j.decode_jpeg(j.encode_jpeg_color_progressive(rgb, 16, 8)) == want
    assert j.decode_jpeg(
        j.encode_jpeg_color(rgb, 16, 8, subsampling="444")
    ) == want
    # progressive color is 4:4:4 only: a SOF2 frame claiming 4:2:0 raises
    prog = bytearray(j.encode_jpeg_color_progressive(bytes(16 * 16 * 3), 16, 16))
    sof = prog.find(b"\xff\xc2")
    assert prog[sof + 11] == 0x11
    prog[sof + 11] = 0x22
    with pytest.raises(ValueError, match="4:4:4 only"):
        j.decode_jpeg(bytes(prog))
