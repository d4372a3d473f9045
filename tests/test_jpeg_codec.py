"""JPEG codec: round trips, framing, honesty guards.

The differential contract is decode(encode(px)) == reference_transform(px)
(JPEG is lossy but deterministically so); the catalog query
multimodal_jpeg_decode carries the full DuckDB oracle. These tests pin
the codec itself: entropy-layer losslessness, byte stuffing, marker
tolerance, and the explicit unsupported-variant guards.
"""

from __future__ import annotations

import hashlib
import random

import pytest

from stock_streaming_data_pipeline_spark.operators import jpeg_codec as j


def test_random_roundtrips_match_reference_transform():
    rng = random.Random(42)
    for _ in range(25):
        w = rng.choice([8, 16, 24, 32])
        h = rng.choice([8, 16, 24])
        px = bytes(rng.randrange(256) for _ in range(w * h))
        dw, dh, _, dec = j.decode_jpeg(j.encode_jpeg(px, w, h))
        assert (dw, dh) == (w, h)
        assert dec == j.reference_transform(px, w, h)


def test_uniform_and_extreme_blocks():
    # uniform blocks put DC/Q on exact .5 lattices — the round-6 guard's
    # target case; extremes exercise clamping
    for v in (0, 1, 127, 128, 129, 254, 255):
        px = bytes([v] * 64)
        assert j.decode_jpeg(j.encode_jpeg(px, 8, 8))[3] == (
            j.reference_transform(px, 8, 8)
        )


def test_quality_loss_is_bounded():
    rng = random.Random(1)
    px = bytes(rng.randrange(256) for _ in range(64))
    _, _, _, dec = j.decode_jpeg(j.encode_jpeg(px, 8, 8))
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
        enc = j.encode_jpeg(px, 16, 16)
        assert j.decode_jpeg(enc)[3] == j.reference_transform(px, 16, 16)


def test_dc_differential_across_blocks():
    # blocks with very different DC levels exercise negative diffs and
    # high categories
    px = bytes(([10] * 64) + ([250] * 64))
    dec = j.decode_jpeg(j.encode_jpeg(px, 8, 16))[3]
    assert dec == j.reference_transform(px, 8, 16)


def test_rejects_bad_inputs():
    with pytest.raises(ValueError, match="multiples of 8"):
        j.encode_jpeg(b"\x00" * 63, 7, 9)
    with pytest.raises(ValueError, match="size mismatch"):
        j.encode_jpeg(b"\x00" * 10, 8, 8)
    with pytest.raises(ValueError, match="missing SOI"):
        j.decode_jpeg(b"\x89PNG")
    enc = j.encode_jpeg(b" " * 64, 8, 8)
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
    enc = bytearray(j.encode_jpeg(px, 8, 8))
    assert j.decode_jpeg(bytes(enc)) == j.decode_jpeg(
        j.encode_jpeg_progressive(px, 8, 8)
    )
    i = enc.find(b"\xff\xc0")
    enc[i + 1] = 0xC2  # pretend SOF2 (progressive)
    with pytest.raises(ValueError, match="Se=0"):
        j.decode_jpeg(bytes(enc))


def test_decode_image_routes_jpeg():
    from stock_streaming_data_pipeline_spark.operators import multimodal

    px = bytes(range(64))
    enc = j.encode_jpeg(px, 8, 8)
    w, h, ch, out = multimodal.decode_image(enc)
    assert (w, h, ch) == (8, 8, 1)
    assert bytes(out) == j.reference_transform(px, 8, 8)
    prog = j.encode_jpeg_progressive(px, 8, 8)
    assert multimodal.decode_image(prog) == (
        8, 8, 1, bytearray(j.reference_transform(px, 8, 8))
    )
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x00\x01\x02not-an-image")


def test_jpeg_payloads_get_pixel_features_and_rows(spark):
    """extract_features and pixel_rows read JPEG payloads through
    decode_image: real pixel features (not the digest fake) and the
    decoded samples, both equal to reference_transform of the bytes."""
    from stock_streaming_data_pipeline_spark.operators import multimodal
    from stock_streaming_data_pipeline_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(5)
    media = multimodal.documents_as_jpeg_media(docs, width=8, height=8)
    feats = {
        r["media_id"]: r["feat"] for r in multimodal.extract_features(media).collect()
    }
    rows: dict[int, dict[int, int]] = {}
    for r in multimodal.pixel_rows(media).collect():
        rows.setdefault(r["media_id"], {})[r["i"]] = r["v"]
    raw = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert feats and set(feats) == set(raw) == set(rows)
    for did, text in raw.items():
        px = j.reference_transform(text.encode()[:64].ljust(64, b" "), 8, 8)
        f = feats[did]
        assert f[:4] == [8.0, 8.0, 1.0, 64.0]
        assert f[4] == pytest.approx(sum(px) / 64 / 255.0, abs=1e-12)
        assert f[5:] == [min(px) / 255.0, max(px) / 255.0, px[0] / 255.0]
        assert bytes(rows[did][i] for i in range(64)) == px


# --- color (4:2:0 YCbCr) ---


def test_color_random_roundtrips_match_reference_transform():
    rng = random.Random(9)
    for _ in range(12):
        w = rng.choice([16, 32, 48])
        h = rng.choice([16, 32])
        rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
        dw, dh, _, dec = j.decode_jpeg(j.encode_jpeg(rgb, w, h, subsampling="420"))
        assert (dw, dh) == (w, h)
        assert dec == j.reference_transform_color(rgb, w, h)


def test_color_uniform_and_extreme_images():
    for v in ((0, 0, 0), (255, 255, 255), (255, 0, 0), (0, 255, 0),
              (0, 0, 255), (128, 128, 128), (127, 128, 129)):
        rgb = bytes(v * (16 * 16))
        assert j.decode_jpeg(j.encode_jpeg(rgb, 16, 16, subsampling="420"))[3] == (
            j.reference_transform_color(rgb, 16, 16)
        )


def test_color_dc_differential_across_mcus():
    # two MCUs with opposite chroma extremes: negative DC diffs on all
    # three components' predictors
    rgb = bytes((250, 10, 10) * (16 * 16)) + bytes((10, 10, 250) * (16 * 16))
    assert j.decode_jpeg(j.encode_jpeg(rgb, 16, 32, subsampling="420"))[3] == (
        j.reference_transform_color(rgb, 16, 32)
    )


def test_color_quality_loss_is_bounded():
    rng = random.Random(3)
    rgb = bytes(rng.randrange(256) for _ in range(16 * 16 * 3))
    _, _, _, dec = j.decode_jpeg(j.encode_jpeg(rgb, 16, 16, subsampling="420"))
    mae = sum(abs(a - b) for a, b in zip(rgb, dec)) / len(rgb)
    assert mae < 64  # chroma subsampling on random noise is coarse but sane


def test_color_rejects_bad_inputs():
    with pytest.raises(ValueError, match="multiples of 16"):
        j.encode_jpeg(b"\x00" * (8 * 8 * 3), 8, 8, subsampling="420")
    with pytest.raises(ValueError, match="size mismatch"):
        j.encode_jpeg(b"\x00" * 10, 16, 16, subsampling="420")
    # one decoder for both component counts: a grayscale stream decodes
    # to one channel, a color stream to three, baseline and progressive
    # alike
    gray = b" " * 64
    assert j.decode_jpeg(j.encode_jpeg(gray, 8, 8)) == j.decode_jpeg(
        j.encode_jpeg_progressive(gray, 8, 8)
    ) == (8, 8, 1, j.reference_transform(gray, 8, 8))
    color = b" " * (8 * 8 * 3)
    assert j.decode_jpeg(
        j.encode_jpeg(color, 8, 8, subsampling="444")
    ) == j.decode_jpeg(j.encode_jpeg_progressive(color, 8, 8, subsampling="444")) == (
        8, 8, 3, j.reference_transform_color(color, 8, 8, subsampling="444")
    )
    # a 2-component frame is neither: refused
    enc = bytearray(j.encode_jpeg(color, 8, 8, subsampling="444"))
    sof = enc.find(b"\xff\xc0")
    assert enc[sof + 9] == 3
    enc[sof + 9] = 2
    with pytest.raises(ValueError, match="only grayscale"):
        j.decode_jpeg(bytes(enc))


def test_color_rejects_unsupported_sampling():
    # hand-flip the SOF0 sampling byte for Y from 0x22 to 0x12 (4:4:0,
    # unimplemented): the decoder must refuse rather than misread the
    # MCU layout
    enc = bytearray(j.encode_jpeg(b" " * (16 * 16 * 3), 16, 16, subsampling="420"))
    sof = enc.find(b"\xff\xc0")
    assert sof > 0
    assert enc[sof + 11] == 0x22
    enc[sof + 11] = 0x12
    with pytest.raises(ValueError, match="4:2:0.*4:2:2.*4:4:4"):
        j.decode_jpeg(bytes(enc))
    with pytest.raises(ValueError, match="subsampling must be"):
        j.encode_jpeg(b" " * (16 * 16 * 3), 16, 16, subsampling="440")


def test_color_422_roundtrips_match_reference():
    """4:2:2 (horizontal-only subsampling): 16x8 MCUs, two luma blocks
    per MCU, half-width full-height chroma."""
    rng = random.Random(33)
    for w, h in ((16, 8), (32, 16), (48, 8)):
        rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
        dw, dh, _, dec = j.decode_jpeg(
            j.encode_jpeg(rgb, w, h, subsampling="422")
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
    dec422 = j.decode_jpeg(j.encode_jpeg(rgb, 16, 8, subsampling="422"))[3]
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
    plain = j.decode_jpeg(j.encode_jpeg(px, 32, 24))[3]
    for ri in (1, 2, 3, 7):
        enc = j.encode_jpeg(px, 32, 24, restart_interval=ri)
        assert b"\xff\xdd" in enc  # DRI present
        assert any(bytes((0xFF, 0xD0 + m)) in enc for m in range(8))
        assert j.decode_jpeg(enc)[3] == plain == j.reference_transform(px, 32, 24)

    rgb = bytes(rng.randrange(256) for _ in range(48 * 32 * 3))
    plain_c = j.decode_jpeg(j.encode_jpeg(rgb, 48, 32, subsampling="420"))[3]
    for ri in (1, 2):
        enc = j.encode_jpeg(rgb, 48, 32, restart_interval=ri, subsampling="420")
        assert b"\xff\xdd" in enc
        assert j.decode_jpeg(enc)[3] == plain_c == (
            j.reference_transform_color(rgb, 48, 32)
        )


def test_restart_marker_sequence_is_validated():
    """A wrong RSTn index (resync slip) must be detected, not silently
    accepted as data."""
    px = bytes(range(64)) * 8  # 8 blocks
    enc = bytearray(j.encode_jpeg(px, 64, 8, restart_interval=2))
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
    w, h, ch, px = mm.decode_image(j.encode_jpeg(rgb, 16, 16, subsampling="420"))
    assert (w, h, ch) == (16, 16, 3)
    assert bytes(px) == j.reference_transform_color(rgb, 16, 16)
    gray = bytes((i * 3) % 256 for i in range(64))
    w, h, ch, px = mm.decode_image(j.encode_jpeg(gray, 8, 8))
    assert (w, h, ch) == (8, 8, 1)
    rgb = rgb[: 8 * 8 * 3]
    assert mm.decode_image(j.encode_jpeg_progressive(rgb, 8, 8, subsampling="444")) == (
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
            j.encode_jpeg(rgb, w, h, subsampling="444")
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
        j.encode_jpeg(rgb.ljust(16 * 16 * 3, b"\x00"), 16, 16, subsampling="420")
    )[3]
    dec444 = j.decode_jpeg(j.encode_jpeg(rgb, 8, 8, subsampling="444"))[3]
    # 4:4:4 keeps far more chroma energy on the checkerboard
    def chroma_spread(px, w):
        reds = [px[3 * i] for i in range(w * w)]
        return max(reds) - min(reds)
    assert chroma_spread(dec444, 8) > chroma_spread(dec420, 16) + 50
    rgb2 = bytes(rng.randrange(256) for _ in range(24 * 16 * 3))
    enc = j.encode_jpeg(rgb2, 24, 16, subsampling="444", restart_interval=2)
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
        prog = j.encode_jpeg_progressive(px, w, h)
        assert prog[2:4] != b"\xff\xc0" and b"\xff\xc2" in prog  # SOF2
        w2, h2, ch, dec = j.decode_jpeg(prog)
        assert (w2, h2, ch) == (w, h, 1)
        assert dec == j.reference_transform(px, w, h)
        assert dec == j.decode_jpeg(j.encode_jpeg(px, w, h))[3]


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
            j.encode_jpeg_progressive(bytes(px), 32, 32)
        )[3]
        assert got == j.reference_transform(bytes(px), 32, 32)


def test_progressive_constant_and_extreme_images():
    for val in (0, 128, 255):
        px = bytes([val]) * 256
        got = j.decode_jpeg(
            j.encode_jpeg_progressive(px, 16, 16)
        )[3]
        assert got == j.reference_transform(px, 16, 16)


def test_progressive_and_baseline_gray_decode_identically():
    rng = random.Random(17)
    for w, h in ((8, 8), (24, 16)):
        px = bytes(rng.randrange(256) for _ in range(w * h))
        assert j.decode_jpeg(j.encode_jpeg_progressive(px, w, h)) == (
            j.decode_jpeg(j.encode_jpeg(px, w, h))
        ) == (w, h, 1, j.reference_transform(px, w, h))


def test_progressive_color_roundtrips_match_reference():
    rng = random.Random(31)
    for w, h in ((8, 8), (16, 16)):
        rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
        prog = j.encode_jpeg_progressive(rgb, w, h, subsampling="444")
        assert b"\xff\xc2" in prog
        w2, h2, ch, dec = j.decode_jpeg(prog)
        assert (w2, h2, ch) == (w, h, 3)
        assert dec == j.reference_transform_color(rgb, w, h, subsampling="444")
        assert dec == j.decode_jpeg(
            j.encode_jpeg(rgb, w, h, subsampling="444")
        )[3]


def test_progressive_and_baseline_color_decode_identically():
    rgb = bytes((i * 7) % 256 for i in range(16 * 8 * 3))
    want = (16, 8, 3, j.reference_transform_color(rgb, 16, 8, subsampling="444"))
    assert j.decode_jpeg(
        j.encode_jpeg_progressive(rgb, 16, 8, subsampling="444")
    ) == want
    assert j.decode_jpeg(
        j.encode_jpeg(rgb, 16, 8, subsampling="444")
    ) == want
    # progressive color is 4:4:4 only: a SOF2 frame claiming 4:2:0 raises
    prog = bytearray(
        j.encode_jpeg_progressive(bytes(16 * 16 * 3), 16, 16, subsampling="444")
    )
    sof = prog.find(b"\xff\xc2")
    assert prog[sof + 11] == 0x11
    prog[sof + 11] = 0x22
    with pytest.raises(ValueError, match="4:4:4 only"):
        j.decode_jpeg(bytes(prog))


def test_progressive_encoder_refuses_subsampled_color():
    with pytest.raises(ValueError, match="4:4:4 only"):
        j.encode_jpeg_progressive(b" " * (16 * 16 * 3), 16, 16, subsampling="420")


# SHA-256 of the encoded stream for each of _pin_inputs' three inputs,
# per (encoder, subsampling, width, height, restart interval): "base" is
# encode_jpeg, "prog" encode_jpeg_progressive. Captured from the four
# per-shape encoders (gray, color, gray progressive, color progressive)
# that the two replaced, so the merge changed no byte.
_STREAM_PINS = {
    ("base", None, 8, 8, None): (
        "f19ea0115bd4197d18f31ff7a04dbd2a93c5f4070c84fe97b1eefc6a656ba0aa",
        "c8b6221a4505df58d09d2efda06ef6ac115e731df36bfc52b9c81f95e391d2d9",
        "01ccc18ec6a5c94792cd7451ffe4a35bb0f3b42abf0f3e71ececbb549db013c0",
    ),
    ("base", None, 8, 8, 1): (
        "92e7ba28b4bbd990eb4ef1473e231a580ed42297878a56b0aea4096cb2788895",
        "49bcfd57b905eb968a7267147ebd46cf80e51401dc0bd28643c291a8902c4b5b",
        "76ee0c268fb3ac21461e2d116eeeac0b7e8caec1bc1c2168c93da249a74baebe",
    ),
    ("base", None, 8, 8, 2): (
        "0bc0f89d787cf6924e4d2373e749c2c0424ace43505c9d130f6b58035b74c142",
        "db03fdbca216735e9391945763604e55a59bd5e0b4adc0e19ce199e87ae2ed93",
        "92b008d239f554ea50b44f11cb1d7d34eaa87529874821723b56f07d6e052bea",
    ),
    ("base", None, 8, 8, 3): (
        "77f5ab85c79972e0604837f782c9cba97f7d9b9a2ca8bf512c6b7e8b70921506",
        "e625d43b71aeabbc7f43c1742850d45cf73fb7c12c6aa3789260ea09f1c8f4e8",
        "eafe12d9bcebc5a233b8e796fc1bd740ccfcfd5fa94fa44ec82f887d1efeae0f",
    ),
    ("base", None, 16, 16, None): (
        "5ba4afb87a8aa52676e0abe3d5ac61f5f63e4173079180f79e5ebe0824181173",
        "069c003a67a5df793cb948813f1a366cd53504a8babaa26634e495d9e7ed811d",
        "bcda9f86d589164ea011b4e7ff0e450337c62ce372f8b251ad5055dbabeb43ee",
    ),
    ("base", None, 16, 16, 1): (
        "80842525592e821ca99a94b45491132671457db8a8f0aefd39e812867106a067",
        "df6c4ba1fcfc76b85970280c5b74167835a4669bf0e0e411f65b055fd6ead3f1",
        "375cfa19e71b6e5ed00a11f4d0194cde766174339308abc92dd25b4a2419ff84",
    ),
    ("base", None, 16, 16, 2): (
        "fdfd84568f88460c767ab63f298db703b4a19f60d8bc9d5b168713966639f8b4",
        "8db06fe5f84234071de3c1548283eefa79b620744cfb6bcb2b58ecdf07d53f68",
        "01673bad955232e12bef251541c18dd53adee8e5325cee7f2df8db8dca27464d",
    ),
    ("base", None, 16, 16, 3): (
        "4ffa3e2baf86f76033ccf02dae83da26856c5104eb39f670ae5324dc196c988c",
        "c524e819fe93cabb02878856a54134b065bdea57d76154cdadf97acabce6e371",
        "3ca745cd6044ae381e057a8f1a37a60aaf417ed8d3bf05651f727bf453db6085",
    ),
    ("base", None, 32, 24, None): (
        "820b819f8eae3ef10beb77e2cfc86fca8d82ce5990298a748d98740ebb890de1",
        "9b433bb8d7db4fc2cdab54e023280a870ccd76ba0d6076c6baa6a1416adfd363",
        "a34714f4cd19b3da70c9e0733ec1bcf509baaa339dac4340d31c1d1cd6dec7e1",
    ),
    ("base", None, 32, 24, 1): (
        "cc1d154721158717dad3ca1d5667034c6c31002c6bf3270213ddb1b1f93349e8",
        "69c99c6b5f3ac73f0928f1f55a5c8ed0445d52f593708e0bcc8649b7166037bc",
        "bdfbbcb2a4a9661dc94dc887c41172ffda93e9a257dcef1f6ffd97cec99e77a8",
    ),
    ("base", None, 32, 24, 2): (
        "f0ff4687b9f26ef86ffacf8b4946cd9cd42026c6afed00ecd02fea1032b74e57",
        "e8c764125bea0f69b588482f6515f2e420b4d8f682a428e49f754c1b7197f9df",
        "92580d2465b0532f554973ba1597c13e31579e9874f77e2b9fe00166ed4b9c75",
    ),
    ("base", None, 32, 24, 3): (
        "a1154621663ebef81a3b9d9e23efb673bef81129187ffa03afa762997c2cf633",
        "8d04eace0b5fee9ba652e82ec6a46562aac92bd761653296a0d263db1ab6256c",
        "ac6b69a6f87190b42f0c78e9ed7c0865f011798f43f0891e56a0bef297296b2f",
    ),
    ("base", None, 64, 8, None): (
        "14e598bc06d4d3dfdce0b13170f8b5c1f0ec14ad2f8b23827285f0270c75c197",
        "e73d2675d82f7029ac5f4b4e49adad837a3b24d0ec70c0f33da7d7ac0dd53180",
        "6a46260c32a115998bafb2df97f05d1978969a8c436caee280566ca67ac73bf1",
    ),
    ("base", None, 64, 8, 1): (
        "b4d7c70f014c764cce5cb4bf553ada2052c0343df37333162aa37ac2a09a64f3",
        "6693b1f24f552552cb9ecacc542ece7792e82f7b5f0eab90d53f529f9672a556",
        "d426c9d7a00dced881afd5307e786e0a9ed2d32f15a59e4394f685a9a8f7afb6",
    ),
    ("base", None, 64, 8, 2): (
        "4dfee7017051c716aaf0bfbf94a8972cd1ba441cde97ab1fa3906a04e19741b0",
        "1a9f6bc8c63a0debce2a6fbfd599d08c533604e49ba40f76ea08027f7b0fdb0d",
        "ed7f7983a6a07995127a9b6292e37b68670a4a6f25c8b629aab38a1914e831c8",
    ),
    ("base", None, 64, 8, 3): (
        "b73d16fff4f9d3c1391bf285ccb17406acefb1a73a5c35ba8cbeaa57149c95a6",
        "d12bc839a64f62ed3a021606bb06496df4104acfc8b9e8cd7b78dd156b0da7fc",
        "9c12f95dd32042dadac56bf62fb649f6b3efda7a3f4c056f8fa13cff029f066c",
    ),
    ("base", "420", 32, 16, None): (
        "249b3ea920ec5261ce1d1f95a9affbf295c278f328c1649744e6bfeb17a3c54a",
        "5071b4defe278b52951af68ef34b72db8d85227a75918a03736f02988bf226da",
        "a725ea7686c18796e73bae8bb0e962bccfed29d52b9dc474fc6ecbf09912577c",
    ),
    ("base", "420", 32, 16, 1): (
        "db6ce2e03653aa127ad2a8da897d7cf2ed7f21938f110326c9dbcd76b0a96fc0",
        "a87e6f91a6d17a4254ae3500cd96a911c51b3a67ad4f4b55ce7806fbbfc51552",
        "d229a1bb0df68d17bba4f4f7c4b4bffa4c8d103f59caed4ce24e49eeb455a7bb",
    ),
    ("base", "422", 32, 16, None): (
        "65ca70a659011cf1803272043af4100f1a5311bfc80acb6e3c74305589b34873",
        "283e15ec4eb7425e7979dc99dc2aacebd9a54430031b9cb4619a608c6e95675b",
        "0d805eb95a0d35536fa3b155a5b1fb9b6658b17a0c3c52f4b1122b75ab0f29de",
    ),
    ("base", "422", 32, 16, 1): (
        "fe2c6569c217748816f5dfb1cb0ab7d25ffafd2f149ca5bc3c12c93f68f25bc3",
        "c44cb7f11a863b3cdb35dc503d0a07025ccc728c774ff6dc3eb1f45a8707cca7",
        "4389018b5e7a239675e38ef9f79f3f5212c6ff9902ad98bacb9074e15b6ce209",
    ),
    ("base", "444", 32, 16, None): (
        "8878da9db86d629b7deed25b3e7085235fc6485a6da9253d636a018632128442",
        "635fc91761369e7ef6d5f93dc9963bc434cdfd6ae4ed884a53f4f2d6f47bc969",
        "c848153c972e3309c138c4c44c36d8a1eb9b5bc04c25234ac8a9c7ffb1eea945",
    ),
    ("base", "444", 32, 16, 1): (
        "39d93b002553d129834ce333b7f7e59226b929e5f24d15d53571d0e0d3ae13be",
        "2c07d4ff5d9514f7c5b77cfffff32eb577c1f204039a8a96598dc7c5a81a93a8",
        "265ce3bb9fd7e5a03f722c620104e6debfdb672f967e4b1e1b1d94e823b6bc43",
    ),
    ("prog", None, 16, 16, None): (
        "f873d695ff01ae4c6f40a1315173f20ab1e62283a828404648aed844323f18f8",
        "867cb130b9418613db3a8f3f9350aa290a866e733f57259e83e7699999f8ee3b",
        "7bdd38236e9e63ab28613c5d2df1bd836e69ccad5ebc628a38d1e85ffdb44dff",
    ),
    ("prog", None, 32, 32, None): (
        "c59151d946513a956a0013c26d87e827173d23c88e366a383b255b28d2e96b9c",
        "2c5d39547f2732ee972896dbdbae1851d3c8c0a564ecc939cec736eb3ab8bc81",
        "cd426fc617f7600f2c9579dddd8bc829ac5a18f6bece1d1dc283d469a2a1c4be",
    ),
    ("prog", "444", 8, 8, None): (
        "84a965f3473ce1a0ae36d319828fe603d1c69b1760af172bde2f90cb724ce014",
        "ed76e603477e51f00c61cc88bc801ff5b0713aff8bec976c709834cc7ea2fd67",
        "ec0354fee03cc551b32a14c79bbf3db8a51c83943662536b3afb039ea140230a",
    ),
    ("prog", "444", 16, 8, None): (
        "6ddf8a02d782b9375429b1da15e9c40526c9aeb89a7250c07d7b9ec878a54e12",
        "9788900d11aa8f77685e205a73c48e9cf75856f8e08ff40993c0b78357316879",
        "4f5a1541ea6c904ea7c6faafc30bb71090050ddc85d619532ab384f9773b4e79",
    ),
}


def _pin_inputs(w: int, h: int, ch: int) -> tuple[bytes, ...]:
    """Random noise; a flat field with three spikes (long zero runs: the
    ZRL and EOB paths of every scan type); a checkerboard, phase-shifted
    per channel (high-frequency energy that the progressive refinement
    scans code as history bits behind long zero runs)."""
    n, seed = w * h * ch, w * 1000 + h
    rng = random.Random(seed)
    noise = bytes(rng.randrange(256) for _ in range(n))
    rng = random.Random(seed)
    sparse = bytearray([128]) * n
    for _ in range(3):
        sparse[rng.randrange(n)] = rng.randrange(256)
    checker = bytes(
        200 if (i // ch % w + i // ch // w + i % ch) % 2 else 40 for i in range(n)
    )
    return noise, bytes(sparse), checker


# A gray progressive 64x8 ramp (5 levels per column, wrapping at 256).
# Its AC refinement scans hold history coefficients behind more than 15
# zeros past the last newly visible coefficient: those zeros must fold
# into the EOB, not become ZRLs. The decoder reads both forms, and no
# input of _pin_inputs reaches that case in a gray progressive stream.
_RAMP_PIN = "0dabae55d4aa26bf1811b22a7c1a59e8e4b1450214f8f9a777afeaa26b8c30db"


def test_encoded_streams_are_pinned():
    """The stream bytes themselves, not only the pixels they decode to:
    the catalog stores these payloads, so a change to headers, scan
    order or entropy coding shows here even when decoding hides it."""
    for (kind, sub, w, h, ri), want in _STREAM_PINS.items():
        got = []
        for px in _pin_inputs(w, h, 1 if sub is None else 3):
            if kind == "base":
                enc = j.encode_jpeg(px, w, h, subsampling=sub, restart_interval=ri)
            else:
                enc = j.encode_jpeg_progressive(px, w, h, subsampling=sub)
            got.append(hashlib.sha256(enc).hexdigest())
        assert tuple(got) == want, (kind, sub, w, h, ri)
    ramp = bytes(x * 5 % 256 for _ in range(8) for x in range(64))
    enc = j.encode_jpeg_progressive(ramp, 64, 8)
    assert hashlib.sha256(enc).hexdigest() == _RAMP_PIN
