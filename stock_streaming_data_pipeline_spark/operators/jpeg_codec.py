"""Pure-stdlib JPEG codec (baseline and progressive DCT).

The image tier's third real codec next to PNG (operators/png_codec.py)
and WAV (operators/wav_codec.py): encode (:func:`encode_jpeg` baseline,
:func:`encode_jpeg_progressive`) = level-shift → 8×8 float DCT →
quantize → zigzag → DC-differential + run-length AC → canonical Huffman
entropy coding with byte stuffing; decode (:func:`decode_jpeg`, one
decoder for every supported stream) = one marker walk
(SOI/DQT/SOF0|SOF2/DHT/DRI/SOS.../EOI), Huffman bit reader, per-scan
coefficient accumulation, dequant, IDCT, clamp. No PIL/libjpeg — the
container framing, entropy coding, and transform arithmetic are all
implemented here from the public JPEG spec (ITU T.81), so executors
need only the stdlib.

Scope (honest): baseline sequential (SOF0) single-component 8-bit
grayscale, and 3-component YCbCr color in 4:2:0 (the dominant
real-world shape), 4:2:2 or 4:4:4, all with optional DRI/RSTn restart
markers, plus PROGRESSIVE (SOF2) grayscale and 4:4:4 color; other
samplings (4:4:0 etc.) raise.
JPEG is LOSSY,
so the differential contract is different from PNG's: decode(encode(px))
equals the DETERMINISTIC transform clamp(round(IDCT(dequant(quant(
DCT(px−128)))))+128) — the entropy layer must round-trip losslessly and
the transform is replayable in SQL from literal DCT-basis and quant
tables (plans/llmdata.py `multimodal_jpeg_decode`).

Rounding contract (both engines): every round is floor(x + 0.5) —
half-up, sign-uniform — on IEEE doubles; the DCT basis matrix is
computed ONCE here and embedded as round-trip literals in the oracle,
so the only cross-engine difference is double-sum ordering (~1e-13,
far from the 0.5 boundaries of quantized integer lattices).

Reference scope note: the reference pipeline has no image path at all
(its media surface is the stock JSON feed); this codec is LLM-data-tier
scope, same as the PNG/WAV codecs.
"""

from __future__ import annotations

import math
import struct

from stock_streaming_data_pipeline_spark.tables import sql_double

# Standard luminance quantization table (ITU T.81 Annex K.1) — public.
QUANT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

# Zigzag order: index z -> (row, col) in the 8x8 block.
ZIGZAG = [
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
    (1, 4), (2, 3), (3, 2), (4, 1), (5, 0), (6, 0), (5, 1), (4, 2),
    (3, 3), (2, 4), (1, 5), (0, 6), (0, 7), (1, 6), (2, 5), (3, 4),
    (4, 3), (5, 2), (6, 1), (7, 0), (7, 1), (6, 2), (5, 3), (4, 4),
    (3, 5), (2, 6), (1, 7), (2, 7), (3, 6), (4, 5), (5, 4), (6, 3),
    (7, 2), (7, 3), (6, 4), (5, 5), (4, 6), (3, 7), (4, 7), (5, 6),
    (6, 5), (7, 4), (7, 5), (6, 6), (5, 7), (6, 7), (7, 6), (7, 7),
]

# Orthonormal DCT-II basis: C[u][i] = a(u) * cos((2i+1) u pi / 16),
# a(0)=sqrt(1/8), a(u>0)=1/2. Computed once; the SQL oracle embeds these
# exact doubles as literals.
DCT_BASIS: list[list[float]] = [
    [
        (math.sqrt(1.0 / 8.0) if u == 0 else 0.5)
        * math.cos((2 * i + 1) * u * math.pi / 16.0)
        for i in range(8)
    ]
    for u in range(8)
]


def _round6(x: float) -> float:
    """Half-away-from-zero round to 6 decimals — the same semantics as
    DuckDB's round(x, 6) (Python's built-in round is banker's)."""
    if x >= 0:
        return math.floor(x * 1e6 + 0.5) / 1e6
    return -math.floor(-x * 1e6 + 0.5) / 1e6


def _round_half_up(x: float) -> int:
    """floor(round6(x) + 0.5): every integer-lattice decision is made on
    a round-6 value, so cross-engine double-sum drift (~1e-13) cannot
    flip a pixel/coefficient that sits exactly on a .5 boundary — the
    same ulp-robustness rule as the similarity/Lloyd oracles."""
    return math.floor(_round6(x) + 0.5)


# ---------------------------------------------------------------------------
# Huffman tables: self-describing (written into DHT), deliberately simple —
# every DC category at 4 bits (12 symbols), every AC symbol at 8 bits
# (162 symbols). Valid baseline tables (Kraft 0.75 / 0.633; the all-ones
# code is unused in both), ~15% larger files than Annex K's, irrelevant
# here. Canonical code assignment, so the decoder rebuilds them from the
# DHT BITS/HUFFVAL lists alone.
# ---------------------------------------------------------------------------

_DC_SYMBOLS = list(range(12))
_AC_SYMBOLS = [
    (r << 4) | s for r in range(16) for s in range(1, 11)
] + [0x00, 0xF0]  # 160 run/size symbols + EOB + ZRL
_AC_SYMBOLS.sort()


def _canonical_codes(bits: list[int], symbols: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the canonical JPEG construction."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 162, 0, 0, 0, 0, 0, 0, 0, 0]
_DC_CODES = _canonical_codes(_DC_BITS, _DC_SYMBOLS)
_AC_CODES = _canonical_codes(_AC_BITS, _AC_SYMBOLS)


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            self._n -= 8
            byte = (self._acc >> self._n) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec

    def restart(self, m: int) -> None:
        """Byte-align and emit RSTm (FFD0+m) — markers are raw, never
        stuffed."""
        self.flush()
        self.buf += bytes((0xFF, 0xD0 + (m & 7)))


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self._acc = 0
        self._n = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("jpeg: truncated entropy stream")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError("jpeg: truncated after 0xFF")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1  # stuffed byte
            else:
                raise ValueError(f"jpeg: unexpected marker 0xFF{nxt:02X} in scan")
        self._acc = (self._acc << 8) | b
        self._n += 8

    def read_bit(self) -> int:
        if self._n == 0:
            self._fill()
        self._n -= 1
        return (self._acc >> self._n) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_symbol(self, table: dict) -> int:
        """One Huffman symbol, via a table from _decode_huffman_dht."""
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("jpeg: invalid huffman code")

    def receive_extend(self, cat: int) -> int:
        """The signed value of a ``cat``-bit magnitude (T.81 F.2.2.1)."""
        bits = self.read_bits(cat)
        if cat and bits < (1 << (cat - 1)):
            return bits - (1 << cat) + 1
        return bits

    def expect_restart(self, m: int) -> None:
        """Discard the current byte's padding bits, then consume the
        expected RSTm marker (raw FF D0+m, outside the stuffing layer)."""
        self._n -= self._n % 8  # drop 1-bit padding to the byte boundary
        if self._n:
            raise ValueError("jpeg: misaligned restart")
        self._acc = 0
        if self.pos + 1 >= len(self.data) or self.data[self.pos] != 0xFF or (
            self.data[self.pos + 1] != 0xD0 + (m & 7)
        ):
            raise ValueError(
                f"jpeg: expected RST{m & 7} at byte {self.pos}"
            )
        self.pos += 2


def _magnitude(v: int) -> tuple[int, int]:
    """(category, magnitude bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    cat = a.bit_length()
    bits = v if v > 0 else v + (1 << cat) - 1
    return cat, bits


def reference_transform(pixels: bytes, width: int, height: int) -> bytes:
    """The deterministic lossy transform decode(encode(px)) must equal:
    per 8×8 block, quantize/dequantize the orthonormal DCT and invert.
    This is the SQL-replayable contract the oracle recomputes."""
    if width % 8 or height % 8:
        raise ValueError("jpeg: dimensions must be multiples of 8")
    out = bytearray(len(pixels))
    C = DCT_BASIS
    for by in range(0, height, 8):
        for bx in range(0, width, 8):
            X = [
                [pixels[(by + r) * width + bx + c] - 128.0 for c in range(8)]
                for r in range(8)
            ]
            # Y = C X C^T
            T = [
                [sum(C[u][i] * X[i][j] for i in range(8)) for j in range(8)]
                for u in range(8)
            ]
            Y = [
                [sum(T[u][j] * C[v][j] for j in range(8)) for v in range(8)]
                for u in range(8)
            ]
            Q = [
                [
                    _round_half_up(Y[u][v] / QUANT_LUMA[u * 8 + v])
                    * QUANT_LUMA[u * 8 + v]
                    for v in range(8)
                ]
                for u in range(8)
            ]
            # X' = C^T Q C
            T2 = [
                [sum(C[u][i] * Q[u][j] for u in range(8)) for j in range(8)]
                for i in range(8)
            ]
            for r in range(8):
                for c in range(8):
                    x = sum(T2[r][j] * C[j][c] for j in range(8)) + 128.0
                    out[(by + r) * width + bx + c] = min(
                        255, max(0, _round_half_up(x))
                    )
    return bytes(out)


def sql_reference_stats(media_text_sql: str, *, table: str = "documents") -> str:
    """DuckDB oracle for the 8×8 grayscale JPEG round-trip: replays
    :func:`reference_transform` relationally — pixels from the sanitized
    text bytes, DCT via the literal basis matrix (two join-aggregate
    matrix products), floor(x+0.5) quantize/dequantize against the
    literal Annex-K table, IDCT, clamp — reduced to the same pixel
    statistics as :func:`multimodal.pixel_stats`. The entropy layer
    (Huffman/byte stuffing/markers) has no SQL analogue; its correctness
    is exactly what the differential proves, because any entropy bug
    breaks decode(encode(px)) == reference_transform(px)."""
    cvals = ",\n    ".join(
        f"({u}, {i}, {sql_double(DCT_BASIS[u][i])})" for u in range(8) for i in range(8)
    )
    qvals = ",\n    ".join(
        f"({u}, {v}, {QUANT_LUMA[u * 8 + v]})" for u in range(8) for v in range(8)
    )
    return f"""
WITH t AS (
  SELECT doc_id AS media_id,
         substr({media_text_sql} || repeat(' ', 64), 1, 64) AS s
  FROM {table}
),
cmat(u, i, w) AS (VALUES
    {cvals}
),
qmat(u, v, q) AS (VALUES
    {qvals}
),
px AS (
  SELECT media_id,
         CAST((u.i - 1) // 8 AS INT) AS r, CAST((u.i - 1) % 8 AS INT) AS c,
         ascii(substr(s, CAST(u.i AS INT), 1)) - 128.0 AS v
  FROM t, unnest(range(1, 65)) AS u(i)
),
t1 AS (
  SELECT px.media_id, cm.u, px.c AS j, sum(cm.w * px.v) AS tv
  FROM px JOIN cmat cm ON cm.i = px.r
  GROUP BY 1, 2, 3
),
y AS (
  SELECT t1.media_id, t1.u, cm.u AS v, sum(t1.tv * cm.w) AS yv
  FROM t1 JOIN cmat cm ON cm.i = t1.j
  GROUP BY 1, 2, 3
),
qz AS (
  SELECT y.media_id, y.u, y.v,
         floor(round(y.yv / qm.q, 6) + 0.5) * qm.q AS qv
  FROM y JOIN qmat qm ON qm.u = y.u AND qm.v = y.v
),
t2 AS (
  SELECT qz.media_id, cm.i, qz.v AS j, sum(cm.w * qz.qv) AS tv
  FROM qz JOIN cmat cm ON cm.u = qz.u
  GROUP BY 1, 2, 3
),
xr AS (
  SELECT t2.media_id, t2.i AS r, cm.i AS c,
         least(255, greatest(0,
           CAST(floor(round(sum(t2.tv * cm.w) + 128.0, 6) + 0.5)
                AS BIGINT))) AS v
  FROM t2 JOIN cmat cm ON cm.u = t2.j
  GROUP BY 1, 2, 3
)
SELECT media_id, 8 AS width, 8 AS height,
       CAST(sum(v) AS BIGINT) AS sum_px,
       CAST(min(v) AS INT) AS min_px, CAST(max(v) AS INT) AS max_px,
       round(CAST(sum(v) AS DOUBLE) / 64, 6) AS mean_px
FROM xr GROUP BY media_id
"""


def _decode_huffman_dht(seg: bytes) -> dict[int, dict]:
    """Parse one DHT segment (may hold several tables)."""
    tables: dict[int, dict] = {}
    pos = 0
    while pos < len(seg):
        tc_th = seg[pos]
        pos += 1
        bits = list(seg[pos : pos + 16])
        pos += 16
        n = sum(bits)
        symbols = list(seg[pos : pos + n])
        if len(bits) < 16 or len(symbols) < n:
            raise ValueError("jpeg: truncated DHT")
        pos += n
        codes = _canonical_codes(bits, symbols)
        # invert: (length, code) -> symbol for the bit reader
        lookup = {(ln, code): sym for sym, (code, ln) in codes.items()}
        tables[tc_th] = lookup
    return tables


# ---------------------------------------------------------------------------
# Color: baseline 4:2:0 YCbCr (3-component SOF0, Y sampled 2x2, Cb/Cr 1x1)
# — the overwhelmingly common real-world JPEG shape. Same differential
# contract as grayscale: decode(encode(rgb)) == reference_transform_color,
# replayable relationally. Components share the self-describing Huffman
# tables above (baseline permits shared tables; compression, not
# correctness, is what dedicated chroma tables would buy).
# ---------------------------------------------------------------------------

# Standard chrominance quantization table (ITU T.81 Annex K.2) — public.
QUANT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# JFIF RGB <-> YCbCr coefficients (ITU-R BT.601, the JFIF standard ones).
# Module-level so the SQL oracle interpolates the IDENTICAL doubles.
YCC_FWD = (0.299, 0.587, 0.114, -0.168736, -0.331264, 0.5,
           0.5, -0.418688, -0.081312)
YCC_INV = (1.402, -0.344136, -0.714136, 1.772)


def _clamp8(v: int) -> int:
    return 255 if v > 255 else (0 if v < 0 else v)


# Chroma divisors (horizontal, vertical) per supported sampling layout:
# 4:2:0 halves both axes, 4:2:2 halves horizontally only, 4:4:4 keeps
# full resolution. MCU is (8*hdiv) x (8*vdiv); the Y SOF0 sampling byte
# is (hdiv << 4) | vdiv.
SAMPLING_DIVS = {"420": (2, 2), "422": (2, 1), "444": (1, 1)}


def _sampling_divs(subsampling: str) -> tuple[int, int]:
    try:
        return SAMPLING_DIVS[subsampling]
    except KeyError:
        raise ValueError(
            "jpeg color: subsampling must be one of "
            + "/".join(sorted(SAMPLING_DIVS))
        ) from None


def rgb_to_ycbcr_planes(
    rgb: bytes, width: int, height: int, *, subsampling: str = "420"
):
    """Lattice-rounded JFIF conversion; the chroma subsample averages
    the hdiv×vdiv cell of ROUNDED full-res chroma samples and rounds
    again — the two-step integer lattice the SQL oracle replays.
    Returns (Y plane w*h, Cb, Cr) as int lists — chroma at
    (w/hdiv)*(h/vdiv). Shared by the encoder and the reference
    transform so both feed the DCT the same integers."""
    hdiv, vdiv = _sampling_divs(subsampling)
    mw, mh = 8 * hdiv, 8 * vdiv
    if width % mw or height % mh:
        raise ValueError(
            f"jpeg color: dimensions must be multiples of {mw}x{mh}"
        )
    if len(rgb) != width * height * 3:
        raise ValueError("jpeg color: pixel buffer size mismatch")
    ky_r, ky_g, ky_b, kb_r, kb_g, kb_b, kr_r, kr_g, kr_b = YCC_FWD
    yp = [0] * (width * height)
    cbf = [0] * (width * height)
    crf = [0] * (width * height)
    for i in range(width * height):
        r, g, b = rgb[3 * i], rgb[3 * i + 1], rgb[3 * i + 2]
        yp[i] = _clamp8(_round_half_up(ky_r * r + ky_g * g + ky_b * b))
        cbf[i] = _clamp8(_round_half_up(kb_r * r + kb_g * g + kb_b * b + 128.0))
        crf[i] = _clamp8(_round_half_up(kr_r * r + kr_g * g + kr_b * b + 128.0))
    if (hdiv, vdiv) == (1, 1):
        return yp, cbf, crf
    cw, ch = width // hdiv, height // vdiv
    cell = float(hdiv * vdiv)
    cb = [0] * (cw * ch)
    cr = [0] * (cw * ch)
    for sr in range(ch):
        for sc in range(cw):
            idx = [
                (vdiv * sr + dr) * width + hdiv * sc + dc
                for dr in range(vdiv)
                for dc in range(hdiv)
            ]
            cb[sr * cw + sc] = _round_half_up(sum(cbf[j] for j in idx) / cell)
            cr[sr * cw + sc] = _round_half_up(sum(crf[j] for j in idx) / cell)
    return yp, cb, cr


def _forward_block_zz(plane, stride: int, bx: int, by: int, qtab) -> list[int]:
    """Quantized zigzag coefficients of one 8x8 block (level-shift → DCT
    → half-up quantize) — the encoder's per-block forward path."""
    C = DCT_BASIS
    X = [
        [plane[(by + r) * stride + bx + c] - 128.0 for c in range(8)]
        for r in range(8)
    ]
    T = [
        [sum(C[u][i] * X[i][j] for i in range(8)) for j in range(8)]
        for u in range(8)
    ]
    Y = [
        [sum(T[u][j] * C[v][j] for j in range(8)) for v in range(8)]
        for u in range(8)
    ]
    return [_round_half_up(Y[r][c] / qtab[r * 8 + c]) for (r, c) in ZIGZAG]


def _inverse_block(zz, qtab):
    """Dequant + IDCT + half-up round + clamp for one block of zigzag
    coefficients — the decoder's per-block inverse path. Returns an 8x8
    row-major list of ints."""
    C = DCT_BASIS
    Q = [[0.0] * 8 for _ in range(8)]
    for z, (r, c) in enumerate(ZIGZAG):
        Q[r][c] = float(zz[z] * qtab[r * 8 + c])
    T2 = [
        [sum(C[u][i] * Q[u][j] for u in range(8)) for j in range(8)]
        for i in range(8)
    ]
    out = [0] * 64
    for r in range(8):
        for c in range(8):
            x = sum(T2[r][j] * C[j][c] for j in range(8)) + 128.0
            out[r * 8 + c] = _clamp8(_round_half_up(x))
    return out


def ycbcr_to_rgb_bytes(
    yp, cb, cr, width: int, height: int, *, subsampling: str = "420"
) -> bytes:
    """Replicated chroma upsample (identity for 4:4:4) + lattice-rounded
    JFIF inverse."""
    hdiv, vdiv = _sampling_divs(subsampling)
    ki_cr_r, ki_cb_g, ki_cr_g, ki_cb_b = YCC_INV
    cw = width // hdiv
    out = bytearray(width * height * 3)
    for r in range(height):
        for c in range(width):
            y = yp[r * width + c]
            ci = (r // vdiv) * cw + c // hdiv
            cbv = cb[ci] - 128.0
            crv = cr[ci] - 128.0
            i = 3 * (r * width + c)
            out[i] = _clamp8(_round_half_up(y + ki_cr_r * crv))
            out[i + 1] = _clamp8(_round_half_up(y + ki_cb_g * cbv + ki_cr_g * crv))
            out[i + 2] = _clamp8(_round_half_up(y + ki_cb_b * cbv))
    return bytes(out)


def reference_transform_color(
    rgb: bytes, width: int, height: int, *, subsampling: str = "420"
) -> bytes:
    """decode(encode_jpeg(rgb, subsampling=...)) must equal THIS: lattice YCbCr
    (+ 2x2 subsample for 4:2:0), per-block quantize-roundtrip
    (luma/chroma Annex-K tables), replicated upsample (identity for
    4:4:4), lattice inverse conversion — fully SQL-replayable
    (sql_reference_stats_color)."""
    hdiv, vdiv = _sampling_divs(subsampling)
    yp, cb, cr = rgb_to_ycbcr_planes(rgb, width, height, subsampling=subsampling)
    cw, ch = width // hdiv, height // vdiv

    def roundtrip(plane, w, h, qtab):
        out = [0] * (w * h)
        for by in range(0, h, 8):
            for bx in range(0, w, 8):
                blk = _inverse_block(_forward_block_zz(plane, w, bx, by, qtab), qtab)
                for r in range(8):
                    for c in range(8):
                        out[(by + r) * w + bx + c] = blk[r * 8 + c]
        return out

    y2 = roundtrip(yp, width, height, QUANT_LUMA)
    cb2 = roundtrip(cb, cw, ch, QUANT_CHROMA)
    cr2 = roundtrip(cr, cw, ch, QUANT_CHROMA)
    return ycbcr_to_rgb_bytes(
        y2, cb2, cr2, width, height, subsampling=subsampling
    )


def sql_reference_stats_color(media_text_sql: str, *, table: str = "documents") -> str:
    """DuckDB oracle for the 16×16 4:2:0 color JPEG round-trip: replays
    :func:`reference_transform_color` relationally — interleaved RGB from
    the sanitized text bytes, lattice JFIF YCbCr conversion, 2×2 chroma
    average, per-block DCT quantize-roundtrip (four luma blocks against
    the Annex-K.1 table, one 8×8 block per chroma channel against the
    Annex-K.2 table), replicated upsample, lattice inverse conversion —
    reduced to the channel-summed pixel statistics of
    :func:`multimodal.pixel_stats`. Entropy layer correctness
    is what the differential proves, exactly as in the grayscale oracle."""
    cvals = ",\n    ".join(
        f"({u}, {i}, {sql_double(DCT_BASIS[u][i])})" for u in range(8) for i in range(8)
    )
    qvals = ",\n    ".join(
        f"({u}, {v}, {QUANT_LUMA[u * 8 + v]})" for u in range(8) for v in range(8)
    )
    qcvals = ",\n    ".join(
        f"({u}, {v}, {QUANT_CHROMA[u * 8 + v]})" for u in range(8) for v in range(8)
    )
    ky_r, ky_g, ky_b, kb_r, kb_g, kb_b, kr_r, kr_g, kr_b = YCC_FWD
    ki_cr_r, ki_cb_g, ki_cr_g, ki_cb_b = YCC_INV
    lat = "CAST(least(255, greatest(0, floor(round({x}, 6) + 0.5))) AS BIGINT)"
    return f"""
WITH t AS (
  SELECT doc_id AS media_id,
         substr({media_text_sql} || repeat(' ', 768), 1, 768) AS s
  FROM {table}
),
cmat(u, i, w) AS (VALUES
    {cvals}
),
qmat(u, v, q) AS (VALUES
    {qvals}
),
qmatc(u, v, q) AS (VALUES
    {qcvals}
),
px AS (
  SELECT media_id,
         CAST((u.i - 1) // 16 AS INT) AS r, CAST((u.i - 1) % 16 AS INT) AS c,
         CAST(ascii(substr(s, CAST((u.i - 1) * 3 + 1 AS INT), 1)) AS DOUBLE) AS rv,
         CAST(ascii(substr(s, CAST((u.i - 1) * 3 + 2 AS INT), 1)) AS DOUBLE) AS gv,
         CAST(ascii(substr(s, CAST((u.i - 1) * 3 + 3 AS INT), 1)) AS DOUBLE) AS bv
  FROM t, unnest(range(1, 257)) AS u(i)
),
ycc AS (
  SELECT media_id, r, c,
    {lat.format(x=f"({sql_double(ky_r)}) * rv + ({sql_double(ky_g)}) * gv + ({sql_double(ky_b)}) * bv")} AS y,
    {lat.format(x=f"({sql_double(kb_r)}) * rv + ({sql_double(kb_g)}) * gv + ({sql_double(kb_b)}) * bv + 128.0")} AS cb,
    {lat.format(x=f"({sql_double(kr_r)}) * rv + ({sql_double(kr_g)}) * gv + ({sql_double(kr_b)}) * bv + 128.0")} AS cr
  FROM px
),
csub AS (
  SELECT media_id, r // 2 AS sr, c // 2 AS sc,
         CAST(floor(round(avg(CAST(cb AS DOUBLE)), 6) + 0.5) AS BIGINT) AS cbs,
         CAST(floor(round(avg(CAST(cr AS DOUBLE)), 6) + 0.5) AS BIGINT) AS crs
  FROM ycc GROUP BY 1, 2, 3
),
ylv AS (
  SELECT media_id, (r // 8) * 2 + (c // 8) AS blk, r % 8 AS lr, c % 8 AS lc,
         CAST(y AS DOUBLE) - 128.0 AS v
  FROM ycc
),
yt1 AS (
  SELECT ylv.media_id, ylv.blk, cm.u, ylv.lc AS j, sum(cm.w * ylv.v) AS tv
  FROM ylv JOIN cmat cm ON cm.i = ylv.lr
  GROUP BY 1, 2, 3, 4
),
yy AS (
  SELECT yt1.media_id, yt1.blk, yt1.u, cm.u AS v, sum(yt1.tv * cm.w) AS yv
  FROM yt1 JOIN cmat cm ON cm.i = yt1.j
  GROUP BY 1, 2, 3, 4
),
yqz AS (
  SELECT yy.media_id, yy.blk, yy.u, yy.v,
         floor(round(yy.yv / qm.q, 6) + 0.5) * qm.q AS qv
  FROM yy JOIN qmat qm ON qm.u = yy.u AND qm.v = yy.v
),
yt2 AS (
  SELECT yqz.media_id, yqz.blk, cm.i, yqz.v AS j, sum(cm.w * yqz.qv) AS tv
  FROM yqz JOIN cmat cm ON cm.u = yqz.u
  GROUP BY 1, 2, 3, 4
),
yrc AS (
  SELECT yt2.media_id,
         (yt2.blk // 2) * 8 + yt2.i AS r, (yt2.blk % 2) * 8 + cm.i AS c,
         {lat.format(x="sum(yt2.tv * cm.w) + 128.0")} AS y2
  FROM yt2 JOIN cmat cm ON cm.u = yt2.j
  GROUP BY 1, yt2.blk, yt2.i, cm.i
),
clv AS (
  SELECT media_id, 'cb' AS ch, sr AS lr, sc AS lc,
         CAST(cbs AS DOUBLE) - 128.0 AS v FROM csub
  UNION ALL
  SELECT media_id, 'cr', sr, sc, CAST(crs AS DOUBLE) - 128.0 FROM csub
),
ct1 AS (
  SELECT clv.media_id, clv.ch, cm.u, clv.lc AS j, sum(cm.w * clv.v) AS tv
  FROM clv JOIN cmat cm ON cm.i = clv.lr
  GROUP BY 1, 2, 3, 4
),
cy AS (
  SELECT ct1.media_id, ct1.ch, ct1.u, cm.u AS v, sum(ct1.tv * cm.w) AS yv
  FROM ct1 JOIN cmat cm ON cm.i = ct1.j
  GROUP BY 1, 2, 3, 4
),
cqz AS (
  SELECT cy.media_id, cy.ch, cy.u, cy.v,
         floor(round(cy.yv / qm.q, 6) + 0.5) * qm.q AS qv
  FROM cy JOIN qmatc qm ON qm.u = cy.u AND qm.v = cy.v
),
ct2 AS (
  SELECT cqz.media_id, cqz.ch, cm.i, cqz.v AS j, sum(cm.w * cqz.qv) AS tv
  FROM cqz JOIN cmat cm ON cm.u = cqz.u
  GROUP BY 1, 2, 3, 4
),
crc AS (
  SELECT ct2.media_id, ct2.ch, ct2.i AS sr, cm.i AS sc,
         {lat.format(x="sum(ct2.tv * cm.w) + 128.0")} AS val
  FROM ct2 JOIN cmat cm ON cm.u = ct2.j
  GROUP BY 1, 2, 3, 4
),
cj AS (
  SELECT media_id, sr, sc,
         max(CASE WHEN ch = 'cb' THEN val END) AS cb2,
         max(CASE WHEN ch = 'cr' THEN val END) AS cr2
  FROM crc GROUP BY 1, 2, 3
),
rgb AS (
  SELECT y.media_id,
    {lat.format(x=f"CAST(y.y2 AS DOUBLE) + ({sql_double(ki_cr_r)}) * (CAST(cj.cr2 AS DOUBLE) - 128.0)")} AS r2,
    {lat.format(x=f"CAST(y.y2 AS DOUBLE) + ({sql_double(ki_cb_g)}) * (CAST(cj.cb2 AS DOUBLE) - 128.0) + ({sql_double(ki_cr_g)}) * (CAST(cj.cr2 AS DOUBLE) - 128.0)")} AS g2,
    {lat.format(x=f"CAST(y.y2 AS DOUBLE) + ({sql_double(ki_cb_b)}) * (CAST(cj.cb2 AS DOUBLE) - 128.0)")} AS b2
  FROM yrc y JOIN cj
    ON cj.media_id = y.media_id AND cj.sr = y.r // 2 AND cj.sc = y.c // 2
)
SELECT media_id, 16 AS width, 16 AS height,
       CAST(sum(r2 + g2 + b2) AS BIGINT) AS sum_px,
       CAST(min(least(r2, g2, b2)) AS INT) AS min_px,
       CAST(max(greatest(r2, g2, b2)) AS INT) AS max_px,
       round(CAST(sum(r2 + g2 + b2) AS DOUBLE) / 768, 6) AS mean_px
FROM rgb GROUP BY media_id
"""


def sql_reference_stats_color_444(
    media_text_sql: str, *, table: str = "documents"
) -> str:
    """DuckDB oracle for the 8×8 4:4:4 color JPEG round-trip: one block
    per plane (an 8×8 image is a single MCU in 4:4:4), so all three
    channels replay through one ch-keyed CTE chain — Y against the
    Annex-K.1 table, Cb/Cr against K.2 — with the same lattice
    conversion discipline as the 4:2:0 oracle, minus the subsample
    stage (4:4:4 has none)."""
    cvals = ",\n    ".join(
        f"({u}, {i}, {sql_double(DCT_BASIS[u][i])})" for u in range(8) for i in range(8)
    )
    qvals = ",\n    ".join(
        f"({u}, {v}, {QUANT_LUMA[u * 8 + v]})" for u in range(8) for v in range(8)
    )
    qcvals = ",\n    ".join(
        f"({u}, {v}, {QUANT_CHROMA[u * 8 + v]})" for u in range(8) for v in range(8)
    )
    ky_r, ky_g, ky_b, kb_r, kb_g, kb_b, kr_r, kr_g, kr_b = YCC_FWD
    ki_cr_r, ki_cb_g, ki_cr_g, ki_cb_b = YCC_INV
    lat = "CAST(least(255, greatest(0, floor(round({x}, 6) + 0.5))) AS BIGINT)"
    return f"""
WITH t AS (
  SELECT doc_id AS media_id,
         substr({media_text_sql} || repeat(' ', 192), 1, 192) AS s
  FROM {table}
),
cmat(u, i, w) AS (VALUES
    {cvals}
),
qmat(ch, u, v, q) AS (
  SELECT 'y', * FROM (VALUES
    {qvals}
  )
  UNION ALL SELECT 'cb', * FROM (VALUES
    {qcvals}
  )
  UNION ALL SELECT 'cr', * FROM (VALUES
    {qcvals}
  )
),
px AS (
  SELECT media_id,
         CAST((u.i - 1) // 8 AS INT) AS r, CAST((u.i - 1) % 8 AS INT) AS c,
         CAST(ascii(substr(s, CAST((u.i - 1) * 3 + 1 AS INT), 1)) AS DOUBLE) AS rv,
         CAST(ascii(substr(s, CAST((u.i - 1) * 3 + 2 AS INT), 1)) AS DOUBLE) AS gv,
         CAST(ascii(substr(s, CAST((u.i - 1) * 3 + 3 AS INT), 1)) AS DOUBLE) AS bv
  FROM t, unnest(range(1, 65)) AS u(i)
),
ycc AS (
  SELECT media_id, 'y' AS ch, r, c,
         {lat.format(x=f"({sql_double(ky_r)}) * rv + ({sql_double(ky_g)}) * gv + ({sql_double(ky_b)}) * bv")} AS v
  FROM px
  UNION ALL
  SELECT media_id, 'cb', r, c,
         {lat.format(x=f"({sql_double(kb_r)}) * rv + ({sql_double(kb_g)}) * gv + ({sql_double(kb_b)}) * bv + 128.0")}
  FROM px
  UNION ALL
  SELECT media_id, 'cr', r, c,
         {lat.format(x=f"({sql_double(kr_r)}) * rv + ({sql_double(kr_g)}) * gv + ({sql_double(kr_b)}) * bv + 128.0")}
  FROM px
),
lvl AS (
  SELECT media_id, ch, r AS lr, c AS lc, CAST(v AS DOUBLE) - 128.0 AS v
  FROM ycc
),
t1 AS (
  SELECT lvl.media_id, lvl.ch, cm.u, lvl.lc AS j, sum(cm.w * lvl.v) AS tv
  FROM lvl JOIN cmat cm ON cm.i = lvl.lr
  GROUP BY 1, 2, 3, 4
),
y AS (
  SELECT t1.media_id, t1.ch, t1.u, cm.u AS v, sum(t1.tv * cm.w) AS yv
  FROM t1 JOIN cmat cm ON cm.i = t1.j
  GROUP BY 1, 2, 3, 4
),
qz AS (
  SELECT y.media_id, y.ch, y.u, y.v,
         floor(round(y.yv / qm.q, 6) + 0.5) * qm.q AS qv
  FROM y JOIN qmat qm ON qm.ch = y.ch AND qm.u = y.u AND qm.v = y.v
),
t2 AS (
  SELECT qz.media_id, qz.ch, cm.i, qz.v AS j, sum(cm.w * qz.qv) AS tv
  FROM qz JOIN cmat cm ON cm.u = qz.u
  GROUP BY 1, 2, 3, 4
),
rec AS (
  SELECT t2.media_id, t2.ch, t2.i AS r, cm.i AS c,
         {lat.format(x="sum(t2.tv * cm.w) + 128.0")} AS val
  FROM t2 JOIN cmat cm ON cm.u = t2.j
  GROUP BY 1, 2, 3, 4
),
pj AS (
  SELECT media_id, r, c,
         max(CASE WHEN ch = 'y' THEN val END) AS y2,
         max(CASE WHEN ch = 'cb' THEN val END) AS cb2,
         max(CASE WHEN ch = 'cr' THEN val END) AS cr2
  FROM rec GROUP BY 1, 2, 3
),
rgb AS (
  SELECT media_id,
    {lat.format(x=f"CAST(y2 AS DOUBLE) + ({sql_double(ki_cr_r)}) * (CAST(cr2 AS DOUBLE) - 128.0)")} AS r2,
    {lat.format(x=f"CAST(y2 AS DOUBLE) + ({sql_double(ki_cb_g)}) * (CAST(cb2 AS DOUBLE) - 128.0) + ({sql_double(ki_cr_g)}) * (CAST(cr2 AS DOUBLE) - 128.0)")} AS g2,
    {lat.format(x=f"CAST(y2 AS DOUBLE) + ({sql_double(ki_cb_b)}) * (CAST(cb2 AS DOUBLE) - 128.0)")} AS b2
  FROM pj
)
SELECT media_id, 8 AS width, 8 AS height,
       CAST(sum(r2 + g2 + b2) AS BIGINT) AS sum_px,
       CAST(min(least(r2, g2, b2)) AS INT) AS min_px,
       CAST(max(greatest(r2, g2, b2)) AS INT) AS max_px,
       round(CAST(sum(r2 + g2 + b2) AS DOUBLE) / 192, 6) AS mean_px
FROM rgb GROUP BY media_id
"""


# ---------------------------------------------------------------------------
# Progressive (SOF2) — spectral selection + successive approximation per
# ITU T.81 Annex G, the last common real-world JPEG shape (every
# "optimized for web" photo), for grayscale and 4:4:4 color. The scan
# script is the classic simple progression: DC at Al=1 then refined,
# each AC band (1-5, 6-63) first at Al=2 then refined 2→1→0, one
# component per scan. Same differential contract as baseline: the
# quantized coefficients are IDENTICAL to SOF0's — progressive is purely
# a different entropy layering — so decode(encode_jpeg_progressive(px))
# == reference_transform(px) and the SAME relational oracle checks both
# paths. EOB runs are emitted as EOB0 only (the Annex-K Huffman tables
# carry no EOBn>0 symbols); the decoder handles general EOBn for spec
# compliance.
# ---------------------------------------------------------------------------

# (Ss, Se, Ah, Al) per scan — libjpeg's default simple progression for a
# single component.
_PROGRESSIVE_SCANS = (
    (0, 0, 0, 1),
    (1, 5, 0, 2),
    (6, 63, 0, 2),
    (1, 5, 2, 1),
    (6, 63, 2, 1),
    (0, 0, 1, 0),
    (1, 5, 1, 0),
    (6, 63, 1, 0),
)


# ---------------------------------------------------------------------------
# Encoder: one path for every stream the decoder reads. A frame is a
# component list (id, h, v, qtable, plane, stride) — one gray component,
# or Y + Cb + Cr in a SAMPLING_DIVS layout — whose 8x8 blocks each go
# through _forward_block_zz once. The baseline encoder codes them in one
# interleaved scan, the progressive one in the _PROGRESSIVE_SCANS script;
# both write the same headers and the same DC difference and AC band
# codes (_write_dc, _write_ac_band — the encoder twins of the decoder's
# receive_extend and _decode_ac_band).
# ---------------------------------------------------------------------------


def _frame_components(pixels, width: int, height: int, subsampling):
    """``(id, h, v, qtable, plane, stride)`` per frame component:
    ``subsampling=None`` is one gray component over ``pixels``;
    ``"420"``/``"422"``/``"444"`` converts interleaved RGB to Y (sampled
    hdiv x vdiv, luma table) + Cb + Cr (1x1, chroma table)."""
    if subsampling is None:
        if width % 8 or height % 8:
            raise ValueError("jpeg: dimensions must be multiples of 8")
        if len(pixels) != width * height:
            raise ValueError("jpeg: pixel buffer size mismatch")
        return [(1, 1, 1, QUANT_LUMA, pixels, width)]
    hdiv, vdiv = _sampling_divs(subsampling)
    yp, cb, cr = rgb_to_ycbcr_planes(pixels, width, height, subsampling=subsampling)
    cw = width // hdiv
    return [
        (1, hdiv, vdiv, QUANT_LUMA, yp, width),
        (2, 1, 1, QUANT_CHROMA, cb, cw),
        (3, 1, 1, QUANT_CHROMA, cr, cw),
    ]


def _component_blocks(comps, height: int) -> list[list[list[int]]]:
    """Each component's quantized zigzag blocks, row-major over its plane
    (the decoder's block order)."""
    vmax = comps[0][2]
    return [
        [
            _forward_block_zz(plane, stride, bx, by, qtab)
            for by in range(0, height * v // vmax, 8)
            for bx in range(0, stride, 8)
        ]
        for _cid, _h, v, qtab, plane, stride in comps
    ]


def _write_headers(comps, width: int, height: int, sof: int) -> bytearray:
    """SOI, one DQT per quant table in use, SOF0 (``sof`` 0xC0) or SOF2
    (0xC2), and the DHT segments of the shared DC and AC tables (ids 0)."""
    qtabs: list[list[int]] = []
    for comp in comps:
        if comp[3] not in qtabs:
            qtabs.append(comp[3])
    out = bytearray(b"\xff\xd8")
    for tq, tab in enumerate(qtabs):
        # 8-bit precision, entries in zigzag order
        zz_q = bytes(tab[r * 8 + c] for (r, c) in ZIGZAG)
        out += b"\xff\xdb" + struct.pack(">HB", 2 + 1 + 64, tq) + zz_q
    n = len(comps)
    out += bytes((0xFF, sof))
    out += struct.pack(">HBHHB", 2 + 6 + 3 * n, 8, height, width, n)
    for cid, h, v, qtab, _plane, _stride in comps:
        out += struct.pack(">BBB", cid, (h << 4) | v, qtabs.index(qtab))
    for tc_th, bits, symbols in (
        (0x00, _DC_BITS, _DC_SYMBOLS), (0x10, _AC_BITS, _AC_SYMBOLS)
    ):
        out += b"\xff\xc4" + struct.pack(">HB", 2 + 1 + 16 + len(symbols), tc_th)
        out += bytes(bits) + bytes(symbols)
    return out


def _write_sos(cids, ss: int, se: int, ah: int, al: int) -> bytes:
    """SOS header: every scan component uses DC table 0 / AC table 0."""
    out = b"\xff\xda" + struct.pack(">HB", 2 + 1 + 2 * len(cids) + 3, len(cids))
    for cid in cids:
        out += struct.pack(">BB", cid, 0x00)
    return out + struct.pack(">BBB", ss, se, (ah << 4) | al)


def _write_dc(w: _BitWriter, diff: int) -> None:
    """One DC difference: its category's code, then its magnitude bits."""
    cat, bits = _magnitude(diff)
    w.write(*_DC_CODES[cat])
    w.write(bits, cat)


def _write_ac_band(w: _BitWriter, blk, ss: int, se: int, al: int) -> None:
    """One block's AC coefficients ss..se at point transform al — the
    whole 1..63 band at al=0 in a baseline scan: run/size codes, ZRL for
    16 zeros, EOB0 when the band ends in zeros."""
    run = 0
    for k in range(ss, se + 1):
        # point transform: v / 2**al truncated toward zero (T.81 G.1.2.2)
        v = blk[k]
        t = v >> al if v >= 0 else -(-v >> al)
        if t == 0:
            run += 1
            continue
        while run > 15:
            w.write(*_AC_CODES[0xF0])
            run -= 16
        cat, bits = _magnitude(t)
        w.write(*_AC_CODES[(run << 4) | cat])
        w.write(bits, cat)
        run = 0
    if run:
        w.write(*_AC_CODES[0x00])


def _write_ac_refine(w: _BitWriter, blk, ss: int, se: int, al: int) -> None:
    """One block's bit plane al of AC coefficients ss..se (T.81 G.1.2.3):
    newly visible coefficients as run/1 codes with a sign bit, a
    correction bit for each coefficient visible in an earlier scan."""
    absvals = [abs(blk[k]) >> al for k in range(ss, se + 1)]
    # last newly-visible (== 1 at this precision) coefficient: runs
    # beyond it fold into the EOB instead of ZRLs
    eob_idx = -1
    for i, t in enumerate(absvals):
        if t == 1:
            eob_idx = i
    run = 0
    br: list[int] = []  # buffered correction bits
    for i, t in enumerate(absvals):
        if t == 0:
            run += 1
            continue
        # Emit pending ZRLs at ANY nonzero coefficient — including a
        # history one — unless they fold into the EOB. A history
        # coefficient encountered while run > 15 must come AFTER the
        # ZRL in the bit stream (its correction bit belongs to the
        # next symbol's walk, which starts past the 16 skipped
        # zeros); buffering it across the ZRL desyncs the decoder's
        # positional bit reads (caught by the sf0.01 differential).
        while run > 15 and i <= eob_idx:
            w.write(*_AC_CODES[0xF0])
            for b in br:
                w.write(b, 1)
            br = []
            run -= 16
        if t > 1:
            # history coefficient (visible in an earlier scan):
            # correction bit rides behind the next emitted symbol
            br.append(t & 1)
            continue
        # newly visible coefficient (t == 1)
        w.write(*_AC_CODES[(run << 4) | 1])
        w.write(1 if blk[ss + i] > 0 else 0, 1)
        for b in br:
            w.write(b, 1)
        br = []
        run = 0
    if run or br:
        w.write(*_AC_CODES[0x00])  # EOB0 with trailing correction bits
        for b in br:
            w.write(b, 1)


def encode_jpeg(
    pixels: bytes, width: int, height: int, *,
    subsampling: str | None = None,
    restart_interval: int | None = None,
) -> bytes:
    """Baseline sequential (SOF0) JPEG: 8-bit grayscale pixels with
    ``subsampling=None``, else interleaved 8-bit RGB as YCbCr 4:2:0
    (``"420"``, the dominant real-world shape), 4:2:2 or 4:4:4.

    ``restart_interval`` (MCUs) emits a DRI segment plus cycling RSTn
    markers with DC-predictor resets — the resync feature virtually
    every camera/encoder writes; pixels are unchanged (the reference
    transforms are restart-agnostic)."""
    comps = _frame_components(pixels, width, height, subsampling)
    blocks = _component_blocks(comps, height)
    out = _write_headers(comps, width, height, 0xC0)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)  # DRI
    out += _write_sos([c[0] for c in comps], 0, 63, 0, 0)
    mcus_x = width // (8 * comps[0][1])
    mcus_y = height // (8 * comps[0][2])
    w = _BitWriter()
    preds = [0] * len(comps)
    for m in range(mcus_x * mcus_y):
        if restart_interval and m and m % restart_interval == 0:
            w.restart((m // restart_interval - 1) % 8)
            preds = [0] * len(comps)
        my, mx = divmod(m, mcus_x)
        # each component's h x v blocks, left-to-right then top-to-bottom
        # (T.81 order)
        for k, (_cid, h, v, _qtab, _plane, _stride) in enumerate(comps):
            for br in range(v):
                for bc in range(h):
                    blk = blocks[k][(my * v + br) * mcus_x * h + mx * h + bc]
                    _write_dc(w, blk[0] - preds[k])
                    preds[k] = blk[0]
                    _write_ac_band(w, blk, 1, 63, 0)
    w.flush()
    return bytes(out + w.buf + b"\xff\xd9")


def encode_jpeg_progressive(
    pixels: bytes, width: int, height: int, *, subsampling: str | None = None
) -> bytes:
    """Progressive (SOF2) JPEG of grayscale pixels (``subsampling=None``)
    or interleaved RGB as 4:4:4 YCbCr (``"444"``): the 8-scan
    spectral-selection + successive-approximation script, one
    single-component scan per component (24 scans for color — legal per
    T.81; interleaving DC scans would only shrink headers). The
    quantized coefficients equal :func:`encode_jpeg`'s with the same
    ``subsampling``, so both decode to the same pixels and share the
    relational oracles."""
    if subsampling not in (None, "444"):
        raise ValueError("jpeg: progressive color supports 4:4:4 only")
    comps = _frame_components(pixels, width, height, subsampling)
    blocks = _component_blocks(comps, height)
    out = _write_headers(comps, width, height, 0xC2)
    for ss, se, ah, al in _PROGRESSIVE_SCANS:
        for (cid, *_rest), comp_blocks in zip(comps, blocks):
            out += _write_sos([cid], ss, se, ah, al)
            w = _BitWriter()
            prev = 0
            for blk in comp_blocks:
                if ss:
                    (_write_ac_refine if ah else _write_ac_band)(w, blk, ss, se, al)
                elif ah:
                    w.write((blk[0] >> al) & 1, 1)
                else:
                    # arithmetic shift (floor) for DC so refinement bits
                    # OR back in exactly (two's-complement; the decoder
                    # does coef |= bit << al)
                    _write_dc(w, (blk[0] >> al) - prev)
                    prev = blk[0] >> al
            w.flush()
            out += w.buf
    return bytes(out + b"\xff\xd9")


def _decode_scan_dc_first(r, blocks, al: int, dc_tab) -> None:
    prev = 0
    for blk in blocks:
        prev += r.receive_extend(r.read_symbol(dc_tab))
        blk[0] = prev << al


def _decode_scan_dc_refine(r, blocks, al: int) -> None:
    for blk in blocks:
        if r.read_bit():
            # two's-complement OR of this bit plane (T.81 G.1.2.1)
            blk[0] |= 1 << al


def _decode_ac_band(r, blk, ss: int, se: int, al: int, ac_tab) -> int:
    """One block's AC coefficients ss..se at point transform al — the
    whole 1..63 band at al=0 in a baseline scan. Returns how many of the
    following blocks an EOBn symbol ends as well (0 for EOB0)."""
    k = ss
    while k <= se:
        sym = r.read_symbol(ac_tab)
        run, size = sym >> 4, sym & 0xF
        if size == 0:
            if run != 15:
                return (1 << run) - 1 + r.read_bits(run)
            k += 16  # ZRL
            continue
        k += run
        if k > se:
            raise ValueError("jpeg: AC run past band end")
        blk[k] = r.receive_extend(size) << al
        k += 1
    return 0


def _decode_scan_ac_first(r, blocks, ss, se, al, ac_tab) -> None:
    eobrun = 0
    for blk in blocks:
        if eobrun:
            eobrun -= 1
        else:
            eobrun = _decode_ac_band(r, blk, ss, se, al, ac_tab)


def _decode_scan_ac_refine(r, blocks, ss, se, al, ac_tab) -> None:
    p1, m1 = 1 << al, -1 << al

    def correct(blk, k) -> None:
        if r.read_bit() and (blk[k] & p1) == 0:
            blk[k] += p1 if blk[k] >= 0 else m1

    eobrun = 0
    for blk in blocks:
        k = ss
        if eobrun == 0:
            while k <= se:
                sym = r.read_symbol(ac_tab)
                run, size = sym >> 4, sym & 0xF
                val = 0
                if size == 0:
                    if run != 15:
                        eobrun = 1 << run
                        if run:
                            eobrun += r.read_bits(run)
                        break
                    # ZRL: skip 16 zero-history coefficients
                else:
                    if size != 1:
                        raise ValueError("jpeg: refine size != 1")
                    val = p1 if r.read_bit() else m1
                while k <= se:
                    if blk[k]:
                        correct(blk, k)
                    else:
                        if run == 0:
                            break
                        run -= 1
                    k += 1
                if val and k <= se:
                    blk[k] = val
                k += 1
        if eobrun:
            while k <= se:
                if blk[k]:
                    correct(blk, k)
                k += 1
            eobrun -= 1


def sql_reference_stats_tiled(
    media_text_sql: str, *, width: int = 16, height: int = 16,
    table: str = "documents",
) -> str:
    """DuckDB oracle for the multi-block grayscale JPEG round-trip
    (progressive catalog query, 16x16 = four 8x8 blocks): the
    :func:`sql_reference_stats` relational replay generalized with a
    block key — pixels tile into 8x8 blocks, the DCT/quant/IDCT chain
    groups by (media_id, block), stats reduce over all blocks. Checks
    the progressive entropy layering end-to-end because progressive and
    baseline share the exact quantized coefficients; any scan-script,
    EOB-run or refinement bug breaks the pixel equality."""
    n = width * height
    bw = width // 8
    cvals = ",\n    ".join(
        f"({u}, {i}, {sql_double(DCT_BASIS[u][i])})" for u in range(8) for i in range(8)
    )
    qvals = ",\n    ".join(
        f"({u}, {v}, {QUANT_LUMA[u * 8 + v]})" for u in range(8) for v in range(8)
    )
    return f"""
WITH t AS (
  SELECT doc_id AS media_id,
         substr({media_text_sql} || repeat(' ', {n}), 1, {n}) AS s
  FROM {table}
),
cmat(u, i, w) AS (VALUES
    {cvals}
),
qmat(u, v, q) AS (VALUES
    {qvals}
),
px AS (
  SELECT media_id,
         ((u.i - 1) // {width}) // 8 * {bw} + ((u.i - 1) % {width}) // 8 AS blk,
         CAST(((u.i - 1) // {width}) % 8 AS INT) AS r,
         CAST(((u.i - 1) % {width}) % 8 AS INT) AS c,
         ascii(substr(s, CAST(u.i AS INT), 1)) - 128.0 AS v
  FROM t, unnest(range(1, {n + 1})) AS u(i)
),
t1 AS (
  SELECT px.media_id, px.blk, cm.u, px.c AS j, sum(cm.w * px.v) AS tv
  FROM px JOIN cmat cm ON cm.i = px.r
  GROUP BY 1, 2, 3, 4
),
y AS (
  SELECT t1.media_id, t1.blk, t1.u, cm.u AS v, sum(t1.tv * cm.w) AS yv
  FROM t1 JOIN cmat cm ON cm.i = t1.j
  GROUP BY 1, 2, 3, 4
),
qz AS (
  SELECT y.media_id, y.blk, y.u, y.v,
         floor(round(y.yv / qm.q, 6) + 0.5) * qm.q AS qv
  FROM y JOIN qmat qm ON qm.u = y.u AND qm.v = y.v
),
t2 AS (
  SELECT qz.media_id, qz.blk, cm.i, qz.v AS j, sum(cm.w * qz.qv) AS tv
  FROM qz JOIN cmat cm ON cm.u = qz.u
  GROUP BY 1, 2, 3, 4
),
xr AS (
  SELECT t2.media_id, t2.blk, t2.i AS r, cm.i AS c,
         least(255, greatest(0,
           CAST(floor(round(sum(t2.tv * cm.w) + 128.0, 6) + 0.5)
                AS BIGINT))) AS v
  FROM t2 JOIN cmat cm ON cm.u = t2.j
  GROUP BY 1, 2, 3, 4
)
SELECT media_id, {width} AS width, {height} AS height,
       CAST(sum(v) AS BIGINT) AS sum_px,
       CAST(min(v) AS INT) AS min_px, CAST(max(v) AS INT) AS max_px,
       round(CAST(sum(v) AS DOUBLE) / {n}, 6) AS mean_px
FROM xr GROUP BY media_id
"""


# ---------------------------------------------------------------------------
# Decoder: one marker walk for every DCT stream this module writes (T.81
# Annex B). Each scan fills the same per-component coefficient blocks —
# a baseline stream is the single interleaved scan that carries every
# coefficient at full precision, a progressive one refines them over
# spectral bands and bit planes — and one dequant+IDCT pass turns the
# blocks into planes.
# ---------------------------------------------------------------------------

# SOF component sampling bytes -> ycbcr_to_rgb_bytes layout (None: gray).
_FRAME_LAYOUTS = {(0x11,): None} | {
    ((h << 4) | v, 0x11, 0x11): name for name, (h, v) in SAMPLING_DIVS.items()
}


def _decode_scan_baseline(
    r, scan, mcus_x: int, mcus_y: int, restart_interval: int
) -> None:
    """Sequential scan: MCU by MCU, each scan component's h x v blocks,
    each block's DC difference then its whole AC band; DRI/RSTn resets
    the DC predictors."""
    preds = [0] * len(scan)
    for m in range(mcus_x * mcus_y):
        if restart_interval and m and m % restart_interval == 0:
            r.expect_restart((m // restart_interval - 1) % 8)
            preds = [0] * len(scan)
        my, mx = divmod(m, mcus_x)
        for k, ((_tq, h, v, bw, blocks), dc_tab, ac_tab) in enumerate(scan):
            for br in range(v):
                for bc in range(h):
                    blk = blocks[(my * v + br) * bw + mx * h + bc]
                    preds[k] += r.receive_extend(r.read_symbol(dc_tab))
                    blk[0] = preds[k]
                    if _decode_ac_band(r, blk, 1, 63, 0, ac_tab):
                        raise ValueError("jpeg: EOB run in a baseline scan")


def decode_jpeg(data: bytes):
    """``(width, height, channels, pixels)`` from a JPEG stream — the
    png_codec.decode_png contract: 1 channel (the Y plane) for
    grayscale, 3 (interleaved RGB) for color.

    Accepts baseline (SOF0) grayscale and 4:2:0 / 4:2:2 / 4:4:4 YCbCr,
    with or without DRI/RSTn restart markers, and progressive (SOF2)
    grayscale and 4:4:4 with single-component scans. Every other
    stream raises ValueError."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    quant: dict[int, list[int]] = {}
    huff: dict[int, dict] = {}
    # cid -> (quant table id, h, v, blocks per row, zigzag blocks), in
    # frame order
    comps: dict[int, tuple] = {}
    layout = None
    progressive = scanned = False
    restart_interval = mcus_x = mcus_y = width = height = 0
    pos = 2
    while True:
        if pos + 2 > len(data):
            raise ValueError("jpeg: missing EOI")
        if data[pos] != 0xFF:
            raise ValueError(f"jpeg: expected marker at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        seglen = int.from_bytes(data[pos : pos + 2], "big")
        if seglen < 2 or pos + seglen > len(data):
            raise ValueError("jpeg: truncated segment")
        seg = data[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT
            if len(seg) % 65:
                raise ValueError("jpeg: truncated DQT")
            for p in range(0, len(seg), 65):
                if seg[p] >> 4:
                    raise ValueError("jpeg: 16-bit quant tables unsupported")
                tab = [0] * 64
                for z, (rr, cc) in enumerate(ZIGZAG):
                    tab[rr * 8 + cc] = seg[p + 1 + z]
                quant[seg[p] & 0xF] = tab
        elif marker in (0xC0, 0xC2):  # SOF0 baseline, SOF2 progressive
            if len(seg) < 6:
                raise ValueError("jpeg: truncated SOF")
            precision, height, width, ncomp = struct.unpack(">BHHB", seg[:6])
            if precision != 8:
                raise ValueError("jpeg: only 8-bit precision supported")
            progressive = marker == 0xC2
            spec = [tuple(seg[6 + 3 * k : 9 + 3 * k]) for k in range(ncomp)]
            sampling = tuple(s for _, s, _ in spec)
            if sampling not in _FRAME_LAYOUTS:
                raise ValueError(
                    "jpeg: only grayscale or color 4:2:0 (2x2,1x1,1x1), "
                    "4:2:2 (2x1,1x1,1x1) or 4:4:4 (1x1,1x1,1x1) supported"
                )
            if progressive and sampling[0] != 0x11:
                raise ValueError("jpeg: progressive color supports 4:4:4 only")
            layout = _FRAME_LAYOUTS[sampling]
            mcu_w, mcu_h = 8 * (sampling[0] >> 4), 8 * (sampling[0] & 0xF)
            if not width or not height or width % mcu_w or height % mcu_h:
                raise ValueError(
                    f"jpeg: dimensions must be positive multiples of "
                    f"{mcu_w}x{mcu_h}"
                )
            mcus_x, mcus_y = width // mcu_w, height // mcu_h
            # every block costs at least one bit of entropy-coded data
            # (its DC code), so a frame claiming more blocks than the
            # stream has bits is refused before anything is allocated
            units = sum((s >> 4) * (s & 0xF) for s in sampling)
            if mcus_x * mcus_y * units > 8 * len(data):
                raise ValueError("jpeg: frame larger than the stream")
            comps = {}
            for cid, s, tq in spec:
                h, v = s >> 4, s & 0xF
                nblocks = mcus_x * h * mcus_y * v
                blocks = [[0] * 64 for _ in range(nblocks)]
                comps[cid] = (tq, h, v, mcus_x * h, blocks)
            if len(comps) != ncomp:
                raise ValueError("jpeg: duplicate component id")
        elif 0xC1 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            raise ValueError(
                "jpeg: only baseline (SOF0) and progressive (SOF2) supported"
            )
        elif marker == 0xC4:  # DHT
            huff.update(_decode_huffman_dht(seg))
        elif marker == 0xDD:  # DRI
            if len(seg) != 2:
                raise ValueError("jpeg: bad DRI length")
            (restart_interval,) = struct.unpack(">H", seg)
        elif marker == 0xDA:  # SOS
            if not comps:
                raise ValueError("jpeg: SOS before SOF")
            ns = seg[0] if seg else 0
            if len(seg) < 4 + 2 * ns:
                raise ValueError("jpeg: truncated SOS")
            scan = []
            for k in range(ns):
                cid, tables = seg[1 + 2 * k], seg[2 + 2 * k]
                if cid not in comps:
                    raise ValueError(f"jpeg: unknown scan component {cid}")
                dc_tab, ac_tab = huff.get(tables >> 4), huff.get(0x10 | tables & 0xF)
                scan.append((comps[cid], dc_tab, ac_tab))
            ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            # entropy-coded data runs to the next marker that is neither
            # a stuffed FF00 nor an RSTn
            end = pos
            while True:
                end = data.find(b"\xff", end)
                if end < 0 or end + 1 >= len(data):
                    raise ValueError("jpeg: unterminated scan")
                if data[end + 1] and not 0xD0 <= data[end + 1] <= 0xD7:
                    break
                end += 2
            r = _BitReader(data[pos:end])
            pos = end
            scanned = True
            if not progressive:
                if ns != len(comps):
                    raise ValueError(
                        "jpeg: the baseline scan must interleave every component"
                    )
                if any(dc is None or ac is None for _, dc, ac in scan):
                    raise ValueError("jpeg: missing tables")
                _decode_scan_baseline(r, scan, mcus_x, mcus_y, restart_interval)
                continue
            if ns != 1:
                raise ValueError("jpeg: one component per progressive scan")
            if restart_interval:
                raise ValueError("jpeg: restart markers unsupported in progressive")
            if ss > se or se > 63:
                raise ValueError("jpeg: bad spectral selection")
            (_tq, _h, _v, _bw, blocks), dc_tab, ac_tab = scan[0]
            if ss == 0:
                if se != 0:
                    raise ValueError("jpeg: DC scan must have Se=0")
                if ah:
                    _decode_scan_dc_refine(r, blocks, al)
                elif dc_tab is None:
                    raise ValueError("jpeg: missing DC table")
                else:
                    _decode_scan_dc_first(r, blocks, al, dc_tab)
            elif ac_tab is None:
                raise ValueError("jpeg: missing AC table")
            elif ah:
                _decode_scan_ac_refine(r, blocks, ss, se, al, ac_tab)
            else:
                _decode_scan_ac_first(r, blocks, ss, se, al, ac_tab)
    if not scanned:
        raise ValueError("jpeg: missing SOF/SOS")

    planes = []
    for tq, _h, _v, bw, blocks in comps.values():
        qtab = quant.get(tq)
        if qtab is None:
            raise ValueError("jpeg: missing quant table")
        stride = 8 * bw
        plane = [0] * (64 * len(blocks))
        for bi, zz in enumerate(blocks):
            px = _inverse_block(zz, qtab)
            o = (bi // bw) * 8 * stride + (bi % bw) * 8
            for rr in range(8):
                row = o + rr * stride
                plane[row : row + 8] = px[8 * rr : 8 * rr + 8]
        planes.append(plane)
    if layout is None:
        return width, height, 1, bytes(planes[0])
    return width, height, 3, ycbcr_to_rgb_bytes(
        *planes, width, height, subsampling=layout
    )
