"""Pure-numpy baseline JPEG codec (ITU-T T.81 sequential DCT, 8-bit).

The last format gate from the r6 verdict: netpbm/BMP/PNG decode are
real, but "real corpora are JPEG". The container has no PIL/libjpeg, and
baseline JPEG needs neither — everything below is the public spec:
marker segments (B.2), the zigzag order (A.3.6), the DCT pair (A.3.3),
Huffman entropy coding (C/F.2), byte stuffing (F.1.2.3), and the
Annex K example quantization/Huffman tables that virtually every
encoder ships.

Scope (documented, checked, fail-stop): baseline sequential DCT
(SOF0), 8-bit samples, grayscale or YCbCr 4:4:4 and 4:2:0, restart
markers honored. Progressive (SOF2), arithmetic coding, 12-bit and
hierarchical modes raise ValueError rather than guess.

The encoder exists to make REAL fixtures (and because a corpus
pipeline re-encodes thumbnails); it emits 4:4:4 with the Annex K
tables. Decoder and encoder are independent implementations of the
spec's two directions — unit tests pin known-answer blocks (flat gray
roundtrips exactly; DC-only algebra) so a shared systematic bug (e.g.
a mirrored zigzag in both) cannot hide.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------- tables
# Annex K.1 example quantization tables (luminance / chrominance).
QUANT_LUMA = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int32)
QUANT_CHROMA = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int32)

# A.3.6 zigzag scan order: ZIGZAG[k] = (row, col) of the k-th
# coefficient. Diagonal d runs UP-RIGHT when d is even ((d,0)..(0,d):
# col ascending) and DOWN-LEFT when odd ((0,d)..(d,0): row ascending) —
# so (0,0),(0,1),(1,0),(2,0),(1,1),(0,2),... A review caught the first
# cut TRANSPOSED (col/row keys swapped): self-consistent, invisible to
# encode->decode roundtrips, and wrong against every real JPEG — the
# test suite now pins this table against the spec's literal index
# array instead of trusting the generator.
def _zigzag_order():
    order = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (rc[0] + rc[1], rc[0] if (rc[0] + rc[1]) % 2 else rc[1]),
    )
    return order

ZIGZAG = _zigzag_order()
# raster (row-major flat) index of the k-th zigzag coefficient, for
# vectorized gather/scatter instead of 64-iteration Python loops
ZIGZAG_FLAT = np.array([r * 8 + c for r, c in ZIGZAG], dtype=np.intp)

# Annex K.3 standard Huffman tables: (bits counts per length 1..16, values)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# 8x8 DCT-II basis matrix (A.3.3): D[u, x] = c(u)/2 * cos((2x+1) u pi / 16)
def _dct_matrix():
    D = np.zeros((8, 8))
    for u in range(8):
        c = np.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            D[u, x] = c * np.cos((2 * x + 1) * u * np.pi / 16)
    return D

_DCT = _dct_matrix()


def _build_huffman(bits, vals):
    """Canonical code assignment (C.2): codes of each length in value
    order. Returns {(length, code): symbol}."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return table


def _encode_huffman_lut(bits, vals):
    """symbol -> (code, length) for the encoder."""
    return {sym: (code, ln) for (ln, code), sym in _build_huffman(bits, vals).items()}


# ----------------------------------------------------------------- encode


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # F.1.2.3 byte stuffing
            self.nbits -= 8

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s (F.1.2.3)


def _magnitude(v: int):
    """(size, amplitude bits) per F.1.2.1.2: negative values are coded
    as value-1 in `size` low bits."""
    if v == 0:
        return 0, 0
    size = int(v).bit_length() if v > 0 else int(-v).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _component_zigzag_blocks(padded: np.ndarray, quant: np.ndarray) -> np.ndarray:
    """DCT + quantize + zigzag every 8x8 block of a padded plane in one
    vectorized pass. Returns (n_block_rows, n_block_cols, 64) int32 in
    raster block order; the entropy loop below indexes it by
    (block_row, block_col) so the MCU interleave order is unchanged.
    The per-block math is the same `_DCT @ (b - 128) @ _DCT.T` /
    `round(coef / quant)` expression as the historical per-block form —
    matmul broadcasting runs the identical 8-long dot products, so the
    quantized integers are bit-equal (property-pinned in
    tests/test_operators.py)."""
    h, w = padded.shape
    blocks = (
        padded.reshape(h // 8, 8, w // 8, 8).swapaxes(1, 2) - 128.0
    )  # (br, bc, 8, 8)
    coef = _DCT @ blocks @ _DCT.T
    q = np.round(coef / quant).astype(np.int32)
    return q.reshape(h // 8, w // 8, 64)[..., ZIGZAG_FLAT]


def _encode_block(writer, zz, ac_nz, dc_lut, ac_lut, dc_pred):
    """Entropy-code one block from its precomputed zigzag coefficients
    (a plain Python list) and the indices of its nonzero AC coefs."""
    # DC: differential
    diff = zz[0] - dc_pred
    size, bits = _magnitude(diff)
    code, ln = dc_lut[size]
    # appending the amplitude bits to the category code is the same
    # bit stream as two write() calls
    writer.write((code << size) | bits, ln + size)
    # AC: run-length of zeros + size, visiting only the nonzero coefs
    prev = 0
    for k in ac_nz:
        run = k - prev - 1
        while run > 15:
            code, ln = ac_lut[0xF0]  # ZRL
            writer.write(code, ln)
            run -= 16
        size, bits = _magnitude(zz[k])
        code, ln = ac_lut[(run << 4) | size]
        writer.write((code << size) | bits, ln + size)
        prev = k
    if prev != 63:
        code, ln = ac_lut[0x00]  # EOB
        writer.write(code, ln)
    return zz[0]


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def encode_jpeg_bytes(
    pixels: np.ndarray,
    subsample_420: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Baseline JFIF encoder: grayscale (h, w) or RGB (h, w, 3) uint8 →
    SOF0, Annex K quant + Huffman tables. `subsample_420` emits the
    real-world 4:2:0 layout (chroma box-averaged 2x2, MCU = 4 luma + 1
    Cb + 1 Cr blocks); `restart_interval` emits DRI + RSTn markers
    every n MCUs — both exist mainly so the DECODER's 4:2:0/restart
    paths are testable against independently-constructed streams."""
    px = np.asarray(pixels, dtype=np.uint8)
    gray = px.ndim == 2
    h, w = px.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if gray:
        comps = [px.astype(np.float64)]
        subsample_420 = False
    else:
        r, g, b = (px[..., i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        comps = [y, cb, cr]

    out = bytearray(b"\xff\xd8")  # SOI
    # DQT: table 0 (luma) and, for color, table 1 (chroma); zigzag order
    zz_q = bytes([0]) + bytes(int(QUANT_LUMA[r, c]) for r, c in ZIGZAG)
    out += _seg(0xDB, zz_q)
    if not gray:
        zz_q1 = bytes([1]) + bytes(int(QUANT_CHROMA[r, c]) for r, c in ZIGZAG)
        out += _seg(0xDB, zz_q1)
    # SOF0
    ncomp = 1 if gray else 3
    luma_samp = 0x22 if subsample_420 else 0x11
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    for i in range(ncomp):
        samp = luma_samp if i == 0 else 0x11
        sof += bytes([i + 1, samp, 0 if i == 0 else 1])
    out += _seg(0xC0, sof)
    # DHT: DC/AC luma (+ chroma)
    out += _seg(0xC4, bytes([0x00] + DC_LUMA_BITS) + bytes(DC_LUMA_VALS))
    out += _seg(0xC4, bytes([0x10] + AC_LUMA_BITS) + bytes(AC_LUMA_VALS))
    if not gray:
        out += _seg(0xC4, bytes([0x01] + DC_CHROMA_BITS) + bytes(DC_CHROMA_VALS))
        out += _seg(0xC4, bytes([0x11] + AC_CHROMA_BITS) + bytes(AC_CHROMA_VALS))
    if restart_interval:
        out += _seg(0xDD, restart_interval.to_bytes(2, "big") )
    # SOS
    sos = bytes([ncomp])
    for i in range(ncomp):
        sos += bytes([i + 1, 0x00 if i == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)

    dc_luts = [_encode_huffman_lut(DC_LUMA_BITS, DC_LUMA_VALS),
               _encode_huffman_lut(DC_CHROMA_BITS, DC_CHROMA_VALS)]
    ac_luts = [_encode_huffman_lut(AC_LUMA_BITS, AC_LUMA_VALS),
               _encode_huffman_lut(AC_CHROMA_BITS, AC_CHROMA_VALS)]
    quants = [QUANT_LUMA, QUANT_CHROMA]

    if subsample_420:
        # box-average chroma 2x2 after padding to even dims
        def down(p):
            hh = -(-p.shape[0] // 2) * 2
            ww = -(-p.shape[1] // 2) * 2
            e = np.empty((hh, ww))
            e[: p.shape[0], : p.shape[1]] = p
            e[p.shape[0] :, : p.shape[1]] = p[-1:, :]
            e[:, p.shape[1] :] = e[:, p.shape[1] - 1 : p.shape[1]]
            return (e[0::2, 0::2] + e[1::2, 0::2] + e[0::2, 1::2] + e[1::2, 1::2]) / 4.0

        comps = [comps[0], down(comps[1]), down(comps[2])]
        sampling = [(2, 2), (1, 1), (1, 1)]
        mcux = -(-w // 16)
        mcuy = -(-h // 16)
    else:
        sampling = [(1, 1)] * ncomp
        mcux = -(-w // 8)
        mcuy = -(-h // 8)

    padded = []
    for ci, comp in enumerate(comps):
        sh, sv = sampling[ci]
        ph, pw = mcuy * sv * 8, mcux * sh * 8
        p = np.empty((ph, pw))
        ch, cw = comp.shape
        p[:ch, :cw] = comp
        p[ch:, :cw] = comp[ch - 1 : ch, :]
        p[:, cw:] = p[:, cw - 1 : cw]
        padded.append(p)

    # vectorized DCT/quant/zigzag over every block of every component;
    # zz as nested Python lists + per-block nonzero-AC indices so the
    # entropy loop below touches only actual symbols
    comp_zz = []
    comp_nz = []
    for ci, p in enumerate(padded):
        zzb = _component_zigzag_blocks(p, quants[0 if ci == 0 else 1])
        comp_zz.append(zzb.tolist())
        nzmask = zzb != 0
        nzmask[..., 0] = False  # DC is coded separately
        comp_nz.append(
            [
                [np.flatnonzero(nzmask[br, bc]).tolist() for bc in range(zzb.shape[1])]
                for br in range(zzb.shape[0])
            ]
        )

    writer = _BitWriter()
    preds = [0] * ncomp
    rst = 0
    n_mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                writer.flush()
                out_rst = bytes([0xFF, 0xD0 + rst])
                writer.out += out_rst
                rst = (rst + 1) % 8
                preds = [0] * ncomp
            for ci in range(ncomp):
                t = 0 if ci == 0 else 1
                sh, sv = sampling[ci]
                for by in range(sv):
                    for bx in range(sh):
                        br = my * sv + by
                        bc = mx * sh + bx
                        preds[ci] = _encode_block(
                            writer, comp_zz[ci][br][bc], comp_nz[ci][br][bc],
                            dc_luts[t], ac_luts[t], preds[ci],
                        )
            n_mcu += 1
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ----------------------------------------------------------------- decode


# 16-bit-window Huffman LUTs: LUT[w] = (symbol, code length) for every
# 16-bit peek w whose prefix is a valid code. One array index replaces
# the historical read-one-bit/probe-a-dict loop (up to 16 dict lookups
# per symbol). Cached per table CONTENT because every Annex-K stream
# ships the same four tables — the 2x64 KiB build cost is paid once per
# process, not once per image.
_LUT_CACHE: dict = {}


def _huffman_lut(bits, vals):
    """16-bit-window LUT, PACKED: lut[w] = (code_length << 8) | symbol
    (length 1..16, symbol 0..255 — disjoint bit ranges), one list
    lookup per decoded symbol instead of two (r15). length 0 == entry
    never assigned == invalid code, exactly as before."""
    key = (bytes(bits), bytes(vals))
    hit = _LUT_CACHE.get(key)
    if hit is not None:
        return hit
    pk = np.zeros(1 << 16, dtype=np.int32)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            hi = (code + 1) << (16 - length)
            pk[lo:hi] = (length << 8) | vals[k]
            k += 1
            code += 1
        code <<= 1
    lut = pk.tolist()  # plain list: ints, no numpy scalar tax
    _LUT_CACHE[key] = lut
    return lut


def _split_entropy_segments(data: bytes, pos: int):
    """Pre-scan the entropy stream once: unstuff F.1.2.3 0xFF00 bytes
    and split at RSTn markers. Returns a list of plain-bytes segments
    (segment k+1 begins after the k-th restart marker); scanning stops
    at the first non-RST marker (EOI or the next header)."""
    segments = []
    cur = bytearray()
    n = len(data)
    i = pos
    while i < n:
        j = data.find(b"\xff", i)
        if j < 0:
            cur += data[i:]
            break
        cur += data[i:j]
        nxt = data[j + 1] if j + 1 < n else None
        if nxt == 0x00:
            cur.append(0xFF)
            i = j + 2
        elif nxt is not None and 0xD0 <= nxt <= 0xD7:
            segments.append(bytes(cur))
            cur = bytearray()
            i = j + 2
        else:
            break  # EOI or other marker terminates the scan
    segments.append(bytes(cur))
    return segments


def _window16_list(seg: bytes) -> list:
    """The 16-bit window at EVERY bit offset of `seg`, as one plain
    list (r15, guide §4.2): win[i] = int of bits [i, i+16), padded past
    the real stream with virtual 1-bits exactly like the historical
    _BitReader.peek16 (the encoder pads with 1s too). Built with four
    vectorized uint32 shifts — O(n) numpy — so the per-symbol decode
    loop below degenerates to two list lookups and an integer add,
    instead of maintaining a bit accumulator 8 bits at a time in
    Python. len(seg) bytes -> 8*len(seg)+1 windows (the final, fully
    virtual window keeps index arithmetic total; truncation is still
    enforced against `nbits` by the callers, so error behavior on
    short streams is unchanged)."""
    n = len(seg)
    if n < 192:
        # tiny segment (short restart interval): one bignum shift walk
        # beats numpy's fixed per-array overhead
        acc = int.from_bytes(seg + b"\xff\xff", "big")
        top = 8 * n  # bit index of the window start, from the MSB end
        return [(acc >> (top - i)) & 0xFFFF for i in range(8 * n + 1)]
    b = np.frombuffer(seg, dtype=np.uint8)
    p = np.empty(n + 3, dtype=np.uint8)
    p[:n] = b
    p[n:] = 0xFF  # virtual 1-bits past stream end
    w32 = (
        (p[:n].astype(np.uint32) << 24)
        | (p[1 : n + 1].astype(np.uint32) << 16)
        | (p[2 : n + 2].astype(np.uint32) << 8)
        | p[3 : n + 3].astype(np.uint32)
    )
    # window at bit offset 8j+r = bits r..r+15 of byte j onward
    shifts = (16 - np.arange(8, dtype=np.uint32))[None, :]
    win = ((w32[:, None] >> shifts) & 0xFFFF).reshape(-1).tolist()
    win.append(0xFFFF)
    return win


def decode_jpeg(data: bytes) -> dict:
    """Baseline sequential DCT decode → pixel stats dict (same contract
    as decode_png / decode_netpbm). Supports SOF0, 8-bit, 1 or 3
    components, sampling 4:4:4 or 4:2:0, DRI/RST. Progressive (SOF2),
    arithmetic coding and 12-bit raise."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    quant = {}
    huff_dc = {}
    huff_ac = {}
    frame = None
    restart_interval = 0
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        length = int.from_bytes(data[pos + 2 : pos + 4], "big")
        body = data[pos + 4 : pos + 2 + length]
        if len(body) != length - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                prec = body[i] >> 4
                tid = body[i] & 0x0F
                n = 64 * (2 if prec else 1)
                vals = body[i + 1 : i + 1 + n]
                if len(vals) < n:
                    raise ValueError("truncated DQT")
                if prec:
                    arr = np.frombuffer(vals, dtype=">u2").astype(np.int32)
                else:
                    arr = np.frombuffer(vals, dtype=np.uint8).astype(np.int32)
                q = np.zeros(64, dtype=np.int32)
                q[ZIGZAG_FLAT] = arr[:64]
                quant[tid] = q.reshape(8, 8)
                i += 1 + n
        elif marker in (0xC0, 0xC1):  # SOF0/1 (baseline/extended seq.)
            if body[0] != 8:
                raise ValueError(f"unsupported JPEG precision {body[0]}")
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            ncomp = body[5]
            comps = []
            for i in range(ncomp):
                cid, samp, qid = body[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 0x0F, "q": qid})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG mode (marker 0xFF{marker:02X}); baseline "
                "sequential (SOF0) only"
            )
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc = body[i] >> 4
                th = body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                tbl = _huffman_lut(bits, vals)
                (huff_dc if tc == 0 else huff_ac)[th] = tbl
                i += 17 + n
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(body[:2], "big")
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan = []
            for i in range(ns):
                cid, tables = body[1 + 2 * i], body[2 + 2 * i]
                comp = next(c for c in frame["comps"] if c["id"] == cid)
                scan.append((comp, tables >> 4, tables & 0x0F))
            pos = pos + 2 + length
            return _decode_scan(
                data, pos, frame, scan, quant, huff_dc, huff_ac, restart_interval
            )
        pos += 2 + length
    raise ValueError("no SOS in JPEG")


def _decode_scan(data, pos, frame, scan, quant, huff_dc, huff_ac, dri):
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    ok = {(1, 1)} | {(hmax, vmax)}
    for c in frame["comps"]:
        if (c["h"], c["v"]) not in ok:
            raise ValueError(
                f"unsupported sampling {(c['h'], c['v'])}; 4:4:4 / 4:2:0 only"
            )
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = {
        c["id"]: np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8)) for c in frame["comps"]
    }
    segments = _split_entropy_segments(data, pos)
    seg_idx = 0
    win = _window16_list(segments[0])
    nbits = 8 * len(segments[0])
    bp = 0  # bit position in the current segment
    preds = {c["id"]: 0 for c in frame["comps"]}
    # entropy pass: collect each block's zigzag coefficients (sparse
    # (k, v) pairs) and position; dequant + IDCT run batched afterwards.
    # r15 (guide §4.2): table-driven decode over the precomputed 16-bit
    # window array — per symbol: one list lookup for (length, symbol),
    # one add to the bit cursor, one shift for the value bits. Same LUTs
    # (_huffman_lut), same EXTEND arithmetic (inlined), same error
    # surface: length 0 -> invalid code; a code or value running past
    # the segment's real bits -> truncated (the virtual 1-padding in
    # the windows is never consumable, exactly like peek16/consume).
    blocks_by_comp = {c["id"]: [] for c in frame["comps"]}  # (y0, x0, ks, vs)
    n_mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and n_mcu and n_mcu % dri == 0:
                seg_idx += 1
                if seg_idx >= len(segments):
                    raise ValueError("expected restart marker")
                win = _window16_list(segments[seg_idx])
                nbits = 8 * len(segments[seg_idx])
                bp = 0
                preds = {k: 0 for k in preds}
            for comp, dct, act in scan:
                cid = comp["id"]
                dc_pk = huff_dc[dct]
                ac_pk = huff_ac[act]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        t = dc_pk[win[bp]]
                        length = t >> 8
                        if length == 0:
                            raise ValueError("invalid Huffman code in JPEG stream")
                        if bp + length > nbits:
                            raise ValueError("truncated JPEG entropy stream")
                        bp += length
                        s = t & 0xFF
                        if s:
                            if s > 16:
                                # baseline DC categories stop at 11; a
                                # larger value only appears in corrupt
                                # tables, where the historical reader
                                # read s raw bits — not representable
                                # in a 16-bit window, so fail loud
                                raise ValueError("invalid Huffman code in JPEG stream")
                            if bp + s > nbits:
                                raise ValueError("truncated JPEG entropy stream")
                            diff = win[bp] >> (16 - s)
                            bp += s
                            if diff < (1 << (s - 1)):  # F.2.2.1 EXTEND
                                diff += 1 - (1 << s)
                        else:
                            diff = 0
                        preds[cid] += diff
                        ks = [0]
                        vs = [preds[cid]]
                        k = 1
                        while k < 64:
                            t = ac_pk[win[bp]]
                            length = t >> 8
                            if length == 0:
                                raise ValueError("invalid Huffman code in JPEG stream")
                            if bp + length > nbits:
                                raise ValueError("truncated JPEG entropy stream")
                            bp += length
                            rs = t & 0xFF
                            if rs == 0x00:  # EOB
                                break
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += rs >> 4
                            size = rs & 0x0F
                            if k > 63:
                                raise ValueError("AC index overflow")
                            if size:
                                if bp + size > nbits:
                                    raise ValueError("truncated JPEG entropy stream")
                                v = win[bp] >> (16 - size)
                                bp += size
                                if v < (1 << (size - 1)):  # EXTEND
                                    v += 1 - (1 << size)
                            else:
                                v = 0
                            ks.append(k)
                            vs.append(v)
                            k += 1
                        y0 = (my * comp["v"] + by) * 8
                        x0 = (mx * comp["h"] + bx) * 8
                        blocks_by_comp[cid].append((y0, x0, ks, vs))
            n_mcu += 1
    # batched dequant + IDCT per component: scatter the sparse zigzag
    # pairs into (nb, 64), undo the zigzag with one fancy index, then
    # run the same `_DCT.T @ coef @ _DCT` expression over the whole
    # stack — matmul broadcasting performs the identical 8-long dot
    # products per block, so the samples are bit-equal to the
    # historical block-at-a-time form (property-pinned in
    # tests/test_operators.py)
    for comp in frame["comps"]:
        cid = comp["id"]
        blocks = blocks_by_comp[cid]
        if not blocks:
            continue
        zz = np.zeros((len(blocks), 64), dtype=np.int32)
        for bi, (_, _, ks, vs) in enumerate(blocks):
            zz[bi, ks] = vs
        raster = np.zeros((len(blocks), 64), dtype=np.int32)
        raster[:, ZIGZAG_FLAT] = zz
        coef = raster.reshape(-1, 8, 8).astype(np.float64) * quant[comp["q"]]
        out = _DCT.T @ coef @ _DCT + 128.0
        plane = planes[cid]
        for bi, (y0, x0, _, _) in enumerate(blocks):
            plane[y0 : y0 + 8, x0 : x0 + 8] = out[bi]
    comps = frame["comps"]
    if len(comps) == 1:
        px = np.clip(planes[comps[0]["id"]][:h, :w], 0, 255)
        channels = 1
    else:
        full = []
        for c in comps:
            p = planes[c["id"]]
            ry, rx = vmax // c["v"], hmax // c["h"]
            if ry > 1 or rx > 1:
                p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
            full.append(p[:h, :w])
        y, cb, cr = full
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        px = np.clip(np.stack([r, g, b], axis=-1), 0, 255)
        channels = 3
    # round, don't truncate: an IDCT result of 75.999999 is the sample
    # value 76, and astype(uint8) alone would floor it
    pixels = np.clip(np.round(px), 0, 255).astype(np.uint8)
    return {
        "fmt": "jpeg",
        "width": w,
        "height": h,
        "channels": channels,
        "maxval": 255,
        "mean_pixel": round(float(pixels.mean()), 6),
        "pixels": pixels,
    }
