"""Pure-stdlib-plus-numpy JPEG codec (ITU-T T.81 public spec):
sequential baseline AND progressive DCT, Huffman entropy coding, JFIF
color model.

Closes the last common-format gap in ``multimodal.decode_image``
(BMP/PNG/WAV were already stdlib-real): grayscale and YCbCr 4:4:4 /
4:2:0 baseline JPEGs decode without PIL, and (r8) PROGRESSIVE (SOF2)
streams decode too — DC first/refinement and AC spectral-selection /
successive-approximation scans accumulate coefficients until EOI
(T.81 G.2). Arithmetic coding, 12-bit precision and hierarchical modes
raise NotImplementedError at the documented PIL integration point.

The encoder exists so ROUND-TRIPS are testable in this container (no
PIL to generate fixtures): it emits spec-complete streams — SOI, JFIF
APP0, DQT (IJG quality scaling), SOF0, the four Annex-K Huffman tables
in DHT, SOS, byte-stuffed entropy data, EOI.  The decoder reads ALL
tables from the stream (never assumes the encoder's), handles restart
markers, and upsamples arbitrary 1–2× sampling factors, so it is a real
baseline decoder, not a round-trip-only inverse.

Scale: decoding runs per blob inside ``mapInPandas`` Arrow batches (see
``multimodal.extract_binary_features``) — memory is bounded by the
Arrow batch size; the hot loops (DCT, color transform, upsampling) are
vectorized numpy, only the Huffman bit loop is per-symbol Python.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["encode_jpeg", "decode_jpeg", "encode_progressive_jpeg"]

# ---------------------------------------------------------------------------
# Annex K tables (ITU-T T.81 §K.1, K.3) — the JPEG standard's examples,
# used by essentially every baseline encoder.
# ---------------------------------------------------------------------------

_QUANT_LUMA = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99]], dtype=np.int32)

_QUANT_CHROMA = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99]], dtype=np.int32)

_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
            list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
              list(range(12)))
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
     0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
     0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
     0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
     0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
     0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
     0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
     0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
     0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
     0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
     0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
     0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
     0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
     0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
     0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
     0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
     0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
     0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
     0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
     0xF9, 0xFA])
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
     0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
     0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
     0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
     0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
     0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
     0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
     0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
     0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
     0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
     0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
     0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
     0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
     0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
     0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
     0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
     0xF9, 0xFA])


def _zigzag_order() -> np.ndarray:
    """(64, 2) array of (row, col) in JPEG zigzag order (T.81 Fig. 5)."""
    order = []
    for s in range(15):
        rng = range(max(0, s - 7), min(s, 7) + 1)
        diag = [(s - j, j) for j in rng]           # down-left for odd s
        order.extend(diag if s % 2 else diag[::-1])
    return np.array(order)


_ZZ = _zigzag_order()
_ZZ_FLAT = _ZZ[:, 0] * 8 + _ZZ[:, 1]               # zigzag -> raster index


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis D: D @ block @ D.T == T.81 A.3.3 FDCT."""
    n = np.arange(8)
    d = 0.5 * np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16)
    d[0] /= np.sqrt(2)
    return d


_DCT = _dct_matrix()


def _scale_quant(table: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: 1..100 -> scaled table clipped to [1, 255]."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be in [1, 100], got {quality}")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((table * scale + 50) // 100, 1, 255).astype(np.int32)


def _build_codes(bits, values):
    """Canonical Huffman codes per T.81 C.2: {symbol: (code, length)}."""
    codes, code = {}, 0
    idx = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[values[idx]] = (code, length)
            idx += 1
            code += 1
        code <<= 1
    return codes


def _build_decode_map(bits, values):
    """{(length, code): symbol} for the decoder's bit-accumulate loop."""
    out, code, idx = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = values[idx]
            idx += 1
            code += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:               # byte stuffing (T.81 F.1.2.3)
                self.buf.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def pad_and_mark(self, n: int) -> None:
        """Byte-align (1-bit padding) and emit restart marker RSTn."""
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)
        self.buf += bytes([0xFF, 0xD0 + (n % 8)])

    def flush(self) -> bytes:
        if self.nbits:                     # pad with 1-bits per spec
            self.write(0x7F, 8 - self.nbits)
        return bytes(self.buf)


def _magnitude(v: int):
    """(category, bits) for a DC diff / AC coefficient (T.81 F.1.2.1)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _encode_blocks(writer, blocks, qtab, dc_codes, ac_codes, pred):
    """Huffman-encode a sequence of quantized-coefficient blocks."""
    for block in blocks:
        coefs = np.round(_DCT @ block @ _DCT.T / qtab).astype(np.int32)
        # clamp to Huffman size category <= 10 (AC) / DC diff <= 11: at
        # quality ~100 (quant 1) an adversarial basis-pattern block can
        # hit |coef| = 1024, whose category has no code in the baseline
        # tables — every practical encoder clamps here (T.81 F.1.2.2.1
        # limits baseline AC categories to 10)
        coefs = np.clip(coefs, -1023, 1023)
        zz = coefs.reshape(64)[_ZZ_FLAT]
        size, bits = _magnitude(int(zz[0]) - pred)
        pred = int(zz[0])
        code, length = dc_codes[size]
        writer.write(code, length)
        if size:
            writer.write(bits, size)
        run = 0
        nz = np.nonzero(zz[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        for k in range(1, last + 1):
            if zz[k] == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_codes[0xF0]      # ZRL
                writer.write(code, length)
                run -= 16
            size, bits = _magnitude(int(zz[k]))
            code, length = ac_codes[(run << 4) | size]
            writer.write(code, length)
            writer.write(bits, size)
            run = 0
        if last < 63:
            code, length = ac_codes[0x00]          # EOB
            writer.write(code, length)
    return pred


def _pad_to_blocks(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    """Edge-replicate a component plane to (bh, bw) multiples of 8."""
    h, w = plane.shape
    return np.pad(plane, ((0, bh - h), (0, bw - w)), mode="edge")


def _split_blocks(plane: np.ndarray):
    h, w = plane.shape
    return (plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3)
            .reshape(-1, 8, 8))


def encode_jpeg(pixels: "np.ndarray", quality: int = 75,
                subsample: bool = False,
                restart_interval: int = 0) -> bytes:
    """Encode (h, w) grayscale or (h, w, 3) RGB uint8 as a baseline JFIF
    JPEG — SOF0, Annex-K Huffman tables, IJG-scaled Annex-K quant tables,
    optional 4:2:0 chroma subsampling, optional DRI/RSTn restart markers
    every ``restart_interval`` MCUs."""
    arr = np.asarray(pixels, dtype=np.uint8)
    gray = arr.ndim == 2
    if not gray and (arr.ndim != 3 or arr.shape[2] != 3):
        raise ValueError("encode_jpeg expects (h, w) gray or (h, w, 3) RGB")
    height, width = arr.shape[:2]
    qy = _scale_quant(_QUANT_LUMA, quality)
    qc = _scale_quant(_QUANT_CHROMA, quality)

    if gray:
        planes = [arr.astype(np.float64) - 128.0]
    else:
        rgb = arr.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:                      # 4:2:0 — 2x2 box average
            ph = _pad_to_blocks(cb, height + height % 2, width + width % 2)
            cb = ph[:height + height % 2, :width + width % 2]
            cb = (cb[0::2, 0::2] + cb[1::2, 0::2]
                  + cb[0::2, 1::2] + cb[1::2, 1::2]) / 4.0
            ph = _pad_to_blocks(cr, height + height % 2, width + width % 2)
            cr = ph[:height + height % 2, :width + width % 2]
            cr = (cr[0::2, 0::2] + cr[1::2, 0::2]
                  + cr[0::2, 1::2] + cr[1::2, 1::2]) / 4.0
        planes = [y - 128.0, cb - 128.0, cr - 128.0]

    out = bytearray(b"\xFF\xD8")                       # SOI
    out += (b"\xFF\xE0" + struct.pack(">H", 16) + b"JFIF\x00"
            + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + bytes([0, 0]))
    for tid, tab in ((0, qy),) + (((1, qc),) if not gray else ()):
        out += (b"\xFF\xDB" + struct.pack(">H", 67) + bytes([tid])
                + bytes(int(v) for v in tab.reshape(64)[_ZZ_FLAT]))
    # SOF0
    ncomp = 1 if gray else 3
    out += b"\xFF\xC0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8,
                                     height, width, ncomp)
    samp_y = 0x22 if (subsample and not gray) else 0x11
    comp_spec = [(1, samp_y, 0)] + ([] if gray else
                                    [(2, 0x11, 1), (3, 0x11, 1)])
    for cid, samp, tq in comp_spec:
        out += bytes([cid, samp, tq])
    # DHT
    tables = [(0x00, _DC_LUMA), (0x10, _AC_LUMA)]
    if not gray:
        tables += [(0x01, _DC_CHROMA), (0x11, _AC_CHROMA)]
    for tclass, (bits, values) in tables:
        out += (b"\xFF\xC4" + struct.pack(">H", 19 + len(values))
                + bytes([tclass]) + bytes(bits) + bytes(values))
    if restart_interval:
        out += b"\xFF\xDD" + struct.pack(">HH", 4, restart_interval)
    # SOS
    out += b"\xFF\xDA" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for cid, dc_ac in [(1, 0x00)] + ([] if gray else [(2, 0x11), (3, 0x11)]):
        out += bytes([cid, dc_ac])
    out += bytes([0, 63, 0])

    dc_y = _build_codes(*_DC_LUMA)
    ac_y = _build_codes(*_AC_LUMA)
    dc_c = _build_codes(*_DC_CHROMA)
    ac_c = _build_codes(*_AC_CHROMA)
    writer = _BitWriter()
    if gray or not subsample:
        # non-interleaved-equivalent MCU = one block per component
        padded = [_pad_to_blocks(p, -(-p.shape[0] // 8) * 8,
                                 -(-p.shape[1] // 8) * 8) for p in planes]
        split = [_split_blocks(p) for p in padded]
        preds = [0] * len(planes)
        n_mcu = len(split[0])
        rst = 0
        for m in range(n_mcu):
            if restart_interval and m and m % restart_interval == 0:
                writer.pad_and_mark(rst)
                rst += 1
                preds = [0] * len(planes)
            for ci in range(len(planes)):
                qt = qy if ci == 0 else qc
                dc = dc_y if ci == 0 else dc_c
                ac = ac_y if ci == 0 else ac_c
                preds[ci] = _encode_blocks(writer, [split[ci][m]], qt,
                                           dc, ac, preds[ci])
    else:
        # 4:2:0 MCU = 4 Y blocks (2x2) + 1 Cb + 1 Cr
        mcu_h, mcu_w = -(-height // 16), -(-width // 16)
        ypad = _pad_to_blocks(planes[0], mcu_h * 16, mcu_w * 16)
        cpads = [_pad_to_blocks(p, mcu_h * 8, mcu_w * 8)
                 for p in planes[1:]]
        preds = [0, 0, 0]
        rst = mcu_n = 0
        for my in range(mcu_h):
            for mx in range(mcu_w):
                if restart_interval and mcu_n and \
                        mcu_n % restart_interval == 0:
                    writer.pad_and_mark(rst)
                    rst += 1
                    preds = [0, 0, 0]
                mcu_n += 1
                yb = [ypad[my * 16 + by * 8:my * 16 + by * 8 + 8,
                           mx * 16 + bx * 8:mx * 16 + bx * 8 + 8]
                      for by in range(2) for bx in range(2)]
                preds[0] = _encode_blocks(writer, yb, qy, dc_y, ac_y,
                                          preds[0])
                for ci, cp in enumerate(cpads, start=1):
                    blk = cp[my * 8:my * 8 + 8, mx * 8:mx * 8 + 8]
                    preds[ci] = _encode_blocks(writer, [blk], qc, dc_c,
                                               ac_c, preds[ci])
    out += writer.flush()
    out += b"\xFF\xD9"                                  # EOI
    return bytes(out)


def _prog_ac_table():
    """AC table for progressive EOB-run scans: Annex K defines no codes
    for the EOBn symbols (r<<4, r=1..14), and its 16-bit code space has
    no canonical room to append them — so build a flat canonical table
    (every symbol 9 bits) over everything a progressive AC scan can
    emit: runs 0–15 × sizes 1–10, EOB0..EOB14, ZRL. Compression
    efficiency is irrelevant for fixtures; validity is what matters."""
    values = sorted({(r << 4) | sz for r in range(16)
                     for sz in range(1, 11)}
                    | {r << 4 for r in range(15)} | {0xF0})
    bits = [0] * 16
    bits[8] = len(values)                   # all codes 9 bits long
    return bits, values


_AC_LUMA_PROG = _prog_ac_table()
_AC_CHROMA_PROG = _AC_LUMA_PROG


def encode_progressive_jpeg(pixels: "np.ndarray",
                            quality: int = 75,
                            subsample: bool = False,
                            restart_interval: int = 0,
                            first_al: int = 1,
                            eob_runs: bool = False) -> bytes:
    """Encode (h, w) grayscale or (h, w, 3) RGB uint8 as a PROGRESSIVE
    (SOF2) JFIF JPEG with the classic successive-approximation scan
    script: interleaved DC first pass (Al=1), per-component AC first
    passes over the full 1–63 band (Al=1), then DC and AC refinement
    passes (Ah=1, Al=0). Same IJG-scaled Annex-K quant tables and
    Huffman tables as the baseline encoder — the QUANTIZED COEFFICIENTS
    are identical, so ``decode_jpeg`` must reproduce the baseline
    encoding's pixels exactly (pinned in tests). ``subsample`` emits
    4:2:0 chroma: the interleaved DC scans walk the 2×2-Y MCU grid
    while the AC scans walk each component's OWN ceil'd block raster —
    the two traversal geometries a progressive decoder must get right
    (T.81 A.2.2 vs A.2.3).
    ``restart_interval`` emits DRI + RSTn markers every that many MCUs
    (blocks, for the non-interleaved AC scans) in EVERY scan,
    exercising the decoder's per-scan predictor/EOB-run resets.
    ``first_al`` deepens the successive approximation (Al=first_al
    first passes, then one refinement scan per level down to 0);
    ``eob_runs`` encodes runs of end-of-band blocks as EOBn symbols
    (with AC tables extended by the EOBn codes) instead of one EOB0
    per block — the coding real libjpeg streams use.
    """
    arr = np.asarray(pixels, dtype=np.uint8)
    gray = arr.ndim == 2
    if not gray and (arr.ndim != 3 or arr.shape[2] != 3):
        raise ValueError("encode_progressive_jpeg expects (h, w) gray or "
                         "(h, w, 3) RGB")
    subsample = subsample and not gray
    height, width = arr.shape[:2]
    qy = _scale_quant(_QUANT_LUMA, quality)
    qc = _scale_quant(_QUANT_CHROMA, quality)
    if gray:
        planes = [arr.astype(np.float64) - 128.0]
    else:
        rgb = arr.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:                       # 2x2 box average, like SOF0
            ph = _pad_to_blocks(cb, height + height % 2, width + width % 2)
            cb = (ph[0::2, 0::2] + ph[1::2, 0::2]
                  + ph[0::2, 1::2] + ph[1::2, 1::2]) / 4.0
            ph = _pad_to_blocks(cr, height + height % 2, width + width % 2)
            cr = (ph[0::2, 0::2] + ph[1::2, 0::2]
                  + ph[0::2, 1::2] + ph[1::2, 1::2]) / 4.0
        planes = [y - 128.0, cb - 128.0, cr - 128.0]

    ncomp = len(planes)
    samps = [(2, 2), (1, 1), (1, 1)] if subsample else [(1, 1)] * ncomp
    max_h = max(sh for sh, _ in samps[:ncomp])
    max_v = max(sv for _, sv in samps[:ncomp])
    mcus_x = -(-width // (8 * max_h))
    mcus_y = -(-height // (8 * max_v))

    # quantized zigzag coefficient GRIDS per component, padded to the
    # MCU grid (interleaved DC scans cover the padding; AC scans only
    # walk each component's real ceil'd raster)
    grids = []
    for ci, p in enumerate(planes):
        qt = qy if ci == 0 else qc
        sh, sv = samps[ci]
        gh, gw = mcus_y * sv, mcus_x * sh
        padded = _pad_to_blocks(p, gh * 8, gw * 8)
        grid = np.zeros((gh, gw, 64), np.int32)
        for by in range(gh):
            for bx in range(gw):
                blk = padded[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                c = np.round(_DCT @ blk @ _DCT.T / qt).astype(np.int32)
                grid[by, bx] = np.clip(c, -1023, 1023).reshape(64)[_ZZ_FLAT]
        grids.append(grid)

    out = bytearray(b"\xFF\xD8")
    out += (b"\xFF\xE0" + struct.pack(">H", 16) + b"JFIF\x00"
            + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + bytes([0, 0]))
    for tid, tab in ((0, qy),) + (((1, qc),) if not gray else ()):
        out += (b"\xFF\xDB" + struct.pack(">H", 67) + bytes([tid])
                + bytes(int(v) for v in tab.reshape(64)[_ZZ_FLAT]))
    out += b"\xFF\xC2" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8,
                                     height, width, ncomp)       # SOF2
    for i in range(ncomp):
        sh, sv = samps[i]
        out += bytes([i + 1, (sh << 4) | sv, 0 if i == 0 else 1])
    ac_luma = _AC_LUMA_PROG if eob_runs else _AC_LUMA
    ac_chroma = _AC_CHROMA_PROG if eob_runs else _AC_CHROMA
    tables = [(0x00, _DC_LUMA), (0x10, ac_luma)]
    if not gray:
        tables += [(0x01, _DC_CHROMA), (0x11, ac_chroma)]
    for tclass, (bits, values) in tables:
        out += (b"\xFF\xC4" + struct.pack(">H", 19 + len(values))
                + bytes([tclass]) + bytes(bits) + bytes(values))
    if restart_interval:
        out += b"\xFF\xDD" + struct.pack(">HH", 4, restart_interval)

    dc_codes = [_build_codes(*_DC_LUMA)] + \
        [_build_codes(*_DC_CHROMA)] * (ncomp - 1)
    ac_codes = [_build_codes(*ac_luma)] + \
        [_build_codes(*ac_chroma)] * (ncomp - 1)

    def sos(comps_td_ta, ss, se, ah, al):
        seg = bytearray(b"\xFF\xDA")
        seg += struct.pack(">HB", 6 + 2 * len(comps_td_ta),
                           len(comps_td_ta))
        for cid, tdta in comps_td_ta:
            seg += bytes([cid, tdta])
        seg += bytes([ss, se, (ah << 4) | al])
        return seg

    def ac_raster(ci):
        """Component ci's real (non-MCU-padded) block raster."""
        sh, sv = samps[ci]
        cw = -(-width * sh // max_h)
        ch = -(-height * sv // max_v)
        for by in range(-(-ch // 8)):
            for bx in range(-(-cw // 8)):
                yield grids[ci][by, bx]

    def mcu_interleave():
        """Yield (mcu_index, [(ci, by, bx), ...]) per MCU."""
        n = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                units = []
                for ci in range(ncomp):
                    sh, sv = samps[ci]
                    for by in range(sv):
                        for bx in range(sh):
                            units.append((ci, my * sv + by, mx * sh + bx))
                yield n, units
                n += 1

    al0 = int(first_al)                             # first-pass shift
    if al0 < 1:
        raise ValueError("first_al must be >= 1")
    rst = [0]

    def maybe_rst(wtr, unit_index, scan_enc=None):
        if restart_interval and unit_index and \
                unit_index % restart_interval == 0:
            if scan_enc is not None:
                scan_enc.flush()            # EOB runs never cross RSTn
            wtr.pad_and_mark(rst[0])
            rst[0] += 1
            return True
        return False

    # scan 1: DC first, interleaved, Al=first_al
    out += sos([(i + 1, (0 if i == 0 else 1) << 4)
                for i in range(ncomp)], 0, 0, 0, al0)
    wtr = _BitWriter()
    rst[0] = 0
    preds = [0] * ncomp
    for m, units in mcu_interleave():
        if maybe_rst(wtr, m):
            preds = [0] * ncomp
        for ci, by, bx in units:
            v = int(grids[ci][by, bx, 0]) >> al0    # arithmetic shift (T.81)
            size, bits = _magnitude(v - preds[ci])
            preds[ci] = v
            code, length = dc_codes[ci][size]
            wtr.write(code, length)
            if size:
                wtr.write(bits, size)
    out += wtr.flush()
    # scans 2..: AC first per component, full band, Al=first_al
    for ci in range(ncomp):
        out += sos([(ci + 1, 0 if ci == 0 else 1)], 1, 63, 0, al0)
        wtr = _BitWriter()
        rst[0] = 0
        enc = _AcFirstScanEncoder(wtr, 1, 63, al0, ac_codes[ci],
                                  eob_runs=eob_runs)
        for n, zz in enumerate(ac_raster(ci)):
            maybe_rst(wtr, n, enc)
            enc.block(zz)
        enc.flush()
        out += wtr.flush()
    # refinement levels: Ah=a+1 -> Al=a, down to 0
    for a in range(al0 - 1, -1, -1):
        # DC refinement: raw bit per block (no Huffman table needed)
        out += sos([(i + 1, 0) for i in range(ncomp)], 0, 0, a + 1, a)
        wtr = _BitWriter()
        rst[0] = 0
        for m, units in mcu_interleave():
            maybe_rst(wtr, m)
            for ci, by, bx in units:
                wtr.write((int(grids[ci][by, bx, 0]) >> a) & 1, 1)
        out += wtr.flush()
        # AC refinement per component
        for ci in range(ncomp):
            out += sos([(ci + 1, 0 if ci == 0 else 1)], 1, 63, a + 1, a)
            wtr = _BitWriter()
            rst[0] = 0
            enc = _AcRefineScanEncoder(wtr, 1, 63, a, ac_codes[ci],
                                       eob_runs=eob_runs)
            for n, zz in enumerate(ac_raster(ci)):
                maybe_rst(wtr, n, enc)
                enc.block(zz)
            enc.flush()
            out += wtr.flush()
    out += b"\xFF\xD9"
    return bytes(out)


class _AcFirstScanEncoder:
    """Scan-level first-pass AC encoder with optional EOBn RUNS: blocks
    whose band (after the point transform) ends in zeros open a run;
    consecutive all-zero-band blocks extend it; the run flushes as one
    EOBn symbol (T.81 G.1.2.2) before the next coded coefficient, at a
    restart boundary, or at scan end. ``eob_runs=False`` degrades to
    one EOB0 per block (never a run > 1)."""

    def __init__(self, wtr, ss, se, al, ac, eob_runs=True):
        self.wtr, self.ss, self.se, self.al, self.ac = wtr, ss, se, al, ac
        self.eob_runs = eob_runs
        self.pending = 0

    def flush(self):
        n = self.pending
        if not n:
            return
        r = n.bit_length() - 1
        code, length = self.ac[r << 4]
        self.wtr.write(code, length)
        if r:
            self.wtr.write(n - (1 << r), r)
        self.pending = 0

    def block(self, zz):
        ts = []
        for k in range(self.ss, self.se + 1):
            v = int(zz[k])
            ts.append((abs(v) >> self.al) * (1 if v >= 0 else -1))
        last = -1
        for i, t in enumerate(ts):
            if t:
                last = i
        if last == -1:                       # all-zero band: join a run
            if self.pending == 0 or not self.eob_runs:
                self.flush()
                self.pending = 1
            else:
                self.pending += 1
                if self.pending == 32767:    # EOBn ceiling (r<=14)
                    self.flush()
            return
        self.flush()
        run = 0
        for i in range(last + 1):
            t = ts[i]
            if t == 0:
                run += 1
                continue
            while run > 15:
                code, length = self.ac[0xF0]
                self.wtr.write(code, length)
                run -= 16
            size, bits = _magnitude(t)
            code, length = self.ac[(run << 4) | size]
            self.wtr.write(code, length)
            self.wtr.write(bits, size)
            run = 0
        if last < self.se - self.ss:         # trailing zeros start a run
            self.pending = 1
            if not self.eob_runs:
                self.flush()


class _AcRefineScanEncoder:
    """Scan-level AC refinement encoder with optional EOBn runs: blocks
    with no newly-significant coefficient join the run, and their
    history-coefficient correction bits are buffered IN BLOCK ORDER and
    emitted right after the EOBn symbol — the order the decoder's
    EOB-run tail consumes them in (T.81 G.1.2.3)."""

    def __init__(self, wtr, ss, se, al, ac, eob_runs=True):
        self.wtr, self.ss, self.se, self.al, self.ac = wtr, ss, se, al, ac
        self.eob_runs = eob_runs
        self.pending = 0
        self.run_bits = []

    def flush(self):
        n = self.pending
        if not n:
            return
        r = n.bit_length() - 1
        code, length = self.ac[r << 4]
        self.wtr.write(code, length)
        if r:
            self.wtr.write(n - (1 << r), r)
        for bit in self.run_bits:
            self.wtr.write(bit, 1)
        self.pending = 0
        self.run_bits = []

    def block(self, zz):
        absv = {k: abs(int(zz[k])) >> self.al
                for k in range(self.ss, self.se + 1)}
        eob = self.ss - 1
        for k in range(self.ss, self.se + 1):
            if absv[k] == 1:
                eob = k
        if eob < self.ss:                    # no new significance: run
            tail = [absv[k] & 1 for k in range(self.ss, self.se + 1)
                    if absv[k] > 1]
            if self.pending == 0 or not self.eob_runs:
                self.flush()
                self.pending = 1
                self.run_bits = tail
            else:
                self.pending += 1
                self.run_bits += tail
                if self.pending == 32767:
                    self.flush()
            return
        self.flush()
        run = 0
        br = []
        for k in range(self.ss, self.se + 1):
            t = absv[k]
            if t == 0:
                run += 1
                continue
            if k <= eob:
                while run > 15:
                    code, length = self.ac[0xF0]
                    self.wtr.write(code, length)
                    run -= 16
                    for bit in br:
                        self.wtr.write(bit, 1)
                    br = []
            if t > 1:                        # history coefficient
                br.append(t & 1)
                continue
            code, length = self.ac[(run << 4) | 1]
            self.wtr.write(code, length)
            self.wtr.write(1 if int(zz[k]) >= 0 else 0, 1)
            run = 0
            for bit in br:
                self.wtr.write(bit, 1)
            br = []
        if run > 0 or br:                    # tail opens a run
            self.pending = 1
            self.run_bits = br
            if not self.eob_runs:
                self.flush()


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    unstuffing; stops at any non-RST marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker = None

    def _fill(self) -> bool:
        d = self.data
        if self.pos >= len(d):
            return False
        byte = d[self.pos]
        if byte == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:      # restart marker: handled by caller
                self.marker = nxt
                return False
            else:
                self.marker = nxt
                return False
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | byte
        self.nbits += 8
        return True

    def read_bit(self) -> int:
        if self.nbits == 0 and not self._fill():
            return 0                        # spec: pad reads past end with 0
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_to_restart(self) -> None:
        """Drop partial bits, scan forward to the next RSTn marker, and
        consume it (T.81 E.2.4: restarts are byte-aligned)."""
        self.acc = 0
        self.nbits = 0
        self.marker = None
        d, at = self.data, self.pos
        while at + 1 < len(d) and not (d[at] == 0xFF
                                       and 0xD0 <= d[at + 1] <= 0xD7):
            at += 1
        self.pos = at + 2                   # past FF Dn


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map `size`-bit magnitude to signed value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _decode_symbol(reader, table) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | reader.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise NotImplementedError("corrupt JPEG: no Huffman code matched")


def decode_jpeg(data: bytes):
    """Decode a BASELINE sequential (SOF0/SOF1) or PROGRESSIVE (SOF2)
    Huffman JPEG. Returns ``(height, width, channels, pixels)`` — uint8,
    top-down, RGB for 3-component YCbCr streams, matching
    ``decode_image``'s contract. Progressive streams accumulate
    coefficients across scans (DC first/refine, AC spectral selection +
    successive approximation, T.81 G.1/G.2) and reconstruct at EOI.
    Arithmetic/12-bit/hierarchical modes raise NotImplementedError at
    the documented PIL integration point."""
    if data[:2] != b"\xFF\xD8":
        raise NotImplementedError("not a JPEG stream (no SOI)")
    pos = 2
    qtabs: dict = {}
    huff: dict = {}
    frame = None
    restart_interval = 0
    progressive = False
    coefs: dict = {}
    n_scans = 0
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        seg = data[pos + 4:pos + 2 + seglen]
        if marker == 0xDB:                               # DQT
            at = 0
            while at < len(seg):
                pq, tq = seg[at] >> 4, seg[at] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                vals = np.frombuffer(seg, np.uint8, 64, at + 1)
                tab = np.empty(64, np.int32)
                tab[_ZZ_FLAT] = vals
                qtabs[tq] = tab.reshape(8, 8)
                at += 65
        elif marker == 0xC4:                             # DHT
            at = 0
            while at < len(seg):
                tc, th = seg[at] >> 4, seg[at] & 0x0F
                bits = list(seg[at + 1:at + 17])
                n = sum(bits)
                values = list(seg[at + 17:at + 17 + n])
                huff[(tc, th)] = _build_decode_map(bits, values)
                at += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):         # SOF0/1 baseline, SOF2
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise NotImplementedError("only 8-bit precision JPEG")
            if nc not in (1, 3):
                raise NotImplementedError(
                    f"{nc}-component JPEG (CMYK/Adobe) needs PIL — only "
                    "grayscale and YCbCr decode here")
            comps = []
            for i in range(nc):
                cid, samp, tq = seg[6 + 3 * i:9 + 3 * i]
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 0x0F,
                              "tq": tq})
            frame = (h, w, comps)
            if progressive:
                max_h = max(c["h"] for c in comps)
                max_v = max(c["v"] for c in comps)
                mcus_x = -(-w // (8 * max_h))
                mcus_y = -(-h // (8 * max_v))
                coefs = {c["id"]: np.zeros(
                    (mcus_y * c["v"], mcus_x * c["h"], 64), np.int32)
                    for c in comps}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline-sequential and progressive-Huffman JPEG "
                f"decode without PIL (SOF marker 0x{marker:02X})")
        elif marker == 0xDD:                             # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:                             # SOS
            if frame is None:
                raise NotImplementedError("JPEG SOS before SOF")
            ns = seg[0]
            scan = []
            for i in range(ns):
                cs, tdta = seg[1 + 2 * i:3 + 2 * i]
                comp = next(c for c in frame[2] if c["id"] == cs)
                scan.append((comp, tdta >> 4, tdta & 0x0F))
            if not progressive:
                return _decode_scan(data, pos + 2 + seglen, frame, scan,
                                    qtabs, huff, restart_interval)
            ss, se, ahal = seg[1 + 2 * ns:4 + 2 * ns]
            pos = _decode_progressive_scan(
                data, pos + 2 + seglen, frame, scan, ss, se,
                ahal >> 4, ahal & 0x0F, huff, restart_interval, coefs)
            n_scans += 1
            continue
        pos += 2 + seglen
    # reconstruct only if at least one scan actually decoded — a
    # truncated stream cut after the headers must raise like the
    # baseline path, not return a silent flat-gray image
    if progressive and coefs and n_scans:
        return _reconstruct_progressive(frame, coefs, qtabs)
    raise NotImplementedError("JPEG stream has no SOS scan")


def _decode_scan(data, pos, frame, scan, qtabs, huff, restart_interval):
    height, width, comps = frame
    max_h = max(c["h"] for c in comps)
    max_v = max(c["v"] for c in comps)
    mcu_w, mcu_h = 8 * max_h, 8 * max_v
    mcus_x = -(-width // mcu_w)
    mcus_y = -(-height // mcu_h)
    planes = {c["id"]: np.zeros((mcus_y * c["v"] * 8, mcus_x * c["h"] * 8),
                                np.float64) for c in comps}
    preds = {c["id"]: 0 for c in comps}
    reader = _BitReader(data, pos)
    idct = _DCT.T
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                reader.align_to_restart()
                preds = {c["id"]: 0 for c in comps}
            for comp, td, ta in scan:
                cid = comp["id"]
                qt = qtabs[comp["tq"]]
                dct_t, act = huff[(0, td)], huff[(1, ta)]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        zz = np.zeros(64, np.int32)
                        s = _decode_symbol(reader, dct_t)
                        diff = _extend(reader.receive(s), s)
                        preds[cid] += diff
                        zz[0] = preds[cid]
                        k = 1
                        while k < 64:
                            rs = _decode_symbol(reader, act)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break                       # EOB
                            k += r
                            if k > 63:
                                break
                            zz[k] = _extend(reader.receive(s), s)
                            k += 1
                        block = np.zeros(64, np.float64)
                        block[_ZZ_FLAT] = zz * qt.reshape(64)[_ZZ_FLAT]
                        pix = idct @ block.reshape(8, 8) @ _DCT
                        py = (my * comp["v"] + by) * 8
                        px = (mx * comp["h"] + bx) * 8
                        planes[cid][py:py + 8, px:px + 8] = pix
            mcu_count += 1
    return _planes_to_pixels(frame, planes, max_h, max_v)


def _comp_block_dims(frame, comp):
    """Block grid of one component for NON-interleaved scans
    (T.81 A.2.2: ceil over the downsampled dimensions)."""
    height, width, comps = frame
    max_h = max(c["h"] for c in comps)
    max_v = max(c["v"] for c in comps)
    cw = -(-width * comp["h"] // max_h)
    ch = -(-height * comp["v"] // max_v)
    return -(-ch // 8), -(-cw // 8)


def _decode_progressive_scan(data, pos, frame, scan, ss, se, ah, al,
                             huff, restart_interval, coefs):
    """One progressive scan (T.81 G.2): updates the per-component
    coefficient accumulators in place, returns the stream position after
    the scan's entropy data. DC scans (ss==0) may interleave several
    components in MCU order; AC scans cover ONE component in its own
    block-raster order with EOB-run coding; ah>0 marks a successive-
    approximation refinement pass."""
    height, width, comps = frame
    max_h = max(c["h"] for c in comps)
    max_v = max(c["v"] for c in comps)
    reader = _BitReader(data, pos)
    state = {"eobrun": 0,
             "preds": {c["id"]: 0 for c in comps}}

    def maybe_restart(unit_index):
        if restart_interval and unit_index and \
                unit_index % restart_interval == 0:
            reader.align_to_restart()
            state["eobrun"] = 0
            state["preds"] = {c["id"]: 0 for c in comps}

    if ss == 0:                                           # DC scan
        if se != 0:
            raise NotImplementedError(
                "progressive scan mixes DC and AC bands (Ss=0, Se>0)")
        interleaved = len(scan) > 1
        if interleaved:
            mcus_x = -(-width // (8 * max_h))
            mcus_y = -(-height // (8 * max_v))
            n = 0
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    maybe_restart(n)
                    n += 1
                    for comp, td, _ta in scan:
                        cid = comp["id"]
                        for by in range(comp["v"]):
                            for bx in range(comp["h"]):
                                _dc_unit(reader, huff, td, ah, al,
                                         coefs[cid],
                                         my * comp["v"] + by,
                                         mx * comp["h"] + bx,
                                         state["preds"], cid)
        else:
            comp, td, _ta = scan[0]
            cid = comp["id"]
            bh, bw = _comp_block_dims(frame, comp)
            n = 0
            for by in range(bh):
                for bx in range(bw):
                    maybe_restart(n)
                    n += 1
                    _dc_unit(reader, huff, td, ah, al, coefs[cid],
                             by, bx, state["preds"], cid)
    else:                                                 # AC scan
        if len(scan) != 1:
            raise NotImplementedError(
                "progressive AC scans are single-component by spec "
                "(T.81 B.2.3)")
        comp, _td, ta = scan[0]
        cid = comp["id"]
        act = huff.get((1, ta))
        bh, bw = _comp_block_dims(frame, comp)
        n = 0
        for by in range(bh):
            for bx in range(bw):
                maybe_restart(n)
                n += 1
                block = coefs[cid][by, bx]
                if ah == 0:
                    _ac_first(reader, act, block, ss, se, al, state)
                else:
                    _ac_refine(reader, act, block, ss, se, al, state)
    return reader.pos


def _dc_unit(reader, huff, td, ah, al, carr, by, bx, preds, cid):
    if ah == 0:                                     # first pass: diff coded
        s = _decode_symbol(reader, huff[(0, td)])
        diff = _extend(reader.receive(s), s)
        preds[cid] += diff
        carr[by, bx, 0] = preds[cid] << al
    else:                                           # refinement: 1 raw bit
        if reader.read_bit():
            carr[by, bx, 0] |= 1 << al


def _ac_first(reader, act, block, ss, se, al, state):
    """T.81 G.2.2 first AC pass of a band with EOB-run coding."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = _decode_symbol(reader, act)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:                             # ZRL: 16 zeros
                k += 16
                continue
            state["eobrun"] = (1 << r) - 1          # EOBn
            if r:
                state["eobrun"] += reader.receive(r)
            break
        k += r
        if k > se:
            break
        block[k] = _extend(reader.receive(s), s) << al
        k += 1


def _ac_refine(reader, act, block, ss, se, al, state):
    """T.81 G.2.3 successive-approximation AC refinement: newly
    significant coefficients arrive as ±1·2^al; every already-nonzero
    coefficient traversed (inside runs AND inside the EOB run) carries
    one correction bit."""
    p1, m1 = 1 << al, -1 << al

    def correct(k):
        if reader.read_bit() and (block[k] & p1) == 0:
            block[k] += p1 if block[k] >= 0 else m1

    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            rs = _decode_symbol(reader, act)
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s == 0:
                if r != 15:                         # EOBn
                    # FULL count (unlike the first pass): the CURRENT
                    # block still owes correction bits for its nonzero
                    # tail — the eobrun tail loop below handles it and
                    # decrements
                    state["eobrun"] = 1 << r
                    if r:
                        state["eobrun"] += reader.receive(r)
                    break
                # r == 15: pass 16 zero-HISTORY coefficients
            else:
                val = p1 if reader.read_bit() else m1
            while k <= se:
                if block[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        if s:
                            block[k] = val
                        k += 1
                        break
                    r -= 1
                k += 1
    if state["eobrun"] > 0:
        while k <= se:                              # EOB-run corrections
            if block[k] != 0:
                correct(k)
            k += 1
        state["eobrun"] -= 1


def _reconstruct_progressive(frame, coefs, qtabs):
    """Dequantize + IDCT the accumulated coefficients — identical math
    to the baseline path, so a progressive re-encoding of the same
    quantized blocks decodes to the identical pixels."""
    height, width, comps = frame
    max_h = max(c["h"] for c in comps)
    max_v = max(c["v"] for c in comps)
    idct = _DCT.T
    planes = {}
    for comp in comps:
        carr = coefs[comp["id"]]
        bh, bw = carr.shape[:2]
        qt = qtabs[comp["tq"]].reshape(64)
        plane = np.zeros((bh * 8, bw * 8), np.float64)
        for by in range(bh):
            for bx in range(bw):
                block = np.zeros(64, np.float64)
                block[_ZZ_FLAT] = carr[by, bx] * qt[_ZZ_FLAT]
                plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                    idct @ block.reshape(8, 8) @ _DCT
        planes[comp["id"]] = plane
    return _planes_to_pixels(frame, planes, max_h, max_v)


def _planes_to_pixels(frame, planes, max_h, max_v):
    """Upsample component planes to full resolution, crop, color-convert
    — the shared tail of the baseline and progressive decoders."""
    height, width, comps = frame
    full = []
    for comp in comps:
        p = planes[comp["id"]] + 128.0
        p = np.repeat(np.repeat(p, max_v // comp["v"], axis=0),
                      max_h // comp["h"], axis=1)
        full.append(p[:height, :width])
    if len(full) == 1:
        pix = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return height, width, 1, pix[:, :, None]
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    pix = np.clip(np.round(np.stack([r, g, b], axis=2)), 0,
                  255).astype(np.uint8)
    return height, width, 3, pix
