"""Baseline JPEG (JFIF) encode + decode in pure numpy.

This container has no Pillow/libjpeg, so the engine's image kernels
implement baseline sequential JPEG directly from the public ITU-T T.81
spec (the reference's image side-channel converts via external tools,
harvester/image_harvest.py:67-102 — here the codec itself is the kernel).

Scope (honest):
- decode: baseline sequential DCT (SOF0), 8-bit, 1 or 3 components,
  component sampling factors 1 or 2 (covers 4:4:4 / 4:2:2 / 4:2:0),
  arbitrary DHT Huffman tables, restart markers. Progressive (SOF2) and
  arithmetic coding are rejected with a clear error.
- encode: 4:4:4 baseline with quality-scaled Annex-K-style quantization
  and canonical FIXED-LENGTH Huffman tables emitted in DHT (spec-valid —
  any JPEG decoder accepts them; a few % larger than optimal tables, and
  sidesteps transcribing the K.3-K.6 constants).

Everything is numpy-vectorized per 8×8 block batch; the only Python loop
is the entropy-coded bitstream walk (inherent to Huffman).
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag scan order: zz[k] = (row, col) linearized index of the k-th
# coefficient — derived, not transcribed
def _zigzag_order() -> np.ndarray:
    order = sorted(((r + c, c if (r + c) % 2 == 0 else r, r, c)
                    for r in range(8) for c in range(8)))
    return np.array([r * 8 + c for _, _, r, c in order], dtype=np.int64)


ZIGZAG = _zigzag_order()
UNZIGZAG = np.argsort(ZIGZAG)

# Annex-K-style base quantization tables (the standard example tables)
QY_BASE = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99]], dtype=np.float64)
QC_BASE = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99]], dtype=np.float64)


def _quality_scale(q_table: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    s = 5000 / quality if quality < 50 else 200 - 2 * quality
    t = np.floor((q_table * s + 50) / 100)
    return np.clip(t, 1, 255)


_C = np.array([[np.cos((2 * x + 1) * u * np.pi / 16) *
                (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
               for x in range(8)] for u in range(8)])


def _dct2(blocks: np.ndarray) -> np.ndarray:
    """(n, 8, 8) spatial → DCT-II coefficients."""
    return _C @ blocks @ _C.T


def _idct2(coeffs: np.ndarray) -> np.ndarray:
    return _C.T @ coeffs @ _C


# ---------------------------------------------------------------------------
# bit I/O
# ---------------------------------------------------------------------------

class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.acc &= (1 << self.nbits) - 1  # keep acc a small int, not O(stream) bigint
            self.out.append(b)
            if b == 0xFF:          # byte stuffing
                self.out.append(0x00)

    def restart(self, idx: int) -> None:
        """Byte-align (1-pad) and emit RSTn — unstuffed, per spec."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        self.out += bytes([0xFF, 0xD0 + (idx % 8)])

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.out)


class _BitReader:
    """Entropy-segment reader with 0xFF00 de-stuffing; stops AT markers."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:   # RSTn handled by caller via sync
                raise _RestartMarker(nxt)
            else:
                raise EOFError("marker inside entropy data")
        else:
            self.pos += 1
        self.nbits += 8
        self.acc = ((self.acc << 8) | b) & ((1 << self.nbits) - 1)

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_restart(self) -> None:
        """Consume a restart marker at the current byte boundary."""
        self.acc = 0
        self.nbits = 0
        while self.data[self.pos] == 0xFF and \
                0xD0 <= self.data[self.pos + 1] <= 0xD7:
            self.pos += 2
            return
        raise ValueError("expected restart marker")


class _RestartMarker(Exception):
    def __init__(self, code: int) -> None:
        self.code = code


# ---------------------------------------------------------------------------
# Huffman
# ---------------------------------------------------------------------------

def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """DHT (BITS[1..16], HUFFVAL) → {symbol: (code, length)}."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _HuffDecoder:
    def __init__(self, bits: list[int], vals: list[int]) -> None:
        # (length → {code: symbol}) walk — simple and spec-exact
        self.by_len: list[dict[int, int]] = [{} for _ in range(17)]
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                self.by_len[length][code] = vals[k]
                code += 1
                k += 1
            code <<= 1

    def decode(self, br: _BitReader) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | br.read_bit()
            sym = self.by_len[length].get(code)
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")


def _fixed_table(symbols: list[int]) -> tuple[list[int], list[int]]:
    """All-same-length canonical table over ``symbols`` (sorted): valid
    prefix code, never uses the all-ones max-length code when
    len(symbols) < 2**L."""
    n = len(symbols)
    L = max(2, int(np.ceil(np.log2(n + 2))))
    bits = [0] * 16
    bits[L - 1] = n
    return bits, sorted(symbols)


def _magnitude(v: int) -> tuple[int, int]:
    """value → (category, extra bits) per the spec's signed-magnitude."""
    if v == 0:
        return 0, 0
    a = abs(v)
    cat = int(a).bit_length()
    extra = v if v > 0 else v + (1 << cat) - 1
    return cat, extra


def _extend(extra: int, cat: int) -> int:
    if cat == 0:
        return 0
    return extra if extra >= (1 << (cat - 1)) else extra - (1 << cat) + 1


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------

def encode_jpeg(img: np.ndarray, quality: int = 85,
                subsample: bool = False,
                restart_interval: int = 0) -> bytes:
    """(h, w, 3) uint8 RGB → baseline JFIF bytes.

    ``subsample=False``: 4:4:4 (one block per component per MCU).
    ``subsample=True``: 4:2:0 — Y at 2×2 blocks per 16×16 MCU, chroma
    box-downsampled 2× (the common camera/web layout; exercises the
    decoder's sampling-factor path). ``restart_interval`` > 0 emits DRI
    + RSTn markers every N MCUs (error-resilience layout real encoders
    use; exercises the decoder's restart resync)."""
    img = np.asarray(img)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("expected (h, w, 3) RGB")
    h, w = img.shape[:2]
    r = img[..., 0].astype(np.float64)
    g = img[..., 1].astype(np.float64)
    b = img[..., 2].astype(np.float64)
    Y = 0.299 * r + 0.587 * g + 0.114 * b
    Cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128
    Cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128

    qy = _quality_scale(QY_BASE, quality)
    qc = _quality_scale(QC_BASE, quality)

    def _downsample2(chan: np.ndarray) -> np.ndarray:
        H, W = (chan.shape[0] + 1) // 2 * 2, (chan.shape[1] + 1) // 2 * 2
        p = np.pad(chan, ((0, H - chan.shape[0]), (0, W - chan.shape[1])),
                   mode="edge")
        return p.reshape(H // 2, 2, W // 2, 2).mean(axis=(1, 3))

    def _quantize(chan: np.ndarray, qt: np.ndarray, mcu_mult: int
                  ) -> tuple[np.ndarray, int, int]:
        """→ (zigzag rows indexed [by, bx], grid dims), channel padded so
        the block grid is a multiple of ``mcu_mult`` in each axis."""
        hh, ww = chan.shape
        H = (hh + 8 * mcu_mult - 1) // (8 * mcu_mult) * 8 * mcu_mult
        W = (ww + 8 * mcu_mult - 1) // (8 * mcu_mult) * 8 * mcu_mult
        p = np.pad(chan - 128.0, ((0, H - hh), (0, W - ww)), mode="edge")
        blocks = (p.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3)
                  .reshape(-1, 8, 8))
        quant = np.round(_dct2(blocks) / qt).astype(np.int64)
        return quant.reshape(-1, 64)[:, ZIGZAG], H // 8, W // 8

    if subsample:
        yzz, ygh, ygw = _quantize(Y, qy, 2)
        cbzz, cgh, cgw = _quantize(_downsample2(Cb), qc, 1)
        crzz, _, _ = _quantize(_downsample2(Cr), qc, 1)
        mcuy, mcux = ygh // 2, ygw // 2
        mcus = []   # per MCU: [(comp_idx, block_row_index), ...]
        for my in range(mcuy):
            for mx in range(mcux):
                mcu = []
                for byi in range(2):
                    for bxi in range(2):
                        mcu.append((0, (my * 2 + byi) * ygw
                                    + mx * 2 + bxi))
                mcu.append((1, my * cgw + mx))
                mcu.append((2, my * cgw + mx))
                mcus.append(mcu)
        comps = [yzz, cbzz, crzz]
        samplings = [0x22, 0x11, 0x11]
    else:
        comps = []
        for chan, qt in ((Y, qy), (Cb, qc), (Cr, qc)):
            zz, gh, gw = _quantize(chan, qt, 1)
            comps.append(zz)
        mcus = [[(ci, bi) for ci in range(3)]
                for bi in range(comps[0].shape[0])]
        samplings = [0x11, 0x11, 0x11]

    # fixed-length canonical tables over every possible symbol
    dc_bits, dc_vals = _fixed_table(list(range(12)))
    ac_syms = sorted({0x00, 0xF0} | {(run << 4) | size
                                     for run in range(16)
                                     for size in range(1, 11)})
    ac_bits, ac_vals = _fixed_table(ac_syms)
    dc_codes = _canonical_codes(dc_bits, dc_vals)
    ac_codes = _canonical_codes(ac_bits, ac_vals)

    bw = _BitWriter()
    prev_dc = [0, 0, 0]
    n_rst = 0
    flat = []
    for mi, mcu in enumerate(mcus):
        if restart_interval and mi and mi % restart_interval == 0:
            flat.append(("RST",))
        flat.extend(mcu)
    for entry in flat:
        if entry == ("RST",):
            bw.restart(n_rst)
            n_rst += 1
            prev_dc = [0, 0, 0]
            continue
        ci, bi = entry
        zz = comps[ci][bi]
        diff = int(zz[0]) - prev_dc[ci]
        prev_dc[ci] = int(zz[0])
        cat, extra = _magnitude(diff)
        code, ln = dc_codes[cat]
        bw.write(code, ln)
        if cat:
            bw.write(extra, cat)
        run = 0
        nz = np.nonzero(zz[1:])[0]
        last = nz[-1] + 1 if nz.size else 0
        for k in range(1, last + 1):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run >= 16:
                code, ln = ac_codes[0xF0]   # ZRL
                bw.write(code, ln)
                run -= 16
            cat, extra = _magnitude(v)
            code, ln = ac_codes[(run << 4) | cat]
            bw.write(code, ln)
            bw.write(extra, cat)
            run = 0
        if last < 63:
            code, ln = ac_codes[0x00]       # EOB
            bw.write(code, ln)
    scan = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    def dqt(tid: int, table: np.ndarray) -> bytes:
        return seg(0xFFDB, bytes([tid])
                   + bytes(table.reshape(64)[ZIGZAG].astype(np.uint8)))

    def dht(cls: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
        return seg(0xFFC4, bytes([(cls << 4) | tid]) + bytes(bits)
                   + bytes(vals))

    sof = seg(0xFFC0, bytes([8]) + struct.pack(">HH", h, w) + bytes([3])
              + bytes([1, samplings[0], 0]) + bytes([2, samplings[1], 1])
              + bytes([3, samplings[2], 1]))
    sos = seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    jfif = seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    dri = (seg(0xFFDD, struct.pack(">H", restart_interval))
           if restart_interval else b"")
    return (b"\xFF\xD8" + jfif + dri + dqt(0, qy) + dqt(1, qc)
            + dht(0, 0, dc_bits, dc_vals) + dht(1, 0, ac_bits, ac_vals)
            + dht(0, 1, dc_bits, dc_vals) + dht(1, 1, ac_bits, ac_vals)
            + sof + sos + scan + b"\xFF\xD9")


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline JFIF bytes → (h, w, 3) uint8 RGB (grayscale replicated)."""
    if data[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _HuffDecoder] = {}
    frame = None
    restart_interval = 0

    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:          # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        ln = struct.unpack(">H", data[pos:pos + 2])[0]
        payload = data[pos + 2:pos + ln]
        if marker == 0xDB:          # DQT (possibly multiple tables)
            p = 0
            while p < len(payload):
                prec_id = payload[p]
                if prec_id >> 4:
                    raise NotImplementedError("16-bit quant tables")
                t = np.zeros(64)
                t[ZIGZAG] = np.frombuffer(payload[p + 1:p + 65],
                                          dtype=np.uint8)
                qtables[prec_id & 0xF] = t.reshape(8, 8)
                p += 65
        elif marker == 0xC4:        # DHT (possibly multiple tables)
            p = 0
            while p < len(payload):
                cls_id = payload[p]
                bits = list(payload[p + 1:p + 17])
                n = sum(bits)
                vals = list(payload[p + 17:p + 17 + n])
                huff[(cls_id >> 4, cls_id & 0xF)] = _HuffDecoder(bits, vals)
                p += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            prec, fh, fw, nc = payload[0], \
                struct.unpack(">H", payload[1:3])[0], \
                struct.unpack(">H", payload[3:5])[0], payload[5]
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            comps = []
            for i in range(nc):
                cid, hv, tq = payload[6 + 3 * i:9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF,
                              "tq": tq})
            frame = {"h": fh, "w": fw, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"SOF{marker - 0xC0}: only baseline sequential supported")
        elif marker == 0xDD:        # DRI
            restart_interval = struct.unpack(">H", payload[:2])[0]
        elif marker == 0xDA:        # SOS → entropy data follows
            ns = payload[0]
            scomp = []
            for i in range(ns):
                cs, tables = payload[1 + 2 * i], payload[2 + 2 * i]
                scomp.append({"cs": cs, "td": tables >> 4,
                              "ta": tables & 0xF})
            pos += ln
            return _decode_scan(data, pos, frame, scomp, qtables, huff,
                                restart_interval)
        pos += ln
    raise ValueError("no scan data found")


def _decode_scan(data: bytes, pos: int, frame: dict, scomp: list,
                 qtables: dict, huff: dict, restart_interval: int
                 ) -> np.ndarray:
    if frame is None:
        raise ValueError("SOS before SOF")
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax > 2 or vmax > 2:
        raise NotImplementedError("sampling factors > 2")
    h, w = frame["h"], frame["w"]
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    by_cs = {s["cs"]: s for s in scomp}
    planes = []
    for c in comps:
        planes.append(np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8)))

    br = _BitReader(data, pos)
    prev_dc = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count \
                    and mcu_count % restart_interval == 0:
                br.sync_restart()
                prev_dc = [0] * len(comps)
            try:
                for ci, c in enumerate(comps):
                    s = by_cs[c["id"]]
                    dc_d = huff[(0, s["td"])]
                    ac_d = huff[(1, s["ta"])]
                    qt = qtables[c["tq"]]
                    for byi in range(c["v"]):
                        for bxi in range(c["h"]):
                            zz = np.zeros(64)
                            cat = dc_d.decode(br)
                            diff = _extend(br.read_bits(cat), cat)
                            prev_dc[ci] += diff
                            zz[0] = prev_dc[ci]
                            k = 1
                            while k < 64:
                                sym = ac_d.decode(br)
                                if sym == 0x00:      # EOB
                                    break
                                if sym == 0xF0:      # ZRL
                                    k += 16
                                    continue
                                k += sym >> 4
                                size = sym & 0xF
                                if k > 63:
                                    raise ValueError("AC index overflow")
                                zz[k] = _extend(br.read_bits(size), size)
                                k += 1
                            coef = np.zeros(64)
                            coef[ZIGZAG] = zz
                            block = _idct2(coef.reshape(8, 8) * qt) + 128.0
                            y0 = (my * c["v"] + byi) * 8
                            x0 = (mx * c["h"] + bxi) * 8
                            planes[ci][y0:y0 + 8, x0:x0 + 8] = block
            except _RestartMarker:
                raise ValueError("unexpected restart marker mid-MCU")
            mcu_count += 1

    # upsample each plane to full MCU-grid resolution, then crop
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0),
                      hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        Y = np.clip(full[0], 0, 255)
        return np.dstack([Y, Y, Y]).astype(np.uint8)
    Y, Cb, Cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = Y + 1.402 * Cr
    g = Y - 0.344136 * Cb - 0.714136 * Cr
    b = Y + 1.772 * Cb
    return np.clip(np.dstack([r, g, b]), 0, 255).astype(np.uint8)
