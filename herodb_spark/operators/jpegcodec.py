"""Baseline JPEG codec — pure stdlib + numpy, no codec libraries.

Closes the repo's last lossy-codec stub for images: `decode_jpeg`
handles baseline sequential DCT JFIF streams (SOI/APPn/DQT/SOF0/DHT/
DRI/SOS/EOI markers, 8-bit precision, grayscale or YCbCr with
4:4:4 / 4:2:2 / 4:2:0 sampling, restart markers, byte stuffing),
returning the same feature shape the PPM/PNG decoders emit plus the
full pixel array for tests. `encode_jpeg` is a minimal baseline
encoder (4:4:4, spec Annex K Huffman tables, caller-chosen quant
tables) used by the tests to author fixtures — with unit quant
tables the roundtrip error is float-rounding only, so the decoder is
verified against known pixels, not just against itself.

Scope notes (honest): progressive, arithmetic-coded, 12-bit and
CMYK JPEGs are rejected with clear errors. Entropy decode is a
driver-side bit loop per blob — the distributed story is unchanged
(Arrow-batched mapInPandas over binary columns; see
operators/multimodal.py), and numpy does the 8x8 IDCT/color math
vectorized per block.

Reference parity: the reference kernel has no media layer at all —
this family comes from the training-data-pipeline mandate
(SURVEY.md F families), so the cited design is the public JPEG spec
(ITU-T T.81) rather than a reference file.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- tables

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int32)

# ITU-T T.81 Annex K.3 "typical" Huffman tables: (BITS[1..16], HUFFVAL)
K3_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
K3_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
K3_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
K3_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

# 8x8 DCT-II basis: block = C @ coeffs @ C.T  (orthonormal)
_N = 8
_C = np.zeros((_N, _N))
for _k in range(_N):
    for _n in range(_N):
        _C[_n, _k] = np.cos(np.pi * (2 * _n + 1) * _k / (2 * _N))
_C *= np.sqrt(2.0 / _N)
_C[:, 0] *= np.sqrt(0.5)


def _idct2(block: np.ndarray) -> np.ndarray:
    return _C @ block @ _C.T


def _dct2(block: np.ndarray) -> np.ndarray:
    return _C.T @ block @ _C


# ---------------------------------------------------------------- huffman


def _build_decode_table(bits: list[int], vals: list[int]) -> dict:
    """(code_length, code) -> symbol, per T.81 C.2 canonical order."""
    table = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[i]
            i += 1
            code += 1
        code <<= 1
    return table


def _build_encode_table(bits: list[int], vals: list[int]) -> dict:
    return {sym: (ln, code) for (ln, code), sym in _build_decode_table(bits, vals).items()}


class _BitReader:
    """Entropy-segment bit reader: 0xFF00 unstuffing, RSTn detection."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0
        self.marker = None  # set when an RST/other marker is hit

    def _fill(self) -> None:
        d = self.data
        while self.nbits <= 24:
            if self.pos >= len(d):
                self.bitbuf = (self.bitbuf << 8) | 0
                self.nbits += 8
                continue
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                if nxt == 0x00:  # stuffed 0xFF data byte
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7 or nxt in (0xD9, 0xDA, 0xC4):
                    self.marker = nxt  # restart / end of scan
                    self.bitbuf = (self.bitbuf << 8) | 0
                    self.nbits += 8
                    continue
                else:
                    raise ValueError(f"unexpected marker 0xFF{nxt:02X} in scan")
            else:
                self.pos += 1
            self.bitbuf = (self.bitbuf << 8) | b
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode(self, table: dict) -> int:
        length, code = 0, 0
        for _ in range(16):
            code = (code << 1) | self.read_bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in scan")

    def align_restart(self) -> None:
        """Consume up to the RSTn marker the scan hit and reset."""
        d = self.data
        # drop buffered bits, find the marker bytes
        self.bitbuf = 0
        self.nbits = 0
        self.marker = None
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("restart marker expected but not found")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: magnitude-category value to signed."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


# ---------------------------------------------------------------- decoder


def decode_jpeg(blob: bytes, with_pixels: bool = False) -> dict:
    """Decode a baseline sequential JPEG. Returns {width, height,
    maxval, mean_rgb} (grayscale replicated), plus `pixels`
    (H x W x 3 uint8) when with_pixels."""
    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    n = len(blob)
    while pos + 4 <= n:
        if blob[pos] != 0xFF:
            raise ValueError(f"marker expected at offset {pos}")
        marker = blob[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:
            continue  # parameterless
        (seglen,) = struct.unpack(">H", blob[pos : pos + 2])
        body = blob[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0x0F
                p += 1
                if pq != 0:
                    raise ValueError("16-bit quantization tables not supported")
                qt[tq] = np.frombuffer(body[p : p + 64], dtype=np.uint8).astype(
                    np.int32
                )
                p += 64
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 0x0F
                p += 1
                bits = list(body[p : p + 16])
                p += 16
                cnt = sum(bits)
                vals = list(body[p : p + cnt])
                p += cnt
                (huff_dc if tc == 0 else huff_ac)[th] = _build_decode_table(bits, vals)
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nc = body[0], *struct.unpack(">HH", body[1:5]), body[5]
            if prec != 8:
                raise ValueError(f"{prec}-bit precision not supported (8 only)")
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = {"w": w, "h": h, "comps": comps}
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"only baseline sequential DCT (SOF0) is supported, got SOF "
                f"marker 0xFF{marker:02X}"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF0")
            ns = body[0]
            scan = []
            for i in range(ns):
                cs, tt = body[1 + 2 * i], body[2 + 2 * i]
                comp = next(c for c in frame["comps"] if c["id"] == cs)
                scan.append((comp, tt >> 4, tt & 0x0F))
            data_pos = pos + seglen
            return _decode_scan(
                blob, data_pos, frame, scan, qt, huff_dc, huff_ac,
                restart_interval, with_pixels,
            )
        pos += seglen
    raise ValueError("JPEG has no SOS scan")


def _decode_scan(blob, pos, frame, scan, qt, huff_dc, huff_ac, ri, with_pixels):
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = {}
    for c in comps:
        pw, ph = mcux * 8 * c["h"], mcuy * 8 * c["v"]
        planes[c["id"]] = np.zeros((ph, pw), dtype=np.float64)
    rdr = _BitReader(blob, pos)
    pred = {c["id"]: 0 for c in comps}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if ri and mcu_count and mcu_count % ri == 0:
                rdr.align_restart()
                pred = {c["id"]: 0 for c in comps}
            for comp, td, ta in scan:
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        zz = np.zeros(64, dtype=np.int32)
                        t = rdr.decode(huff_dc[td])
                        diff = _extend(rdr.receive(t), t)
                        pred[comp["id"]] += diff
                        zz[0] = pred[comp["id"]]
                        k = 1
                        while k < 64:
                            rs = rdr.decode(huff_ac[ta])
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC run past end of block")
                            zz[k] = _extend(rdr.receive(s), s)
                            k += 1
                        deq = zz * qt[comp["tq"]]
                        block = np.zeros(64, dtype=np.float64)
                        block[ZIGZAG] = deq
                        px = _idct2(block.reshape(8, 8)) + 128.0
                        y0 = (my * comp["v"] + by) * 8
                        x0 = (mx * comp["h"] + bx) * 8
                        planes[comp["id"]][y0 : y0 + 8, x0 : x0 + 8] = px
            mcu_count += 1
    # upsample to full resolution, crop, color-convert
    full = []
    for c in comps:
        p = planes[c["id"]]
        if c["h"] != hmax or c["v"] != vmax:
            p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        ycc = np.clip(full[0], 0, 255)
        rgb = np.stack([ycc, ycc, ycc], axis=-1)
    elif len(full) == 3:
        y, cb, cr = full
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        rgb = np.clip(np.stack([r, g, b], axis=-1), 0, 255)
    else:
        raise ValueError(f"{len(full)}-component JPEG not supported (1 or 3)")
    rgb8 = np.round(rgb).astype(np.uint8)
    out = {
        "width": w,
        "height": h,
        "maxval": 255,
        "mean_rgb": tuple(float(rgb8[..., i].mean()) for i in range(3)),
    }
    if with_pixels:
        out["pixels"] = rgb8
    return out


# ---------------------------------------------------------------- encoder


def encode_jpeg(
    pixels: np.ndarray,
    quant: int = 1,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Minimal baseline encoder for test fixtures: YCbCr 4:4:4 (or
    4:2:0 with `subsample`, or grayscale for 2-D input), Annex K.3
    Huffman tables, a FLAT quant table of `quant` (1 = near-lossless:
    the only loss is DCT float rounding), optional DRI/RSTn restart
    markers. Not a production encoder — it exists so the decoder can
    be verified against independently-authored bytes covering every
    decode path (subsampling, restarts, byte stuffing, partial MCUs)."""
    pixels = np.asarray(pixels, dtype=np.float64)
    gray = pixels.ndim == 2
    h, w = pixels.shape[:2]
    if gray:
        comps = [("Y", pixels, 0, 1, 1)]
        hmax = vmax = 1
    else:
        r, g, b = pixels[..., 0], pixels[..., 1], pixels[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsample:
            # pad to even, then 2x2 box-average the chroma planes
            def down(p):
                pe = np.pad(p, ((0, p.shape[0] & 1), (0, p.shape[1] & 1)), "edge")
                return 0.25 * (
                    pe[0::2, 0::2] + pe[1::2, 0::2] + pe[0::2, 1::2] + pe[1::2, 1::2]
                )

            comps = [("Y", y, 0, 2, 2), ("Cb", down(cb), 1, 1, 1), ("Cr", down(cr), 1, 1, 1)]
            hmax = vmax = 2
        else:
            comps = [("Y", y, 0, 1, 1), ("Cb", cb, 1, 1, 1), ("Cr", cr, 1, 1, 1)]
            hmax = vmax = 1
    qtab = np.full(64, quant, dtype=np.int32)
    enc_dc = [_build_encode_table(*K3_DC_LUMA), _build_encode_table(*K3_DC_CHROMA)]
    enc_ac = [_build_encode_table(*K3_AC_LUMA), _build_encode_table(*K3_AC_CHROMA)]

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, body: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(body) + 2))
        out.extend(body)

    seg(0xDB, bytes([0x00]) + bytes(int(qtab[i]) for i in range(64)))
    nf = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, nf)
    for i, (_nm, _pl, _cls, ch, cv) in enumerate(comps):
        sof += bytes([i + 1, (ch << 4) | cv, 0])
    seg(0xC0, sof)
    for tc, tables in ((0, (K3_DC_LUMA, K3_DC_CHROMA)), (1, (K3_AC_LUMA, K3_AC_CHROMA))):
        for th in range(2 if not gray else 1):
            bits, vals = tables[th]
            seg(0xC4, bytes([tc << 4 | th]) + bytes(bits) + bytes(vals))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([nf])
    for i in range(nf):
        cls = 0 if i == 0 else 1
        sos += bytes([i + 1, cls << 4 | cls])
    sos += bytes([0, 63, 0])
    seg(0xDA, sos)

    bitbuf, nbits = 0, 0

    def put(code: int, ln: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << ln) | code
        nbits += ln
        while nbits >= 8:
            nbits -= 8
            byte = (bitbuf >> nbits) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)

    def flush_bits() -> None:
        nonlocal nbits
        if nbits:
            put((1 << (8 - nbits)) - 1, 8 - nbits)  # pad with 1s

    def emit_block(plane, ys, xs, cls, ci) -> None:
        blk = np.full((8, 8), 0.0)
        tile = plane[ys : ys + 8, xs : xs + 8]
        blk[: tile.shape[0], : tile.shape[1]] = tile
        # edge-extend the partial tile (repeat last row/col)
        if 0 < tile.shape[0] < 8:
            blk[tile.shape[0] :, :] = blk[tile.shape[0] - 1, :]
        if 0 < tile.shape[1] < 8:
            blk[:, tile.shape[1] :] = blk[:, tile.shape[1] - 1][:, None]
        coeff = _dct2(blk - 128.0)
        q = np.round(coeff.reshape(64) / qtab.reshape(8, 8).reshape(64))
        zz = q[ZIGZAG].astype(np.int64)
        diff = int(zz[0]) - pred[ci]
        pred[ci] = int(zz[0])
        t = int(diff).bit_length() if diff != 0 else 0
        ln, code = enc_dc[cls][t]
        put(code, ln)
        if t:
            v = diff if diff > 0 else diff + (1 << t) - 1
            put(v & ((1 << t) - 1), t)
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                ln, code = enc_ac[cls][0xF0]
                put(code, ln)
                run -= 16
            s = abs(v).bit_length()
            ln, code = enc_ac[cls][(run << 4) | s]
            put(code, ln)
            ev = v if v > 0 else v + (1 << s) - 1
            put(ev & ((1 << s) - 1), s)
            run = 0
        if run:
            ln, code = enc_ac[cls][0x00]
            put(code, ln)

    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    pred = [0] * len(comps)
    mcu_count = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                flush_bits()
                out.extend(bytes([0xFF, 0xD0 + rst]))
                rst = (rst + 1) & 7
                pred = [0] * len(comps)
            for ci, (_nm, plane, cls, ch, cv) in enumerate(comps):
                for by in range(cv):
                    for bx in range(ch):
                        emit_block(
                            plane, (my * cv + by) * 8, (mx * ch + bx) * 8, cls, ci
                        )
            mcu_count += 1
    flush_bits()
    out.extend(b"\xff\xd9")
    return bytes(out)


# ------------------------------------------------------------- IMA ADPCM
# (a real LOSSY audio codec — WAV format tag 0x11, DVI/IMA ADPCM:
# 4-bit differential coding against an adaptive step-size table; the
# public IMA reference algorithm)

IMA_INDEX_TABLE = [-1, -1, -1, -1, 2, 4, 6, 8]
IMA_STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
]


def _ima_step(pred: int, index: int, nibble: int) -> tuple[int, int]:
    step = IMA_STEP_TABLE[index]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    if nibble & 8:
        pred -= diff
    else:
        pred += diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + IMA_INDEX_TABLE[nibble & 7]))
    return pred, index


def decode_ima_adpcm_block(block: bytes, channels: int) -> list[int]:
    """One IMA-ADPCM WAV block → interleaved PCM16 samples. Block
    layout (per channel): int16 predictor, uint8 step index, pad
    byte; then nibble data interleaved in 4-byte channel runs."""
    preds, idxs = [], []
    p = 0
    for _ in range(channels):
        (pred,) = struct.unpack("<h", block[p : p + 2])
        index = block[p + 2]
        if index > 88:
            raise ValueError(f"IMA ADPCM step index {index} out of range")
        preds.append(pred)
        idxs.append(index)
        p += 4
    out: list[list[int]] = [[pred] for pred in preds]
    data = block[p:]
    # nibbles come in 4-byte (8-sample) runs per channel, interleaved
    run = 4
    pos = 0
    while pos + run * channels <= len(data):
        for c in range(channels):
            chunk = data[pos + c * run : pos + (c + 1) * run]
            for byte in chunk:
                for nib in (byte & 0x0F, byte >> 4):
                    preds[c], idxs[c] = _ima_step(preds[c], idxs[c], nib)
                    out[c].append(preds[c])
        pos += run * channels
    n = min(len(o) for o in out)
    inter: list[int] = []
    for i in range(n):
        for c in range(channels):
            inter.append(out[c][i])
    return inter


# ---------------------------------------------------------------- MJPEG
# (video as concatenated baseline-JPEG frames — the classic MJPEG
# stream layout; real frame boundaries, real per-frame decode)


def split_mjpeg_frames(blob: bytes) -> list[bytes]:
    """Split a concatenated-JPEG (MJPEG) stream into its frames by
    walking SOI..EOI marker pairs (0xFF00 stuffing makes naive
    searching safe only between frames — we scan from each SOI for
    the next EOI that is not inside an entropy-stuffed pair)."""
    frames: list[bytes] = []
    pos = 0
    n = len(blob)
    while pos + 1 < n:
        if blob[pos] == 0xFF and blob[pos + 1] == 0xD8:
            end = blob.find(b"\xff\xd9", pos + 2)
            if end < 0:
                raise ValueError("MJPEG frame missing EOI")
            frames.append(blob[pos : end + 2])
            pos = end + 2
        else:
            pos += 1
    if not frames:
        raise ValueError("no JPEG frames in MJPEG stream")
    return frames


def mjpeg_features(blob: bytes, scene_threshold: float = 12.0) -> dict:
    """Per-stream video features over REAL decoded frames: frame
    count, dimensions, per-frame mean luma, and scene-change cuts
    (mean-luma jump ≥ threshold between consecutive frames)."""
    frames = split_mjpeg_frames(blob)
    lumas: list[float] = []
    w = h = None
    for f in frames:
        d = decode_jpeg(f)
        w, h = d["width"], d["height"]
        r, g, b = d["mean_rgb"]
        lumas.append(0.299 * r + 0.587 * g + 0.114 * b)
    cuts = [
        i for i in range(1, len(lumas))
        if abs(lumas[i] - lumas[i - 1]) >= scene_threshold
    ]
    return {
        "n_frames": len(frames),
        "width": w,
        "height": h,
        "mean_luma": lumas,
        "scene_cuts": cuts,
    }
