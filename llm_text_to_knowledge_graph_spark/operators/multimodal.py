"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with typed metadata; decode /
feature-extract / container probe run as Arrow-batched pandas UDFs over
mapInPandas.

Codec status (round 3): PNG (8-bit gray/RGB/RGBA, all five scanline
filters), JPEG — baseline AND progressive SOF2 (DCT, Huffman, gray + YCbCr with
4:4:4/4:2:2/4:2:0 subsampling, restart markers) and PCM WAV decode for
REAL, dependency-free (zlib + struct + numpy; PNG/WAV golden-file
tested, JPEG verified against a spec-independent test encoder plus
real-world files). MP4 and MP3 are now parsed for REAL at the CONTAINER
level (``media_containers.py``: ISO BMFF box walk + stsz sample
sizes; MPEG audio frame index). Only the codec ENTROPY DECODE (H.264/AAC/MP3 Huffman) remains
stubbed via NotImplementedError: it genuinely needs external libraries
this container lacks. The deterministic ``fake=True`` digest stub
remains for schema/batch-shape tests.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), False),  # image|audio|video
        StructField("payload", BinaryType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
    ]
)

FEATURES = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), False),
        StructField("feature", ArrayType(FloatType()), False),
        StructField("n_bytes", LongType(), False),
    ]
)

FEATURE_DIM = 16


def _fake_decode(payload: bytes, media_type: str) -> np.ndarray:
    """Deterministic stand-in for a real decoder: a unit-norm feature vector
    derived from the payload digest. Replace with PIL/librosa/ffmpeg when
    available — the UDF signature and batch shape do not change."""
    digest = hashlib.sha256((media_type.encode() + (payload or b""))).digest()
    vec = np.frombuffer(digest[: FEATURE_DIM * 2], dtype=np.uint16).astype("float32")
    norm = float(np.linalg.norm(vec)) or 1.0
    return vec / norm


# ---------------------------------------------------------------------------
# real decoders (dependency-free)
# ---------------------------------------------------------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, rgb, gray+a, rgba


def decode_png(payload: bytes) -> np.ndarray:
    """Minimal real PNG decoder: 8-bit depth, color types gray/RGB/
    gray+alpha/RGBA, non-interlaced; all five scanline filters (None, Sub,
    Up, Average, Paeth) undone with numpy. Returns (H, W, C) uint8."""
    if not payload.startswith(_PNG_MAGIC):
        raise ValueError("not a PNG payload")
    pos = len(_PNG_MAGIC)
    width = height = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos: pos + 4])
        ctype = payload[pos + 4: pos + 8]
        data = payload[pos + 8: pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8 or color_type not in _PNG_CHANNELS or interlace != 0:
        raise NotImplementedError(
            f"PNG variant not supported (depth={bit_depth}, "
            f"color={color_type}, interlace={interlace})"
        )
    ch = _PNG_CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = width * ch
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG raster size mismatch")
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    filters = arr[:, 0]
    scan = arr[:, 1:].astype(np.int32)
    out = np.zeros_like(scan)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        f = filters[y]
        row = scan[y].copy()
        if f == 0:  # None
            cur = row
        elif f == 1:  # Sub
            cur = row
            for x in range(ch, stride):
                cur[x] = (cur[x] + cur[x - ch]) & 0xFF
        elif f == 2:  # Up
            cur = (row + prev) & 0xFF
        elif f == 3:  # Average
            cur = row
            for x in range(stride):
                left = cur[x - ch] if x >= ch else 0
                cur[x] = (cur[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            cur = row
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {f}")
        out[y] = cur
        prev = cur
    return out.astype(np.uint8).reshape(height, width, ch)


# --- JPEG (ITU-T T.81: baseline + progressive DCT, Huffman) ----------------

_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# orthonormal 8-point DCT-II basis: spatial = C.T @ coeffs @ C
_DCT_C = np.array(
    [
        [
            (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


class _JpegBitReader:
    """Entropy-segment bit reader: un-stuffs 0xFF00, stops at markers,
    resyncs past RSTn on restart()."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0

    def _next_byte(self) -> int:
        d = self.data
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
                return 0xFF
            # a real marker (EOI / RSTn / next segment): pad with zeros, as
            # the spec's byte-alignment fill; restart()/caller consumes it
            return 0  # do not advance
        self.pos += 1
        return b

    def read_bit(self) -> int:
        if self.nbits == 0:
            self.bits = self._next_byte()
            self.nbits = 8
        self.nbits -= 1
        return (self.bits >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self) -> None:
        """Consume an RSTn marker and byte-align (DRI intervals)."""
        self.nbits = 0
        d = self.data
        while d[self.pos] != 0xFF or d[self.pos + 1] == 0x00:
            self.pos += 1  # skip any left-over entropy bytes
        if 0xD0 <= d[self.pos + 1] <= 0xD7:
            self.pos += 2


def _build_huffman(counts: list[int], symbols: list[int]) -> dict:
    """(length, code) -> symbol, per T.81 Annex C canonical code assignment."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_decode(reader: _JpegBitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("bad JPEG Huffman code")


def _extend(v: int, s: int) -> int:
    return v - ((1 << s) - 1) if s and v < (1 << (s - 1)) else v


def _comp_block_grid(frame, cid):
    """MCU-padded and non-interleaved block-grid dims for one component.

    Interleaved scans address blocks MCU-wise (mcu_y*v, mcu_x*h incl.
    padding); a non-interleaved (single-component) scan addresses only
    ceil(comp_samples/8) rows/cols of blocks (T.81 A.2.2: no MCU padding).
    """
    height, width, comps = frame
    hmax = max(h for _, h, _, _ in comps)
    vmax = max(v for _, _, v, _ in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    for c, h, v, _tq in comps:
        if c == cid:
            samples_x = -(-(width * h) // hmax)
            samples_y = -(-(height * v) // vmax)
            return mcux * h, mcuy * v, -(-samples_x // 8), -(-samples_y // 8)
    raise ValueError(f"unknown JPEG component id {cid}")


def _reconstruct_jpeg(frame, coefs, qt) -> np.ndarray:
    """Shared finish for baseline and progressive: per-component raw
    zigzag coefficient grids (BY, BX, 64) -> dequantize -> batched IDCT
    (one einsum per plane, not per block) -> upsample/crop -> gray or
    BT.601 RGB. Identical math to the former per-block loop."""
    height, width, comps = frame
    hmax = max(h for _, h, _, _ in comps)
    vmax = max(v for _, _, v, _ in comps)
    out_planes = []
    for cid, h, v, tq in comps:
        grid = coefs[cid]
        by, bx = grid.shape[:2]
        nat = np.zeros((by * bx, 64), dtype=np.float64)
        nat[:, _ZIGZAG] = grid.reshape(by * bx, 64) * qt[tq]
        spatial = np.einsum(
            "ij,njk,kl->nil", _DCT_C.T, nat.reshape(-1, 8, 8), _DCT_C
        )
        plane = (
            spatial.reshape(by, bx, 8, 8).transpose(0, 2, 1, 3)
            .reshape(by * 8, bx * 8)
        ) + 128.0
        plane = np.repeat(
            np.repeat(plane, vmax // v, axis=0), hmax // h, axis=1
        )
        out_planes.append(plane[:height, :width])
    if len(out_planes) == 1:
        gray = np.clip(out_planes[0], 0, 255)
        return gray.astype(np.uint8)[..., None]
    y, cb, cr = out_planes[0], out_planes[1] - 128.0, out_planes[2] - 128.0
    rgb = np.stack(
        [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb],
        axis=2,
    )
    return np.clip(rgb, 0, 255).astype(np.uint8)


def _decode_progressive_scan(
    reader, frame, scan, coefs, huff_dc, huff_ac, restart_interval, eobrun
) -> int:
    """One SOF2 scan (T.81 G.2): DC-first / DC-refine (interleaved or
    single-component) and AC-first / AC-refine (single-component by spec)
    accumulated into the raw zigzag coefficient grids. Returns the EOB
    run left over (always 0 at a spec-conformant scan end; threaded for
    symmetry with the per-scan reset)."""
    ns, scan_tables, ss, se, ah, al = scan
    height, width, comps = frame
    scomps = [c for c in comps if c[0] in scan_tables]
    if ss == 0:  # DC scan (Se must be 0)
        pred = {cid: 0 for cid, *_ in scomps}
        if len(scomps) > 1:  # interleaved MCU order
            hmax = max(h for _, h, _, _ in comps)
            vmax = max(v for _, _, v, _ in comps)
            mcux = -(-width // (8 * hmax))
            mcuy = -(-height // (8 * vmax))
            mcu_i = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    if (
                        restart_interval
                        and mcu_i
                        and mcu_i % restart_interval == 0
                    ):
                        reader.restart()
                        pred = {cid: 0 for cid, *_ in scomps}
                    mcu_i += 1
                    for cid, h, v, _tq in scomps:
                        td = scan_tables[cid][0]
                        for by in range(v):
                            for bx in range(h):
                                blk = coefs[cid][my * v + by, mx * h + bx]
                                if ah == 0:
                                    s = _huff_decode(reader, huff_dc[td])
                                    pred[cid] += _extend(reader.receive(s), s)
                                    blk[0] = pred[cid] << al
                                elif reader.read_bit():
                                    blk[0] |= 1 << al
        else:
            cid = scomps[0][0]
            td = scan_tables[cid][0]
            _bw, _bh, nbx, nby = _comp_block_grid(frame, cid)
            blk_i = 0
            for by in range(nby):
                for bx in range(nbx):
                    if (
                        restart_interval
                        and blk_i
                        and blk_i % restart_interval == 0
                    ):
                        reader.restart()
                        pred[cid] = 0
                    blk_i += 1
                    blk = coefs[cid][by, bx]
                    if ah == 0:
                        s = _huff_decode(reader, huff_dc[td])
                        pred[cid] += _extend(reader.receive(s), s)
                        blk[0] = pred[cid] << al
                    elif reader.read_bit():
                        blk[0] |= 1 << al
        return 0

    # AC scan: exactly one component (T.81 B.2.3)
    if len(scomps) != 1:
        raise ValueError("progressive AC scan must be single-component")
    cid = scomps[0][0]
    ta = scan_tables[cid][1]
    table = huff_ac[ta]
    _bw, _bh, nbx, nby = _comp_block_grid(frame, cid)
    p1, m1 = 1 << al, -(1 << al)
    blk_i = 0
    for by in range(nby):
        for bx in range(nbx):
            if restart_interval and blk_i and blk_i % restart_interval == 0:
                reader.restart()
                eobrun = 0
            blk_i += 1
            blk = coefs[cid][by, bx]
            if ah == 0:  # -------- AC first ------------------------------
                if eobrun:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = _huff_decode(reader, table)
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r == 15:
                            k += 16  # ZRL
                            continue
                        eobrun = (1 << r) - 1 + (
                            reader.receive(r) if r else 0
                        )
                        break
                    k += r
                    blk[k] = _extend(reader.receive(s), s) << al
                    k += 1
            else:  # -------------- AC refine (G.1.2.3 correction bits) ---
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = _huff_decode(reader, table)
                        r, s = rs >> 4, rs & 0x0F
                        val = 0
                        if s == 0:
                            if r != 15:
                                eobrun = (1 << r) + (
                                    reader.receive(r) if r else 0
                                )
                                break
                            # ZRL: skip 16 zero-history coefficients
                        else:  # s == 1: a newly-nonzero +-1 at this bit
                            val = p1 if reader.read_bit() else m1
                        while k <= se:
                            c = int(blk[k])
                            if c != 0:
                                if reader.read_bit() and (c & p1) == 0:
                                    blk[k] = c + (p1 if c >= 0 else m1)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if val and k <= se:
                            blk[k] = val
                        k += 1
                if eobrun > 0:
                    while k <= se:  # refine the rest of the band
                        c = int(blk[k])
                        if c != 0 and reader.read_bit() and (c & p1) == 0:
                            blk[k] = c + (p1 if c >= 0 else m1)
                        k += 1
                    eobrun -= 1
    return eobrun


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Minimal real JPEG decoder (ITU-T T.81): baseline/extended
    sequential DCT (SOF0/1) AND progressive DCT (SOF2 — spectral
    selection, successive approximation, interleaved or per-component DC
    scans, EOB runs), 8-bit samples, Huffman entropy coding, grayscale
    or YCbCr with any h/v sampling factors <= 2 (4:4:4, 4:2:2, 4:2:0),
    restart markers, multi-table DQT/DHT segments. Lossless and
    arithmetic-coded variants raise NotImplementedError. Returns
    (H, W, C) uint8 — C=1 grayscale, C=3 RGB (BT.601 YCbCr, chroma
    upsampled by replication).

    Pure python+numpy entropy loop: this is the capability-parity codec
    for the multimodal plumbing, not a throughput path — at 100 TB image
    decode belongs in a native library behind the same mapInPandas UDF.
    """
    d = payload
    if d[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None  # (height, width, comps) ; comps: (cid, h, v, tq)
    progressive = False
    coefs: dict[int, np.ndarray] = {}  # cid -> (BY, BX, 64) zigzag int32
    scans_decoded = 0  # a header-only SOF2 must still raise, not go gray
    restart_interval = 0
    while pos + 4 <= len(d):
        if d[pos] != 0xFF:
            pos += 1
            continue
        marker = d[pos + 1]
        if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = struct.unpack(">H", d[pos + 2: pos + 4])
        body = d[pos + 4: pos + 2 + seglen]
        if marker == 0xDB:  # DQT (may hold several tables)
            b = 0
            while b < len(body):
                prec, tid = body[b] >> 4, body[b] & 0x0F
                b += 1
                if prec:
                    tbl = np.frombuffer(body[b: b + 128], dtype=">u2").astype(np.int32)
                    b += 128
                else:
                    tbl = np.frombuffer(body[b: b + 64], dtype=np.uint8).astype(np.int32)
                    b += 64
                qt[tid] = tbl
        elif marker in (0xC0, 0xC1, 0xC2):  # sequential / progressive SOF
            progressive = marker == 0xC2
            _prec, height, width, nf = struct.unpack(">BHHB", body[:6])
            comps = []
            for i in range(nf):
                cid, hv, tq = body[6 + 3 * i: 9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = (height, width, comps)
            if progressive:
                for cid, h, v, _tq in comps:
                    bw, bh, _, _ = _comp_block_grid(frame, cid)
                    coefs[cid] = np.zeros((bh, bw, 64), dtype=np.int32)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF{marker - 0xC0} (lossless/arithmetic) not supported"
            )
        elif marker == 0xC4:  # DHT (may hold several tables)
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0x0F
                counts = list(body[b + 1: b + 17])
                n = sum(counts)
                symbols = list(body[b + 17: b + 17 + n])
                (huff_ac if tc else huff_dc)[th] = _build_huffman(counts, symbols)
                b += 17 + n
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            scan_tables = {}
            for i in range(ns):
                cs, td_ta = body[1 + 2 * i: 3 + 2 * i]
                scan_tables[cs] = (td_ta >> 4, td_ta & 0x0F)
            height, width, comps = frame
            if progressive:
                ss = body[1 + 2 * ns]
                se = body[2 + 2 * ns]
                a = body[3 + 2 * ns]
                reader = _JpegBitReader(d, pos + 2 + seglen)
                _decode_progressive_scan(
                    reader, frame, (ns, scan_tables, ss, se, a >> 4, a & 0x0F),
                    coefs, huff_dc, huff_ac, restart_interval, 0,
                )
                scans_decoded += 1
                # resync to the next marker past the entropy data
                pos = reader.pos
                while pos + 1 < len(d) and not (
                    d[pos] == 0xFF
                    and d[pos + 1] != 0x00
                    and not (0xD0 <= d[pos + 1] <= 0xD7)
                ):
                    pos += 1
                continue
            if ns != len(comps):
                raise NotImplementedError("non-interleaved JPEG scan not supported")
            hmax = max(h for _, h, _, _ in comps)
            vmax = max(v for _, _, v, _ in comps)
            mcux = -(-width // (8 * hmax))
            mcuy = -(-height // (8 * vmax))
            bcoefs = {
                cid: np.zeros((mcuy * v, mcux * h, 64), dtype=np.int32)
                for cid, h, v, _ in comps
            }
            pred = {cid: 0 for cid, *_ in comps}
            reader = _JpegBitReader(d, pos + 2 + seglen)
            mcu_i = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                        reader.restart()
                        pred = {cid: 0 for cid, *_ in comps}
                    mcu_i += 1
                    for cid, h, v, tq in comps:
                        td, ta = scan_tables[cid]
                        for by in range(v):
                            for bx in range(h):
                                coef = np.zeros(64, dtype=np.int32)
                                s = _huff_decode(reader, huff_dc[td])
                                diff = _extend(reader.receive(s), s)
                                pred[cid] += diff
                                coef[0] = pred[cid]
                                k = 1
                                while k < 64:
                                    rs = _huff_decode(reader, huff_ac[ta])
                                    r, s = rs >> 4, rs & 0x0F
                                    if s == 0:
                                        if r == 15:
                                            k += 16  # ZRL
                                            continue
                                        break  # EOB
                                    k += r
                                    coef[k] = _extend(reader.receive(s), s)
                                    k += 1
                                bcoefs[cid][my * v + by, mx * h + bx] = coef
            return _reconstruct_jpeg(frame, bcoefs, qt)
        elif marker == 0xD9:  # EOI
            if progressive and scans_decoded:
                return _reconstruct_jpeg(frame, coefs, qt)
            break
        pos += 2 + seglen
    if progressive and scans_decoded:  # EOI-less truncated stream: best effort
        return _reconstruct_jpeg(frame, coefs, qt)
    raise ValueError("JPEG missing SOS scan")


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Minimal real WAV decoder: RIFF/WAVE container, PCM 16-bit. Returns
    (samples int16 [n, channels], sample_rate)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos: pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4: pos + 8])
        body = payload[pos + 8: pos + 8 + clen]
        pos += 8 + clen + (clen & 1)
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _brate, _align, bits = fmt
    if audio_format != 1 or bits != 16:
        raise NotImplementedError(
            f"WAV variant not supported (format={audio_format}, bits={bits})"
        )
    samples = np.frombuffer(
        data[: (len(data) // (2 * n_channels)) * 2 * n_channels], dtype="<i2"
    ).reshape(-1, n_channels)
    return samples, sample_rate


def _feature_from_pixels(arr: np.ndarray) -> np.ndarray:
    """Real image feature: 4x4 grid of grayscale block means, unit-norm —
    FEATURE_DIM values, deterministic, partition-independent."""
    gray = arr[..., :3].mean(axis=2) if arr.shape[2] >= 3 else arr[..., 0].astype(np.float64)
    h, w = gray.shape
    ys = np.linspace(0, h, 5, dtype=int)
    xs = np.linspace(0, w, 5, dtype=int)
    cells = [
        gray[ys[i]: max(ys[i + 1], ys[i] + 1), xs[j]: max(xs[j + 1], xs[j] + 1)].mean()
        for i in range(4)
        for j in range(4)
    ]
    vec = np.asarray(cells, dtype=np.float32)
    norm = float(np.linalg.norm(vec)) or 1.0
    return vec / norm


def _feature_from_audio(samples: np.ndarray) -> np.ndarray:
    """Real audio feature: mean |amplitude| over FEATURE_DIM equal time
    segments (mono-mixed), unit-norm."""
    mono = np.abs(samples.astype(np.float64)).mean(axis=1)
    bounds = np.linspace(0, len(mono), FEATURE_DIM + 1, dtype=int)
    vec = np.asarray(
        [
            mono[bounds[i]: max(bounds[i + 1], bounds[i] + 1)].mean()
            if len(mono)
            else 0.0
            for i in range(FEATURE_DIM)
        ],
        dtype=np.float32,
    )
    norm = float(np.linalg.norm(vec)) or 1.0
    return vec / norm


def decode_media(payload: bytes, media_type: str, fake: bool = False) -> np.ndarray:
    """payload -> FEATURE_DIM unit-norm feature vector.

    Real paths (sniffed by magic bytes): PNG / JPEG (baseline + progressive) ->
    grid-of-block-means feature; PCM WAV -> segment-energy feature. Other
    formats raise NotImplementedError (MP3/MP4 codecs need external
    libraries this container lacks). ``fake=True`` keeps the digest stub
    for plumbing tests."""
    if fake:
        return _fake_decode(payload, media_type)
    p = payload or b""
    if p.startswith(_PNG_MAGIC):
        return _feature_from_pixels(decode_png(p))
    if p[:2] == b"\xff\xd8":
        return _feature_from_pixels(decode_jpeg(p))
    if p[:4] == b"RIFF" and p[8:12] == b"WAVE":
        samples, _rate = decode_wav(p)
        return _feature_from_audio(samples)
    raise NotImplementedError(
        "real decoding implemented for PNG, JPEG (baseline + progressive) "
        "and PCM WAV; "
        "other codecs require libraries not present in this container "
        "(pass fake=True for the deterministic stub)"
    )


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """media (MEDIA schema) -> FEATURES via mapInPandas. Arrow batches keep
    the binary payloads off the driver; partitioning is inherited from the
    scan (payload-heavy tables should be stored with small row groups)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode_media(p, t, fake=fake).tolist()
                for p, t in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "feature": feats,
                    "n_bytes": [len(p or b"") for p in pdf["payload"]],
                }
            )

    return media.mapInPandas(run, schema=FEATURES)


PROBE = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("container", StringType(), True),
        StructField("codec", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
        StructField("n_frames", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
    ]
)


def probe_media(media: DataFrame) -> DataFrame:
    """Container-level metadata extraction (S4-analog for media columns):
    sniff + parse every payload's REAL header/sample tables (MP4 stbl, MP3
    frame index, PNG IHDR, WAV fmt/data, JPEG SOF) into typed columns.
    Unrecognized payloads yield container=NULL instead of failing the
    batch. Arrow-batched mapInPandas; payloads never leave the executor."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .media_containers import probe_container

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    p = probe_container(payload or b"")
                except (ValueError, NotImplementedError, struct.error):
                    p = {"container": None, "codec": None, "width": None,
                         "height": None, "duration_ms": None,
                         "n_frames": None, "sample_rate": None}
                rows.append({"media_id": mid, **p})
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, schema=PROBE)
