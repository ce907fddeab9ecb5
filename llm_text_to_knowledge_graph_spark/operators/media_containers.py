"""Container-level MP4 (ISO BMFF) and MP3 parsing — dependency-free.

Round 3 closes the last multimodal gap at the CONTAINER level: video
frame-sampling in production seeks via the MP4 sample tables (``stbl``),
not by decoding every frame, and audio duration/segmentation comes from
the MP3 frame index. Both are implemented here from the public specs
(ISO/IEC 14496-12 box structure; MPEG-1/2 audio frame headers) with
struct + numpy only.

What is REAL: box walking, track metadata (codec fourcc, timescale,
width/height, duration), and the per-sample sizes read from stsz —
verified by round-tripping files built by an independent in-test writer.
What stays STUBBED (honestly): the entropy decode of the codec payloads
(H.264/AAC/MP3 Huffman) — those need external libraries this container
lacks. Frame features over the real sampled bytes use a normalized byte
histogram, which is deterministic and engine-portable.

Scale note: these parsers run inside Arrow-batched ``mapInPandas`` over
the opaque ``binary`` column (see ``multimodal.py``); the per-sample sizes
are O(#samples) integers per row and never leave the executor.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

# ---------------------------------------------------------------------------
# MP4 / ISO BMFF
# ---------------------------------------------------------------------------

@dataclass
class Mp4Track:
    kind: str  # "video" | "audio" | other handler fourcc
    codec: str  # stsd entry fourcc, e.g. "avc1", "mp4a"
    timescale: int
    duration_ms: int
    width: int
    height: int
    # per-sample sizes (stsz)
    sizes: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))

    @property
    def n_samples(self) -> int:
        return int(self.sizes.shape[0])


@dataclass
class Mp4Info:
    brand: str
    duration_ms: int
    tracks: list[Mp4Track]

    def video_track(self) -> Mp4Track | None:
        for t in self.tracks:
            if t.kind == "video":
                return t
        return None


def _iter_boxes(buf: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_end) for the boxes in buf[start:end]."""
    pos = start
    while pos + 8 <= end:
        size = struct.unpack_from(">I", buf, pos)[0]
        fourcc = buf[pos + 4: pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                raise ValueError("truncated largesize box")
            size = struct.unpack_from(">Q", buf, pos + 8)[0]
            body = pos + 16
        elif size == 0:  # to end of enclosing scope
            size = end - pos
        if size < body - pos or pos + size > end:
            raise ValueError(f"bad box size for {fourcc!r}")
        yield fourcc, body, pos + size
        pos += size


def _fullbox(buf: bytes, pos: int) -> tuple[int, int]:
    """(version, body_pos_after_version_flags)."""
    return buf[pos], pos + 4


def _parse_stsz(buf: bytes, s: int) -> np.ndarray:
    _, p = _fullbox(buf, s)
    fixed, n = struct.unpack_from(">II", buf, p)
    if fixed:
        return np.full(n, fixed, dtype=np.int64)
    return np.frombuffer(buf, dtype=">u4", count=n, offset=p + 8).astype(np.int64)


def _parse_trak(buf: bytes, s: int, e: int) -> Mp4Track:
    kind = codec = ""
    timescale = 1
    duration = 0
    width = height = 0
    stsz = None
    for fourcc, bs, be in _iter_boxes(buf, s, e):
        if fourcc == b"tkhd":
            ver, p = _fullbox(buf, bs)
            # skip ids/times to the 16.16 fixed width/height at the tail
            width = struct.unpack_from(">I", buf, be - 8)[0] >> 16
            height = struct.unpack_from(">I", buf, be - 4)[0] >> 16
        elif fourcc == b"mdia":
            for f2, b2s, b2e in _iter_boxes(buf, bs, be):
                if f2 == b"mdhd":
                    ver, p = _fullbox(buf, b2s)
                    if ver == 1:
                        timescale, duration = struct.unpack_from(
                            ">IQ", buf, p + 16
                        )
                    else:
                        timescale, duration = struct.unpack_from(
                            ">II", buf, p + 8
                        )
                elif f2 == b"hdlr":
                    handler = buf[b2s + 8: b2s + 12]
                    kind = {b"vide": "video", b"soun": "audio"}.get(
                        handler, handler.decode("latin1")
                    )
                elif f2 == b"minf":
                    for f3, b3s, b3e in _iter_boxes(buf, b2s, b2e):
                        if f3 != b"stbl":
                            continue
                        for f4, b4s, b4e in _iter_boxes(buf, b3s, b3e):
                            if f4 == b"stsd":
                                # first entry's fourcc
                                codec = buf[b4s + 12: b4s + 16].decode("latin1")
                            elif f4 == b"stsz":
                                stsz = _parse_stsz(buf, b4s)
    timescale = max(int(timescale), 1)
    track = Mp4Track(
        kind=kind,
        codec=codec,
        timescale=timescale,
        duration_ms=int(duration) * 1000 // timescale,
        width=int(width),
        height=int(height),
    )
    if stsz is not None:
        track.sizes = stsz
    return track


def parse_mp4(payload: bytes) -> Mp4Info:
    """Parse an ISO BMFF (MP4/MOV) byte string into track metadata plus
    each track's per-sample sizes (stsz).

    Raises ValueError on malformed boxes; fragmented files (moof) are not
    indexed (their samples live in per-fragment trun tables)."""
    buf = bytes(payload)
    brand = ""
    duration_ms = 0
    tracks: list[Mp4Track] = []
    for fourcc, bs, be in _iter_boxes(buf, 0, len(buf)):
        if fourcc == b"ftyp":
            brand = buf[bs: bs + 4].decode("latin1")
        elif fourcc == b"moov":
            for f2, b2s, b2e in _iter_boxes(buf, bs, be):
                if f2 == b"mvhd":
                    ver, p = _fullbox(buf, b2s)
                    if ver == 1:
                        ts, dur = struct.unpack_from(">IQ", buf, p + 16)
                    else:
                        ts, dur = struct.unpack_from(">II", buf, p + 8)
                    duration_ms = int(dur) * 1000 // max(int(ts), 1)
                elif f2 == b"trak":
                    tracks.append(_parse_trak(buf, b2s, b2e))
    if not brand and not tracks:
        raise ValueError("not an ISO BMFF file (no ftyp/moov)")
    return Mp4Info(brand=brand, duration_ms=duration_ms, tracks=tracks)


# ---------------------------------------------------------------------------
# MP3 frame index
# ---------------------------------------------------------------------------

# bitrate kbps tables indexed [version_group][layer][bitrate_index]
_BITRATES_V1 = {
    1: [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    2: [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    3: [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
}
_BITRATES_V2 = {
    1: [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    2: [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    3: [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
_SAMPLE_RATES = {  # [version_bits] -> [sr_index]
    3: [44100, 48000, 32000],  # MPEG1
    2: [22050, 24000, 16000],  # MPEG2
    0: [11025, 12000, 8000],  # MPEG2.5
}


@dataclass
class Mp3Frame:
    offset: int
    size: int
    samples: int
    sample_rate: int
    bitrate_kbps: int


def _id3v2_size(buf: bytes) -> int:
    if buf[:3] != b"ID3" or len(buf) < 10:
        return 0
    # syncsafe 28-bit size, excludes the 10-byte header
    b = buf[6:10]
    return 10 + ((b[0] & 0x7F) << 21 | (b[1] & 0x7F) << 14 | (b[2] & 0x7F) << 7 | (b[3] & 0x7F))


def parse_mp3(payload: bytes) -> dict:
    """Walk the MPEG audio frame headers (after any ID3v2 tag) and return
    ``{"frames": [Mp3Frame...], "duration_ms": int, "sample_rate": int}``.

    Frame sizes come from the header bitrate/samplerate/padding fields
    (MPEG-1/2/2.5, layers I-III); the Huffman audio decode itself is out
    of scope (needs external codec libraries). Resyncs on garbage bytes
    the way stream players do."""
    buf = bytes(payload)
    pos = _id3v2_size(buf)
    frames: list[Mp3Frame] = []
    duration_ms = 0.0
    while pos + 4 <= len(buf):
        if buf[pos] != 0xFF or (buf[pos + 1] & 0xE0) != 0xE0:
            pos += 1  # resync
            continue
        h1, h2 = buf[pos + 1], buf[pos + 2]
        version_bits = (h1 >> 3) & 0x3  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
        layer_bits = (h1 >> 1) & 0x3  # 3=L1, 2=L2, 1=L3
        br_idx = (h2 >> 4) & 0xF
        sr_idx = (h2 >> 2) & 0x3
        padding = (h2 >> 1) & 0x1
        if version_bits == 1 or layer_bits == 0 or br_idx in (0, 15) or sr_idx == 3:
            pos += 1
            continue
        layer = 4 - layer_bits  # 1, 2, 3
        table = _BITRATES_V1 if version_bits == 3 else _BITRATES_V2
        bitrate = table[layer][br_idx] * 1000
        sample_rate = _SAMPLE_RATES[version_bits][sr_idx]
        if layer == 1:
            size = (12 * bitrate // sample_rate + padding) * 4
            samples = 384
        else:
            per = 144 if (layer == 2 or version_bits == 3) else 72
            size = per * bitrate // sample_rate + padding
            samples = 1152 if (layer == 2 or version_bits == 3) else 576
        if size < 4 or pos + size > len(buf):
            break
        frames.append(
            Mp3Frame(
                offset=pos,
                size=size,
                samples=samples,
                sample_rate=sample_rate,
                bitrate_kbps=bitrate // 1000,
            )
        )
        duration_ms += samples * 1000.0 / sample_rate
        pos += size
    return {
        "frames": frames,
        "duration_ms": int(round(duration_ms)),
        "sample_rate": frames[0].sample_rate if frames else 0,
    }


# ---------------------------------------------------------------------------
# shared probe
# ---------------------------------------------------------------------------


def probe_container(payload: bytes) -> dict:
    """Sniff + parse container-level metadata for any supported format.

    Returns a flat dict (container, codec, width, height, duration_ms,
    n_frames, sample_rate) with -1/"" for fields the format lacks. PNG and
    WAV/JPEG dimensions are delegated to the real decoders' headers."""
    p = bytes(payload or b"")
    out = {
        "container": "", "codec": "", "width": -1, "height": -1,
        "duration_ms": -1, "n_frames": -1, "sample_rate": -1,
    }
    if len(p) >= 12 and p[4:8] == b"ftyp":
        info = parse_mp4(p)
        out["container"] = "mp4"
        out["duration_ms"] = info.duration_ms
        v = info.video_track()
        if v is not None:
            out.update(
                codec=v.codec, width=v.width, height=v.height,
                n_frames=v.n_samples,
            )
        elif info.tracks:
            out["codec"] = info.tracks[0].codec
        return out
    if p[:3] == b"ID3" or (len(p) >= 2 and p[0] == 0xFF and (p[1] & 0xE0) == 0xE0):
        idx = parse_mp3(p)
        if idx["frames"]:
            out.update(
                container="mp3", codec="mpeg-audio",
                duration_ms=idx["duration_ms"],
                n_frames=len(idx["frames"]), sample_rate=idx["sample_rate"],
            )
            return out
    if p.startswith(b"\x89PNG\r\n\x1a\n") and len(p) >= 24:
        w, h = struct.unpack_from(">II", p, 16)
        out.update(container="png", codec="png", width=int(w), height=int(h))
        return out
    if p[:4] == b"RIFF" and p[8:12] == b"WAVE":
        # fmt chunk: channels@22, rate@24; data size from the data chunk
        pos, rate, n_samp, channels = 12, 0, 0, 1
        while pos + 8 <= len(p):
            cid, csz = p[pos: pos + 4], struct.unpack_from("<I", p, pos + 4)[0]
            if cid == b"fmt ":
                channels = struct.unpack_from("<H", p, pos + 10)[0]
                rate = struct.unpack_from("<I", p, pos + 12)[0]
                bits = struct.unpack_from("<H", p, pos + 22)[0]
            elif cid == b"data" and rate:
                n_samp = csz // max(channels * (bits // 8), 1)
            pos += 8 + csz + (csz & 1)
        out.update(
            container="wav", codec="pcm", sample_rate=int(rate),
            duration_ms=int(n_samp * 1000 / rate) if rate else -1,
            n_frames=int(n_samp),
        )
        return out
    if p[:2] == b"\xff\xd8":
        # scan for SOF0/1/2 height/width
        out.update(container="jpeg", codec="jpeg")
        pos = 2
        while pos + 4 <= len(p):
            if p[pos] != 0xFF:
                pos += 1
                continue
            marker = p[pos + 1]
            if marker in (0xC0, 0xC1, 0xC2):
                h, w = struct.unpack_from(">HH", p, pos + 5)
                out.update(width=int(w), height=int(h))
                break
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            pos += 2 + struct.unpack_from(">H", p, pos + 2)[0]
        return out
    raise ValueError("unrecognized media container")


# ---------------------------------------------------------------------------
# deterministic synthetic media corpus (for tests / driver queries / bench)
# ---------------------------------------------------------------------------
#
# The sandbox has no real media files at scale, so — like the synthetic page
# corpus in ``corpus.py`` — these builders emit small but VALID containers,
# deterministically from (seed, media_id). The independent writers in
# tests/test_media_containers.py intentionally do not share this code.

import zlib


def _synth_png(seed: int) -> bytes:
    rng = np.random.default_rng(seed)
    raster = rng.integers(0, 256, size=(12, 16, 3), dtype=np.uint8)
    raw = b"".join(b"\x00" + raster[y].tobytes() for y in range(12))

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 16, 12, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )


def _synth_wav(seed: int) -> bytes:
    n = 8000 * 250 // 1000
    t = np.arange(n, dtype=np.float64)
    freq = 200 + (seed % 17) * 40
    samples = (np.sin(2 * np.pi * freq * t / 8000) * 12000).astype("<i2")
    data = samples.tobytes()
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000 * 2, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def _synth_mp3(seed: int) -> bytes:
    out = bytearray()
    size0 = 144 * 128000 // 44100  # MPEG1 L3 @128kbps/44100
    for i in range(6):
        padding = (seed + i) % 2
        out += bytes([0xFF, 0xFB, (9 << 4) | (0 << 2) | (padding << 1), 0xC4])
        out += bytes((seed + i + j) % 251 for j in range(size0 + padding - 4))
    return bytes(out)


def _synth_mp4(seed: int) -> bytes:
    def box(fourcc: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + fourcc + payload

    def full(fourcc: bytes, payload: bytes) -> bytes:
        return box(fourcc, b"\x00\x00\x00\x00" + payload)

    rng = np.random.default_rng(seed)
    frames = [rng.integers(0, 256, size=60 + 5 * i, dtype=np.uint8).tobytes()
              for i in range(8)]
    timescale = 1000
    delta = timescale // 4
    duration = 8 * delta
    mvhd = full(b"mvhd", struct.pack(">IIII", 0, 0, timescale, duration) + b"\x00" * 80)
    tkhd = full(b"tkhd", b"\x00" * 72 + struct.pack(">II", 32 << 16, 24 << 16))
    mdhd = full(b"mdhd", struct.pack(">IIII", 0, 0, timescale, duration) + b"\x00" * 4)
    hdlr = full(b"hdlr", b"\x00" * 4 + b"vide" + b"\x00" * 13)
    stsd = full(b"stsd", struct.pack(">I", 1) + box(b"avc1", b"\x00" * 78))
    stts = full(b"stts", struct.pack(">III", 1, 8, delta))
    stsc = full(b"stsc", struct.pack(">I", 1) + struct.pack(">III", 1, 8, 1))
    stsz = full(b"stsz", struct.pack(">II", 0, 8)
                + b"".join(struct.pack(">I", len(f)) for f in frames))
    stss = full(b"stss", struct.pack(">II", 1, 1))  # first frame is the keyframe
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512))

    def moov(off: int) -> bytes:
        stco = full(b"stco", struct.pack(">II", 1, off))
        stbl = box(b"stbl", stsd + stts + stsc + stsz + stco + stss)
        return box(
            b"moov",
            mvhd + box(b"trak", tkhd + box(b"mdia", mdhd + hdlr
                                           + box(b"minf", stbl))),
        )

    probe = moov(0)
    mdat_start = len(ftyp) + len(probe) + 8
    return ftyp + moov(mdat_start) + box(b"mdat", b"".join(frames))


def synthesize_media(n: int):
    """n deterministic MEDIA-schema rows cycling over the four real
    containers: [(media_id, media_type, payload, width, height,
    duration_ms)]."""
    rows = []
    for i in range(n):
        s = 7 * 100003 + i
        kind = i % 4
        if kind == 0:
            rows.append((i, "image", bytearray(_synth_png(s)), 16, 12, None))
        elif kind == 1:
            rows.append((i, "audio", bytearray(_synth_wav(s)), None, None, 250))
        elif kind == 2:
            rows.append((i, "audio", bytearray(_synth_mp3(s)), None, None, None))
        else:
            rows.append((i, "video", bytearray(_synth_mp4(s)), 32, 24, 2000))
    return rows
