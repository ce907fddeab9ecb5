"""MP4 (ISO BMFF) and MP3 container parsing — round-trips against an
independent in-test writer.

The writer assembles boxes/frame headers straight from the public specs
(ISO/IEC 14496-12; MPEG-1 audio header layout) without sharing any code
with the parser, so agreement pins both directions. The "frames" are
deterministic synthetic byte blobs; the assertions check that the parser
recovers their EXACT byte ranges, timestamps and sync flags from the
sample tables — which is what real frame-sampling at scale does (seek
via stbl, decode only what you need)."""

import struct

import numpy as np
import pytest

from llm_text_to_knowledge_graph_spark.operators.media_containers import (
    parse_mp3,
    parse_mp4,
    probe_container,
)


# ---------------------------------------------------------------------------
# spec-direct writers (independent of the parser)
# ---------------------------------------------------------------------------


def _box(fourcc: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + fourcc + payload


def _full(fourcc: bytes, version: int, payload: bytes) -> bytes:
    return _box(fourcc, bytes([version, 0, 0, 0]) + payload)


def _make_mp4(frames: list[bytes], fps: int = 10, sync_every: int = 5,
              timescale: int = 1000, width: int = 64, height: int = 48) -> bytes:
    """Minimal progressive MP4: one video track, 2 samples per chunk."""
    n = len(frames)
    delta = timescale // fps
    duration = n * delta

    mvhd = _full(b"mvhd", 0, struct.pack(">II", 0, 0)
                 + struct.pack(">II", timescale, duration) + b"\x00" * 80)
    tkhd = _full(b"tkhd", 0, b"\x00" * 72
                 + struct.pack(">II", width << 16, height << 16))
    mdhd = _full(b"mdhd", 0, struct.pack(">II", 0, 0)
                 + struct.pack(">II", timescale, duration) + b"\x00" * 4)
    hdlr = _full(b"hdlr", 0, b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"\x00")

    stsd = _full(b"stsd", 0, struct.pack(">I", 1)
                 + _box(b"avc1", b"\x00" * 78))
    stts = _full(b"stts", 0, struct.pack(">III", 1, n, delta))
    # 2 samples per chunk (last chunk may have 1)
    spc = 2
    n_chunks = (n + spc - 1) // spc
    if n % spc:
        stsc_rows = [(1, spc, 1), (n_chunks, n % spc, 1)]
    else:
        stsc_rows = [(1, spc, 1)]
    stsc = _full(b"stsc", 0, struct.pack(">I", len(stsc_rows))
                 + b"".join(struct.pack(">III", *r) for r in stsc_rows))
    stsz = _full(b"stsz", 0, struct.pack(">II", 0, n)
                 + b"".join(struct.pack(">I", len(f)) for f in frames))
    sync_nums = [i + 1 for i in range(n) if i % sync_every == 0]
    stss = _full(b"stss", 0, struct.pack(">I", len(sync_nums))
                 + b"".join(struct.pack(">I", s) for s in sync_nums))

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")

    # chunk layout inside mdat; stco needs absolute offsets, so compute
    # the moov size with a placeholder stco first (fixed width: n_chunks).
    def moov_bytes(chunk_offsets):
        stco = _full(b"stco", 0, struct.pack(">I", len(chunk_offsets))
                     + b"".join(struct.pack(">I", o) for o in chunk_offsets))
        stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco + stss)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        trak = _box(b"trak", tkhd + mdia)
        return _box(b"moov", mvhd + trak)

    placeholder = moov_bytes([0] * n_chunks)
    mdat_body_start = len(ftyp) + len(placeholder) + 8
    chunk_offsets, pos = [], mdat_body_start
    for ci in range(n_chunks):
        chunk_offsets.append(pos)
        for f in frames[ci * spc: (ci + 1) * spc]:
            pos += len(f)
    moov = moov_bytes(chunk_offsets)
    assert len(moov) == len(placeholder)
    mdat = _box(b"mdat", b"".join(frames))
    return ftyp + moov + mdat


def _make_mp3(n_frames: int, bitrate_kbps: int = 128, sample_rate: int = 44100,
              with_id3: bool = True) -> bytes:
    """MPEG1 Layer III frames with deterministic filler payloads."""
    out = bytearray()
    if with_id3:
        tag_body = b"junkdata" * 4
        sz = len(tag_body)
        out += b"ID3\x04\x00\x00" + bytes(
            [(sz >> 21) & 0x7F, (sz >> 14) & 0x7F, (sz >> 7) & 0x7F, sz & 0x7F]
        ) + tag_body
    # MPEG1 Layer III bitrate-index table (ISO 11172-3, Table B.2)
    br_idx = {32: 1, 40: 2, 48: 3, 56: 4, 64: 5, 80: 6, 96: 7, 112: 8,
              128: 9, 160: 10, 192: 11, 224: 12, 256: 13, 320: 14}[bitrate_kbps]
    sr_idx = {44100: 0, 48000: 1, 32000: 2}[sample_rate]
    offsets = []
    for i in range(n_frames):
        padding = i % 2  # alternate padding to exercise the size formula
        size = 144 * bitrate_kbps * 1000 // sample_rate + padding
        hdr = bytes([
            0xFF,
            0xE0 | (3 << 3) | (1 << 1) | 1,  # MPEG1, Layer III, no CRC
            (br_idx << 4) | (sr_idx << 2) | (padding << 1),
            0xC4,
        ])
        offsets.append(len(out))
        out += hdr + bytes((i + j) % 251 for j in range(size - 4))
    return bytes(out), offsets


# ---------------------------------------------------------------------------
# MP4 tests
# ---------------------------------------------------------------------------


def _frames(n):
    return [bytes([i % 250] * (100 + 7 * i)) for i in range(n)]


def test_mp4_sample_index_roundtrip():
    frames = _frames(11)  # odd count -> trailing short chunk
    payload = _make_mp4(frames, fps=10, sync_every=5)
    info = parse_mp4(payload)
    assert info.brand == "isom"
    assert info.duration_ms == 1100
    track = info.video_track()
    assert track is not None
    assert track.codec == "avc1"
    assert (track.width, track.height) == (64, 48)
    assert track.n_samples == 11
    assert track.sizes.tolist() == [len(f) for f in frames]


def test_mp4_rejects_garbage():
    with pytest.raises(ValueError):
        parse_mp4(b"\x00\x00\x00\x08abcd")


# ---------------------------------------------------------------------------
# MP3 tests
# ---------------------------------------------------------------------------


def test_mp3_frame_index():
    payload, offsets = _make_mp3(7, bitrate_kbps=128, sample_rate=44100)
    idx = parse_mp3(payload)
    assert len(idx["frames"]) == 7
    assert [f.offset for f in idx["frames"]] == offsets
    # MPEG1 L3: 1152 samples per frame
    expect_ms = round(7 * 1152 * 1000 / 44100)
    assert idx["duration_ms"] == expect_ms
    assert idx["sample_rate"] == 44100
    # alternate padding -> alternating sizes 417/418
    sizes = {f.size for f in idx["frames"]}
    assert sizes == {417, 418}


def test_mp3_resync_over_garbage():
    payload, _ = _make_mp3(3, with_id3=False)
    dirty = b"\xffgarbage\x00" + payload
    idx = parse_mp3(dirty)
    assert len(idx["frames"]) == 3


# ---------------------------------------------------------------------------
# probe tests
# ---------------------------------------------------------------------------


def test_probe_mp4_mp3():
    frames = _frames(9)
    p = probe_container(_make_mp4(frames, fps=10, sync_every=3))
    assert (p["container"], p["codec"]) == ("mp4", "avc1")
    assert (p["width"], p["height"], p["n_frames"]) == (64, 48, 9)
    assert p["duration_ms"] == 900

    mp3, _ = _make_mp3(5)
    p = probe_container(mp3)
    assert (p["container"], p["n_frames"], p["sample_rate"]) == ("mp3", 5, 44100)


def test_probe_png_wav_jpeg():
    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + struct.pack(">IIBBBBB", 320, 200, 8, 2, 0, 0, 0) + b"\x00" * 4)
    p = probe_container(png)
    assert (p["container"], p["width"], p["height"]) == ("png", 320, 200)

    wav = (b"RIFF" + struct.pack("<I", 36 + 800) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16)
           + b"data" + struct.pack("<I", 800) + b"\x00" * 800)
    p = probe_container(wav)
    assert (p["container"], p["sample_rate"]) == ("wav", 8000)
    assert p["n_frames"] == 200  # 800 bytes / (2ch * 2B)
    assert p["duration_ms"] == 25

    jpeg = (b"\xff\xd8" + b"\xff\xc0" + struct.pack(">H", 11)
            + b"\x08" + struct.pack(">HH", 100, 150) + b"\x01\x11\x00")
    p = probe_container(jpeg)
    assert (p["container"], p["width"], p["height"]) == ("jpeg", 150, 100)

    with pytest.raises(ValueError):
        probe_container(b"plain text, no container")


# ---------------------------------------------------------------------------
# Spark operators over the container parsers
# ---------------------------------------------------------------------------


def _media_rows():
    mp4 = _make_mp4(_frames(10), fps=10, sync_every=5)
    mp3, _ = _make_mp3(4)
    return [
        (1, "video", bytearray(mp4), None, None, 1000),
        (2, "audio", bytearray(mp3), None, None, None),
        (3, "image", bytearray(b"not a container"), None, None, None),
    ]


def test_probe_media_spark(spark):
    from llm_text_to_knowledge_graph_spark.operators.multimodal import (
        MEDIA,
        probe_media,
    )

    df = spark.createDataFrame(_media_rows(), schema=MEDIA)
    got = {r["media_id"]: r.asDict() for r in probe_media(df).collect()}
    assert got[1]["container"] == "mp4"
    assert got[1]["codec"] == "avc1"
    assert got[1]["n_frames"] == 10
    assert got[2]["container"] == "mp3"
    assert got[2]["sample_rate"] == 44100
    assert got[3]["container"] is None  # unrecognized -> NULL, not a crash
