"""MP3 frame-walk metadata decode (functions/mp3.py): header field
extraction, padding cadence, tag skipping, resync, Xing/VBRI exact
frame counts, truncation — plus the engine wiring (_decode_payload /
decode_media) and the m_media_mp3 registry row vs its closed-form
oracle."""

from __future__ import annotations

import struct

import pytest

from sync_spark.functions.mp3 import (
    mp3_meta,
    mp3_payload,
    parse_frame_header,
)


def test_cbr_exact_duration_and_fields():
    for rate in (44100, 48000, 32000):
        for n in (1, 7, 38):
            m = mp3_meta(mp3_payload(5, n_frames=n, rate=rate))
            assert m["n_frames"] == n
            assert m["sample_rate"] == rate
            assert m["duration_ms"] == n * 1152 * 1000 // rate
            assert m["channels"] == 2 and not m["vbr"]
    assert mp3_meta(mp3_payload(0, n_frames=3, channels=1))["channels"] == 1


def test_padding_cadence_covers_stream_exactly():
    """At 44100/128k the exact frame size is 417.96 bytes: the padding
    bit must toggle so the byte schedule never drifts. Walk every
    header and require the chain to land exactly on EOF."""
    p = mp3_payload(9, n_frames=100)
    pos, sizes = 0, set()
    while pos < len(p):
        h = parse_frame_header(p, pos)
        assert h is not None, f"chain broke at {pos}"
        sizes.add(h["frame_bytes"])
        pos += h["frame_bytes"]
    assert pos == len(p)
    assert sizes == {417, 418}  # both unpadded and padded occur
    # total bytes within one frame of the real-valued schedule
    assert abs(len(p) - 100 * 144 * 128000 / 44100) < 418


def test_tag_skipping_and_resync():
    core = mp3_payload(3, n_frames=12)
    with_tags = mp3_payload(3, n_frames=12, id3v2=True) + b"TAG" + bytes(125)
    assert mp3_meta(with_tags) == mp3_meta(core)
    # junk prefix: resync finds the first true header (false-sync
    # candidates rejected by the chain check)
    assert mp3_meta(b"\x00\xff\xfbQQ" + core)["n_frames"] == 12


def test_truncated_trailing_frame_ignored():
    p = mp3_payload(4, n_frames=6)
    m = mp3_meta(p[:-1])
    assert m["n_frames"] == 5


def test_invalid_streams_raise():
    for bad in (b"", b"\x00" * 64, b"ID3\x04\x00\x00\x00\x00\x00\x05" + b"\x00" * 5):
        with pytest.raises(ValueError):
            mp3_meta(bad)
    # header-only (no complete frame body)
    with pytest.raises(ValueError):
        mp3_meta(mp3_payload(1, n_frames=1)[:10])


def _xing_stream(n_audio_frames: int, rate: int = 44100) -> bytes:
    """First frame carries a Xing header with an exact frame count;
    followed by fewer physical frames than the count claims (the VBR
    header is authoritative — real encoders write it before knowing
    how the file may later be cut)."""
    first = bytearray(mp3_payload(0, n_frames=1, rate=rate))
    # MPEG1 stereo side info = 32 bytes after the 4-byte header (no CRC)
    off = 4 + 32
    first[off : off + 4] = b"Xing"
    first[off + 4 : off + 8] = struct.pack(">I", 0x1)  # FRAMES flag
    first[off + 8 : off + 12] = struct.pack(">I", n_audio_frames)
    return bytes(first) + mp3_payload(1, n_frames=3, rate=rate)


def test_xing_frame_count_authoritative():
    m = mp3_meta(_xing_stream(250))
    assert m["vbr"] is True
    assert m["duration_ms"] == 250 * 1152 * 1000 // 44100
    assert m["n_frames"] == 3  # physical audio frames walked (Xing frame excluded)


def test_mixed_bitrate_flags_vbr():
    p = mp3_payload(2, n_frames=4, bitrate_kbps=128) + mp3_payload(
        2, n_frames=4, bitrate_kbps=192
    )
    m = mp3_meta(p)
    assert m["vbr"] is True and m["n_frames"] == 8


def test_decode_payload_wiring():
    from sync_spark.functions.multimodal import _decode_payload

    p = mp3_payload(11, n_frames=25, rate=32000, id3v2=True)
    assert _decode_payload(p) == (None, None, 25 * 1152 * 1000 // 32000)
    # corrupt MPEG stream → NULL row, not a dead batch
    assert _decode_payload(b"\xff\xfb" + bytes(64)) == (None, None, None)
    # container demux stays behind the boundary (H.264 metadata is
    # real as of r11 — see test_h264.py)
    with pytest.raises(NotImplementedError):
        _decode_payload(b"\x1a\x45\xdf\xa3" + bytes(32))


def test_m_media_mp3_vs_oracle(spark):
    from sync_spark.registry import all_queries
    from sync_spark.testing import run_compare

    spec = all_queries()["m_media_mp3"]
    assert run_compare(spark, spec, "/root/testdata/sf0.001") is None


def test_mp3_payload_max_bitrate_frames_full_length():
    from sync_spark.functions.mp3 import mp3_meta, mp3_payload

    # 320 kbps @ 32 kHz is the max representable V1 L3 frame (base
    # 1440); the old 1255-byte pattern silently truncated its body
    payload = mp3_payload(7, n_frames=5, rate=32000, bitrate_kbps=320)
    # the meta walk only counts a frame when every byte its header
    # claims is present — short-sliced bodies would break the chain
    meta = mp3_meta(payload)
    assert meta["n_frames"] == 5
    assert meta["bitrate"] == 320000
