"""Vendored MJPEG-AVI container codec: spec-shape, round-trip, fail-fast."""

import struct

import numpy as np
import pytest

from training_data_ops.functions.avi_codec import (
    AviError,
    decode_avi_mjpeg,
    encode_avi_mjpeg,
)
from training_data_ops.functions.jpeg_codec import (
    encode_jpeg_gray,
)


def _frames(w, h, n):
    xs, ys = np.arange(w)[None, :], np.arange(h)[:, None]
    return [
        encode_jpeg_gray(w, h, ((xs * 3 + ys * 5 + f * 13) % 256)
                         .astype(np.uint8).tobytes())
        for f in range(n)
    ]


def test_roundtrip_preserves_frames_bytes_exactly():
    frames = _frames(20, 14, 5)
    w, h, fps, back = decode_avi_mjpeg(encode_avi_mjpeg(20, 14, 12, frames))
    assert (w, h, fps) == (20, 14, 12)
    assert back == frames  # mux/demux is byte-lossless per frame


def test_container_shape_riff_fourccs_and_alignment():
    frames = _frames(17, 11, 3)
    avi = encode_avi_mjpeg(17, 11, 25, frames)
    assert avi[:4] == b"RIFF" and avi[8:12] == b"AVI "
    (riff_size,) = struct.unpack_from("<I", avi, 4)
    assert 8 + riff_size == len(avi)  # size field exact
    assert len(avi) % 2 == 0  # WORD alignment throughout
    for fourcc in (b"hdrl", b"avih", b"strl", b"strh", b"strf", b"movi",
                   b"00dc", b"idx1", b"MJPG", b"vids"):
        assert fourcc in avi, fourcc
    # idx1 has one 16-byte keyframe entry per frame
    i = avi.rindex(b"idx1")
    (isz,) = struct.unpack_from("<I", avi, i + 4)
    assert isz == 16 * len(frames)


def test_odd_sized_frame_gets_pad_byte_and_survives():
    # force an odd JPEG size by appending a comment-free odd payload:
    # encode, then check whichever parity we got round-trips with a sibling
    frames = _frames(16, 16, 1)
    f0 = frames[0]
    odd = f0 + b"\x00" if len(f0) % 2 == 0 else f0  # odd-length blob
    avi = encode_avi_mjpeg(16, 16, 10, [odd, f0])
    _, _, _, back = decode_avi_mjpeg(avi)
    assert back == [odd, f0]


@pytest.mark.parametrize(
    "mutate, msg",
    [
        (lambda a: a[:20], "truncated"),
        (lambda a: b"RIFX" + a[4:], "not a RIFF"),
        (lambda a: a[:8] + b"WAVE" + a[12:], "not a RIFF"),
        (lambda a: a[:-4], "truncated"),
    ],
)
def test_failfast_structural_violations(mutate, msg):
    avi = encode_avi_mjpeg(16, 16, 10, _frames(16, 16, 2))
    with pytest.raises(AviError, match=msg):
        decode_avi_mjpeg(mutate(avi))


def test_failfast_wrong_codec_and_bad_rate():
    avi = bytearray(encode_avi_mjpeg(16, 16, 10, _frames(16, 16, 2)))
    i = avi.index(b"MJPG", avi.index(b"strh"))  # handler inside strh
    avi[i : i + 4] = b"H264"
    with pytest.raises(AviError, match="unsupported codec"):
        decode_avi_mjpeg(bytes(avi))
    with pytest.raises(AviError, match="fps must be positive"):
        encode_avi_mjpeg(16, 16, 0, _frames(16, 16, 1))
    with pytest.raises(AviError, match="at least one frame"):
        encode_avi_mjpeg(16, 16, 10, [])


def test_failfast_index_vs_frames_disagreement():
    avi = bytearray(encode_avi_mjpeg(16, 16, 10, _frames(16, 16, 3)))
    # shrink idx1 by one 16-byte entry (and fix its size field)
    i = avi.rindex(b"idx1")
    (isz,) = struct.unpack_from("<I", avi, i + 4)
    struct.pack_into("<I", avi, i + 4, isz - 16)
    truncated = bytes(avi[: i + 8 + isz - 16])
    # fix outer RIFF size
    out = bytearray(truncated)
    struct.pack_into("<I", out, 4, len(out) - 8)
    with pytest.raises(AviError, match="idx1 disagrees"):
        decode_avi_mjpeg(bytes(out))


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(8, 40),
    h=st.integers(8, 40),
    fps=st.integers(1, 120),
    n=st.integers(1, 8),
    seed=st.integers(0, 2**31 - 1),
)
def test_roundtrip_property_arbitrary_frames(w, h, fps, n, seed):
    """Any frame multiset of any (even/odd) byte sizes muxes and demuxes
    byte-losslessly with dims/fps/count preserved — including the RIFF
    pad-byte path, which random JPEG sizes exercise both ways."""
    rng = np.random.default_rng(seed)
    frames = [
        encode_jpeg_gray(
            w, h, rng.integers(0, 256, size=w * h, dtype=np.uint8).tobytes()
        )
        for _ in range(n)
    ]
    dw, dh, dfps, back = decode_avi_mjpeg(encode_avi_mjpeg(w, h, fps, frames))
    assert (dw, dh, dfps) == (w, h, fps)
    assert back == frames


def test_failfast_corrupted_index_offsets():
    """idx1 entries with the right COUNT but wrong offsets/sizes must raise
    — the full header/index-disagreement contract, not count-only."""
    avi = bytearray(encode_avi_mjpeg(16, 16, 10, _frames(16, 16, 2)))
    i = avi.rindex(b"idx1")
    # zero the first entry's dwChunkOffset
    struct.pack_into("<I", avi, i + 8 + 8, 0xDEAD)
    with pytest.raises(AviError, match="idx1 disagrees"):
        decode_avi_mjpeg(bytes(avi))
    avi2 = bytearray(encode_avi_mjpeg(16, 16, 10, _frames(16, 16, 2)))
    j = avi2.rindex(b"idx1")
    struct.pack_into("<I", avi2, j + 8 + 12, 1)  # corrupt dwChunkLength
    with pytest.raises(AviError, match="idx1 disagrees"):
        decode_avi_mjpeg(bytes(avi2))
