"""Vendored baseline-JPEG codec: round-trip tolerance property, marker
stream validity, and fail-fast error paths."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from training_data_ops.functions.jpeg_codec import (
    JPEG_MAX_ERR,
    JPEG_MAX_ERR_COLOR,
    JpegError,
    decode_jpeg,
    decode_jpeg_gray,
    encode_jpeg_gray,
    encode_jpeg_rgb,
)


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
)
def test_roundtrip_within_documented_tolerance(w, h, seed):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w), dtype=np.uint8)
    dw, dh, pix = decode_jpeg_gray(encode_jpeg_gray(w, h, img.tobytes()))
    assert (dw, dh) == (w, h)
    dec = np.frombuffer(pix, np.uint8).reshape(h, w)
    err = np.abs(dec.astype(int) - img.astype(int)).max()
    assert err <= JPEG_MAX_ERR, err


def test_flat_and_gradient_images_roundtrip_exactly():
    flat = np.full((16, 16), 200, np.uint8)
    _, _, pix = decode_jpeg_gray(encode_jpeg_gray(16, 16, flat.tobytes()))
    assert pix == flat.tobytes()
    grad = ((np.arange(24)[:, None] * 5 + np.arange(16)[None, :] * 3) % 256).astype(
        np.uint8
    )
    dw, dh, pix = decode_jpeg_gray(encode_jpeg_gray(16, 24, grad.tobytes()))
    assert (dw, dh) == (16, 24)
    dec = np.frombuffer(pix, np.uint8).reshape(24, 16)
    assert np.abs(dec.astype(int) - grad.astype(int)).max() <= JPEG_MAX_ERR


def test_pixel_order_is_pinned_not_just_histogram():
    """An asymmetric image must come back in scan order: comparing against
    its transpose-flattened twin must show large error while the true
    round-trip stays within tolerance — a decoder that mixed up block or
    raster order could never pass."""
    img = ((np.arange(16)[None, :] * 16) * np.ones((16, 1))).astype(np.uint8)
    _, _, pix = decode_jpeg_gray(encode_jpeg_gray(16, 16, img.tobytes()))
    dec = np.frombuffer(pix, np.uint8).reshape(16, 16)
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= JPEG_MAX_ERR
    transposed_err = np.abs(dec.astype(int) - img.T.astype(int)).max()
    assert transposed_err > 100


def test_marker_stream_is_spec_shaped():
    """SOI, JFIF APP0, DQT, SOF0, two DHTs, SOS, EOI — in order, with
    self-consistent segment lengths (what any third-party decoder parses)."""
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    data = encode_jpeg_gray(8, 8, img.tobytes())
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    pos, seen = 2, []
    while pos < len(data) - 2:
        assert data[pos] == 0xFF
        marker = data[pos + 1]
        seen.append(marker)
        (length,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        if marker == 0xDA:
            break
        pos += 2 + length
    assert seen[0] == 0xE0 and data[6:11] == b"JFIF\x00"
    assert seen.count(0xC4) == 2 and 0xDB in seen and 0xC0 in seen
    assert seen[-1] == 0xDA


def test_malformed_payloads_fail_fast():
    img = np.zeros((8, 8), np.uint8)
    good = encode_jpeg_gray(8, 8, img.tobytes())
    cases = {
        "not jpeg": b"\x89PNG\r\n",
        "truncated header": good[:8],
        "truncated scan": good[: len(good) // 2],
        "missing EOI": good[:-2],
        "garbage marker": good[:2] + b"\x00\x01" + good[2:],
    }
    for name, payload in cases.items():
        with pytest.raises(JpegError):
            decode_jpeg_gray(payload)
    with pytest.raises(JpegError):
        encode_jpeg_gray(4, 4, b"\x00" * 7)  # buffer/dims mismatch
    with pytest.raises(JpegError):
        encode_jpeg_gray(0, 4, b"")


def test_progressive_and_multicomponent_rejected():
    img = np.zeros((8, 8), np.uint8)
    good = bytearray(encode_jpeg_gray(8, 8, img.tobytes()))
    # flip SOF0 -> SOF2 (progressive): find the C0 marker and rewrite it
    idx = bytes(good).find(b"\xff\xc0")
    assert idx > 0
    bad = bytes(good[:idx]) + b"\xff\xc2" + bytes(good[idx + 2 :])
    with pytest.raises(JpegError):
        decode_jpeg_gray(bad)


def test_chroma_subsampled_luma_rejected():
    """Spec-valid but unsupported: (2,2) factors on a CHROMA component
    (luma (1,1)).  A sorted sampling check would accept this and silently
    upsample the wrong planes — must fail fast to the pillow fallback."""
    img = np.full((16, 16, 3), 128, np.uint8)
    good = bytearray(encode_jpeg_rgb(16, 16, img.tobytes(), subsample=True))
    idx = bytes(good).find(b"\xff\xc0")
    assert idx > 0
    # SOF0 layout: marker(2) len(2) prec(1) h(2) w(2) ncomp(1), then
    # per-component (cid, hv, tq); hv bytes sit at idx+11, +14, +17
    assert good[idx + 11] == 0x22 and good[idx + 17] == 0x11
    good[idx + 11], good[idx + 17] = good[idx + 17], good[idx + 11]
    with pytest.raises(JpegError, match="sampling"):
        decode_jpeg(bytes(good))


@settings(max_examples=15, deadline=None)
@given(
    w=st.integers(1, 33),
    h=st.integers(1, 33),
    seed=st.integers(0, 2**31 - 1),
)
def test_color_444_roundtrip_within_documented_tolerance(w, h, seed):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    dw, dh, mode, pix = decode_jpeg(encode_jpeg_rgb(w, h, img.tobytes()))
    assert (dw, dh, mode) == (w, h, "RGB")
    dec = np.frombuffer(pix, np.uint8).reshape(h, w, 3)
    err = np.abs(dec.astype(int) - img.astype(int)).max()
    assert err <= JPEG_MAX_ERR_COLOR, err


@settings(max_examples=15, deadline=None)
@given(
    w=st.integers(1, 33),
    h=st.integers(1, 33),
    seed=st.integers(0, 2**31 - 1),
)
def test_color_420_constant_chroma_roundtrip(w, h, seed):
    """With constant chroma, the 2x2-mean subsample + NN upsample is
    lossless by construction, so even 4:2:0 has a provable bound."""
    rng = np.random.default_rng(seed)
    gray = rng.integers(32, 224, (h, w), dtype=np.int64)
    rofs, bofs = int(rng.integers(-32, 33)), int(rng.integers(-32, 33))
    img = np.stack([gray + rofs, gray, gray + bofs], axis=2).astype(np.uint8)
    dw, dh, mode, pix = decode_jpeg(
        encode_jpeg_rgb(w, h, img.tobytes(), subsample=True)
    )
    assert (dw, dh, mode) == (w, h, "RGB")
    dec = np.frombuffer(pix, np.uint8).reshape(h, w, 3)
    err = np.abs(dec.astype(int) - img.astype(int)).max()
    assert err <= JPEG_MAX_ERR_COLOR, err


def test_color_channel_order_is_pinned():
    """A pure-red image must come back red, not blue — catches a swapped
    Cb/Cr plane or a BGR/RGB mixup that symmetric patterns would hide."""
    img = np.zeros((16, 16, 3), np.uint8)
    img[:, :, 0] = 200  # red
    _, _, _, pix = decode_jpeg(encode_jpeg_rgb(16, 16, img.tobytes()))
    dec = np.frombuffer(pix, np.uint8).reshape(16, 16, 3)
    assert dec[:, :, 0].mean() > 150 and dec[:, :, 2].mean() < 50


def test_color_420_mcu_order_is_pinned():
    """An image with distinct luma per 8x8 quadrant of the 16x16 MCU must
    reconstruct each quadrant in place — catches a wrong Y-block raster
    order inside the MCU (T.81 A.2.3)."""
    img = np.zeros((16, 16, 3), np.uint8)
    for qi, (qy, qx) in enumerate([(0, 0), (0, 8), (8, 0), (8, 8)]):
        img[qy : qy + 8, qx : qx + 8, :] = 40 + 50 * qi
    _, _, _, pix = decode_jpeg(
        encode_jpeg_rgb(16, 16, img.tobytes(), subsample=True)
    )
    dec = np.frombuffer(pix, np.uint8).reshape(16, 16, 3)
    err = np.abs(dec.astype(int) - img.astype(int)).max()
    assert err <= JPEG_MAX_ERR_COLOR, err


def test_general_decoder_handles_grayscale():
    img = np.arange(64, dtype=np.uint8).reshape(8, 8) * 3
    w, h, mode, pix = decode_jpeg(encode_jpeg_gray(8, 8, img.tobytes()))
    assert (w, h, mode) == (8, 8, "L")
    dec = np.frombuffer(pix, np.uint8).reshape(8, 8)
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= JPEG_MAX_ERR


def test_grayscale_decoder_rejects_color():
    img = np.zeros((8, 8, 3), np.uint8)
    with pytest.raises(JpegError):
        decode_jpeg_gray(encode_jpeg_rgb(8, 8, img.tobytes()))


def test_unsupported_sampling_rejected():
    """Rewrite the SOF sampling bytes of a 4:2:0 stream to 4:2:2 — the
    decoder must fail fast rather than misinterpret the MCU layout."""
    img = np.full((16, 16, 3), 128, np.uint8)
    good = bytearray(encode_jpeg_rgb(16, 16, img.tobytes(), subsample=True))
    idx = bytes(good).find(b"\xff\xc0")
    assert idx > 0
    # SOF0 payload: len(2) precision(1) h(2) w(2) ncomp(1), then per-comp
    # (id, hv, tq); first component's hv byte is at idx+2+2+6+1
    hv_pos = idx + 11
    assert good[hv_pos] == 0x22
    good[hv_pos] = 0x21  # 4:2:2
    with pytest.raises(JpegError):
        decode_jpeg(bytes(good))


def test_color_pipeline_contract_holds_in_spark(spark):
    from training_data_ops.registry import all_queries

    rows = (
        all_queries()["multimodal_jpeg_color_pipeline"]
        .spark(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert len(rows) == 500
    assert all(
        r.roundtrip_444_ok and r.mean_err_444_ok and r.roundtrip_420_ok
        for r in rows
    )


def test_jpeg_pipeline_contract_holds_in_spark(spark):
    from training_data_ops.registry import all_queries

    rows = (
        all_queries()["multimodal_jpeg_pipeline"]
        .spark(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert len(rows) == 500
    assert all(r.roundtrip_ok and r.mean_err_ok for r in rows)
    assert all(r.n_pixels == r.width * r.height for r in rows)


def test_decode_image_uses_vendored_jpeg_codec():
    from training_data_ops.operators.multimodal import (
        PngImage,
        decode_image,
    )

    img = ((np.arange(16)[None, :] * 3 + np.arange(16)[:, None] * 5) % 256).astype(
        np.uint8
    )
    payload = encode_jpeg_gray(16, 16, img.tobytes())
    out = decode_image(payload)
    assert isinstance(out, PngImage)
    assert (out.width, out.height, out.mode) == (16, 16, "L")
    dec = np.frombuffer(bytes(out.pixels), np.uint8).reshape(16, 16)
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= JPEG_MAX_ERR


def test_dqt_bytes_are_dezigzagged():
    """T.81 B.2.4.1: DQT elements ride in zigzag order.  Craft an image
    whose DCT energy sits at natural position (2,0) — zigzag index 3, which
    a natural-order reader would misfile at (0,3) — then patch that DQT
    byte to 2: the correctly-dezigzagged decoder must scale the actual
    coefficient (pixels ~double); a natural-order reader would scale a
    zero coefficient and return the unscaled image."""
    from training_data_ops.functions.jpeg_codec import (
        _COS,
        _ZIGZAG,
        decode_jpeg_gray,
    )

    coeffs = np.zeros((8, 8))
    coeffs[2, 0] = 40.0  # natural flat index 16
    block = _COS.T @ coeffs @ _COS  # spatial pattern, level-shifted domain
    img = np.clip(np.rint(block + 128.0), 0, 255).astype(np.uint8)
    # the coefficient the encoder actually quantizes (clip/rint noise)
    q20 = round(float((_COS @ (img.astype(float) - 128.0) @ _COS.T)[2, 0]))
    data = bytearray(encode_jpeg_gray(8, 8, img.tobytes()))
    idx = bytes(data).find(b"\xff\xdb")
    assert idx > 0
    # DQT payload: len(2) pq_tq(1) then 64 ZIGZAG-ordered bytes; (2,0)'s
    # zigzag position differs from its natural position, so a natural-order
    # reader scales the wrong (zero) coefficient
    zz = idx + 4 + 1 + _ZIGZAG.index(16)
    assert _ZIGZAG.index(16) != 16 and data[zz] == 1
    data[zz] = 2
    _, _, pix = decode_jpeg_gray(bytes(data))
    dec = np.frombuffer(pix, np.uint8).reshape(8, 8).astype(float) - 128.0
    # projection of the decoded block onto the (2,0) basis function must be
    # ~2x the quantized coefficient (scaled by Q=2); a natural-order reader
    # leaves it at ~1x
    proj = (_COS @ dec @ _COS.T)[2, 0]
    assert abs(proj - 2 * q20) < 3.0, (proj, q20)


def test_fill_bytes_and_standalone_markers_tolerated():
    """T.81 B.1.1.2 allows 0xFF fill bytes before any marker, and TEM
    (0xFF01) is a standalone zero-payload marker — both must parse."""
    img = np.arange(64, dtype=np.uint8).reshape(8, 8) * 3
    good = encode_jpeg_gray(8, 8, img.tobytes())
    idx = good.find(b"\xff\xdb")
    padded = good[:idx] + b"\xff\xff\xff" + b"\xff\x01" + good[idx:]
    w, h, pix = decode_jpeg_gray(padded)
    assert (w, h) == (8, 8)
    dec = np.frombuffer(pix, np.uint8).reshape(8, 8)
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= JPEG_MAX_ERR
