"""Vendored stdlib-only GIF codec: LZW round-trips (incl. dictionary
growth through every code width and the 4096-entry reset), interlace row
ordering, palette handling, and the fail-fast malformed-payload contract.
"""

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from training_data_ops.functions.gif_codec import (
    GifError,
    decode_gif,
    encode_gif,
)


def _pattern_pixels(w: int, h: int, colors: int, seed: int) -> bytes:
    out = bytearray()
    for y in range(h):
        for x in range(w):
            idx = (x * 3 + y * 5 + seed) % colors
            out += bytes(
                ((idx * 5 + seed) % 256, (idx * 11 + seed) % 256, (idx * 29) % 256)
            )
    return bytes(out)


@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    colors=st.sampled_from([1, 2, 3, 4, 17, 64, 200]),
    seed=st.integers(0, 1000),
    interlace=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_roundtrip_property(w, h, colors, seed, interlace):
    pix = _pattern_pixels(w, h, colors, seed)
    data = encode_gif(w, h, pix, interlace=interlace)
    dw, dh, mode, out = decode_gif(data)
    assert (dw, dh, mode) == (w, h, "RGB")
    assert bytes(out) == pix


def test_roundtrip_forces_dict_growth_and_reset():
    """A large noisy image pushes the LZW dictionary through several code
    widths and past 4096 entries, forcing the encoder's clear-code reset
    and the decoder's matching re-init."""
    import random

    rnd = random.Random(7)
    w, h, colors = 120, 120, 250
    palette = [
        bytes((c % 256, (c * 7 + 1) % 256, (c * 13 + 5) % 256))
        for c in range(colors)
    ]
    pix = b"".join(palette[rnd.randrange(colors)] for _ in range(w * h))
    data = encode_gif(w, h, pix)
    dw, dh, mode, out = decode_gif(data)
    assert (dw, dh) == (w, h) and bytes(out) == pix


def test_interlaced_bytes_differ_but_decode_identically():
    pix = _pattern_pixels(10, 9, 8, 3)
    plain = encode_gif(10, 9, pix, interlace=False)
    inter = encode_gif(10, 9, pix, interlace=True)
    assert plain != inter
    assert bytes(decode_gif(plain)[3]) == bytes(decode_gif(inter)[3]) == pix
    # the interlace flag is really set in the image descriptor
    assert inter[plain.index(b"\x2c") + 9] & 0x40


def test_gif87a_and_extensions_and_local_palette():
    """Hand-build an 87a GIF with a comment extension and a LOCAL color
    table (no global): the decoder must skip the extension sub-blocks and
    use the local palette."""
    base = encode_gif(2, 2, _pattern_pixels(2, 2, 2, 0))
    # strip global palette (2 colors -> bits=2 -> 4 entries -> 12 bytes)
    hdr = bytearray(base[:13])
    hdr[0:6] = b"GIF87a"
    gct_bits = (base[10] & 0x07) + 1
    gct_len = 3 * (1 << gct_bits)
    palette = base[13 : 13 + gct_len]
    rest = base[13 + gct_len :]
    hdr[10] &= 0x0F  # clear GCT flag
    ext = b"\x21\xfe\x05hello\x00"  # comment extension, 1 sub-block
    # move palette into the image descriptor as a local table
    assert rest[0] == 0x2C
    desc = bytearray(rest[:10])
    desc[9] |= 0x80 | (gct_bits - 1)
    rebuilt = bytes(hdr) + ext + bytes(desc) + palette + rest[10:]
    dw, dh, mode, out = decode_gif(rebuilt)
    assert (dw, dh) == (2, 2)
    assert bytes(out) == _pattern_pixels(2, 2, 2, 0)


def test_malformed_payloads_fail_fast():
    pix = _pattern_pixels(4, 4, 4, 1)
    data = encode_gif(4, 4, pix)
    with pytest.raises(GifError, match="signature"):
        decode_gif(b"NOPE" + data[4:])
    with pytest.raises(GifError, match="short"):
        decode_gif(data[:10])
    with pytest.raises(GifError, match="truncated"):
        decode_gif(data[:20])
    with pytest.raises(GifError, match="truncated|LZW"):
        decode_gif(data[:-6])
    # corrupt one LZW byte: wrong pixel count or invalid code, never garbage
    lzw_at = len(data) - 6
    corrupted = bytearray(data)
    corrupted[lzw_at] ^= 0xFF
    with pytest.raises(GifError):
        decode_gif(bytes(corrupted))
    # no frame before trailer
    with pytest.raises(GifError, match="trailer"):
        decode_gif(data[:13] + data[13 : 13 + 12] + b"\x3b")
    # partial first frame (descriptor smaller than the screen)
    part = bytearray(data)
    at = part.index(b"\x2c")
    struct.pack_into("<HH", part, at + 5, 2, 2)
    with pytest.raises(GifError, match="cover the logical screen"):
        decode_gif(bytes(part))


def test_encoder_rejects_bad_input():
    with pytest.raises(GifError, match="pixel buffer"):
        encode_gif(2, 2, b"\x00" * 5)
    with pytest.raises(GifError, match="mode"):
        encode_gif(1, 1, b"\x00", mode="L")
    many = b"".join(
        bytes((i % 256, i // 256, 0)) for i in range(400)
    )
    with pytest.raises(GifError, match="palette"):
        encode_gif(20, 20, many)


def test_decode_image_prefers_vendored_codec_for_gif():
    from training_data_ops.operators.multimodal import (
        PngImage,
        decode_image,
    )

    pix = _pattern_pixels(3, 2, 4, 9)
    img = decode_image(encode_gif(3, 2, pix))
    assert isinstance(img, PngImage)
    assert (img.width, img.height, img.mode) == (3, 2, "RGB")
    assert bytes(img.pixels) == pix


def test_existing_handbuilt_1x1_fixture_decodes():
    """The spec-valid 1x1 GIF fixture from the sniff matrix (FIXTURES.md)
    must decode to its single palette color."""
    from tests.test_multimodal import _real_gif_1x1

    dw, dh, mode, out = decode_gif(_real_gif_1x1())
    assert (dw, dh, mode) == (1, 1, "RGB")
    assert len(out) == 3
