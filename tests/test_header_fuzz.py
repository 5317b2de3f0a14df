"""Header-parser corruption fuzz across the full 12-format surface.

A 100 TB corpus WILL contain truncated, bit-flipped, and adversarially
shaped payloads, and the header monitors (`parse_image_header` /
`parse_av_header`) run inside mapInPandas stages where an escaped
exception fails the task and a non-terminating walk hangs the executor
for the duration of the task timeout.  The gate here: every corruption
either parses (dict) or refuses (None) — no exception class escapes,
and every internal walk (PNG chunk scan, JPEG segment loop, RIFF chunk
walk, TIFF IFD walk, ISO-BMFF box walk) terminates even when the
corrupted length fields are adversarial (0, 1, max-u32/u64).

Decode-level twins: test_jpeg_codec.py / test_media_codecs.py carry the
JPEG and GIF bitflip gates; this file adds the PNG / BMP / WAV decoder
gates so every pure-python decoder in the package is fuzz-covered.
"""

from __future__ import annotations

import random
import struct

import numpy as np
import pytest

from creek_spark.operators.media_codecs import (
    bmp_from_array,
    decode_bmp_pixels,
    decode_wav_samples,
    wav_from_array,
)
from creek_spark.operators.multimodal import (
    avif_bytes,
    bmp_bytes,
    decode_image_pixels,
    decode_png_pixels,
    flac_bytes,
    gif_bytes,
    mp3_bytes,
    mp4_bytes,
    parse_av_header,
    parse_image_header,
    png_bytes,
    png_bytes_gradient,
    png_bytes_indexed,
    tiff_bytes,
    wav_bytes,
    webp_bytes,
)
from creek_spark.operators.jpeg_codec import jpeg_from_array


def _zoo() -> list[tuple[str, bytes]]:
    """One spec-valid payload per format/layout the parsers cover."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
    return [
        ("png_rgb", png_bytes(24, 16, color_type=2)),
        (
            "png_pal",
            png_bytes_indexed(
                rng.integers(0, 4, (8, 8)),
                rng.integers(0, 256, (4, 3)),
            ),
        ),
        ("jpeg", jpeg_from_array(img)),
        ("jpeg_prog", jpeg_from_array(img, progressive=True)),
        ("jpeg_rst", jpeg_from_array(img, restart_interval=2)),
        ("gif", gif_bytes(24, 16)),
        ("bmp", bmp_bytes(24, 16)),
        ("webp_vp8", webp_bytes(24, 16, layout="vp8")),
        ("webp_vp8l", webp_bytes(24, 16, layout="vp8l", alpha=True)),
        ("webp_vp8x", webp_bytes(24, 16, layout="vp8x")),
        ("tiff_le", tiff_bytes(24, 16)),
        ("tiff_be", tiff_bytes(24, 16, big_endian=True, bits_behind_offset=True)),
        ("avif", avif_bytes(24, 16, thumb=(6, 4))),
        ("heic", avif_bytes(24, 16, brand="mif1", bit_depth=10)),
        ("wav", wav_bytes(seconds=0.01)),
        ("mp4", mp4_bytes()),
        ("flac", flac_bytes()),
        ("mp3", mp3_bytes(duration_ms=100)),
        ("mp3_id3", mp3_bytes(duration_ms=100, id3=True)),
    ]


def _parse_both(payload: bytes) -> None:
    """Both parsers must return dict-or-None, never raise."""
    for parser in (parse_image_header, parse_av_header):
        out = parser(payload)
        assert out is None or isinstance(out, dict)


def test_header_parsers_never_raise_on_truncation():
    for name, base in _zoo():
        # every prefix up to 96 bytes (the region all header logic
        # lives in), then a stride through the tail
        cuts = list(range(min(96, len(base)) + 1))
        cuts += list(range(96, len(base), max(1, len(base) // 64)))
        for n in cuts:
            _parse_both(base[:n])


def test_header_parsers_never_raise_on_bitflips():
    rng = random.Random(12)
    for name, base in _zoo():
        for _ in range(400):
            m = bytearray(base)
            for _ in range(rng.randint(1, 3)):
                m[rng.randrange(len(m))] ^= 1 << rng.randrange(8)
            _parse_both(bytes(m))


def test_header_parsers_never_raise_on_adversarial_lengths():
    """Length/size fields forced to the adversarial extremes (0, 1,
    max) at every plausible offset — the box/chunk/IFD walks must
    terminate and refuse rather than loop or read out of range."""
    evil_u32 = (0, 1, 7, 8, 0x7FFFFFFF, 0xFFFFFFFF)
    for name, base in _zoo():
        for off in range(0, min(len(base) - 4, 64)):
            for v in evil_u32:
                m = bytearray(base)
                m[off : off + 4] = struct.pack(">I", v)
                _parse_both(bytes(m))
                m[off : off + 4] = struct.pack("<I", v)
                _parse_both(bytes(m))


def test_header_parsers_never_raise_on_magic_random_tail():
    """Each format's magic spliced onto random bytes drives the parser
    past its signature guard into the walk logic with garbage."""
    magics = [
        b"\x89PNG\r\n\x1a\n",
        b"\xff\xd8",
        b"GIF89a",
        b"BM",
        b"RIFF\x40\x00\x00\x00WEBP",
        b"RIFF\x40\x00\x00\x00WAVE",
        b"II*\x00",
        b"MM\x00*",
        struct.pack(">I", 16) + b"ftypavif" + bytes(4),
        struct.pack(">I", 16) + b"ftypmif1" + bytes(4),
        struct.pack(">I", 16) + b"ftypisom" + bytes(4),
        b"fLaC",
        b"ID3\x04\x00\x00",
        b"\xff\xfb",
    ]
    rng = random.Random(34)
    for magic in magics:
        for _ in range(150):
            tail = rng.randbytes(rng.randint(0, 120))
            _parse_both(magic + tail)


def test_header_parsers_never_raise_on_pure_noise():
    rng = random.Random(56)
    for _ in range(300):
        _parse_both(rng.randbytes(rng.randint(0, 200)))


# ---------------------------------------------------------------------
# Decoder-level gates for the three codecs without one (JPEG and GIF
# have theirs in test_jpeg_codec.py / test_media_codecs.py).
# ---------------------------------------------------------------------


def _flip_fuzz(decode, base: bytes, *, seed: int, rounds: int = 300):
    rng = np.random.default_rng(seed)
    for _ in range(rounds):
        m = bytearray(base)
        for _ in range(rng.integers(1, 4)):
            m[rng.integers(0, len(m))] ^= 1 << rng.integers(0, 8)
        try:
            decode(bytes(m))
        except (ValueError, NotImplementedError):
            pass


def test_png_bitflip_fuzz_never_escapes():
    _flip_fuzz(decode_png_pixels, png_bytes_gradient(20, 14, seed=1), seed=21)


def _png(ihdr: bytes, idat: bytes) -> bytes:
    import zlib

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("interlace", [0, 1])
def test_png_huge_ihdr_refused_before_allocating(monkeypatch, interlace):
    """An IHDR claiming 2^31 rows over a 20-byte IDAT must raise
    ValueError without sizing any array from the claimed dimensions —
    host-independent: numpy allocations are capped here, so the check
    does not rest on how the host's overcommit treats a lazy calloc."""
    import zlib

    cap = 1 << 24
    for name in ("zeros", "empty", "full"):
        orig = getattr(np, name)

        def guarded(shape, *a, _orig=orig, **kw):
            n = int(np.prod(shape, dtype=object)) if np.ndim(shape) else int(shape)
            assert n < cap, f"allocation of {n} elements from untrusted IHDR"
            return _orig(shape, *a, **kw)

        monkeypatch.setattr(np, name, guarded)
    idat = zlib.compress(b"\x00" * 61)
    assert len(idat) <= 20
    ihdr = struct.pack(">IIBBBBB", 20, 1 << 31, 8, 2, 0, 0, interlace)
    with pytest.raises(ValueError):
        decode_png_pixels(_png(ihdr, idat))


def test_png_chunk_crc_verified():
    good = png_bytes_gradient(6, 4, seed=3)
    assert decode_png_pixels(good).shape == (4, 6, 3)
    bad = bytearray(good)
    bad[-5] ^= 0x01  # IEND's CRC
    with pytest.raises(ValueError, match="CRC mismatch"):
        decode_png_pixels(bytes(bad))


def test_bmp_bitflip_fuzz_never_escapes():
    rng = np.random.default_rng(3)
    base = bmp_from_array(rng.integers(0, 256, (14, 20, 3), dtype=np.uint8))
    _flip_fuzz(decode_bmp_pixels, base, seed=22)


def test_wav_bitflip_fuzz_never_escapes():
    samples = np.random.default_rng(4).integers(
        -32768, 32768, (500, 2), dtype=np.int16
    )
    _flip_fuzz(decode_wav_samples, wav_from_array(samples), seed=23)


def test_dispatch_decoder_refuses_noise_with_valueerror():
    """`decode_image_pixels` (the dispatching entry the mapInPandas
    stages call) must raise exactly ValueError/NotImplementedError on
    junk — any other class would escape the strict=False null path."""
    rng = random.Random(78)
    for _ in range(200):
        payload = rng.randbytes(rng.randint(0, 150))
        with pytest.raises((ValueError, NotImplementedError)):
            decode_image_pixels(payload)
