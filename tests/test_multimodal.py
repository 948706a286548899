"""Multimodal kernel: real blockhash-256 + mapInPandas plumbing.

The hash kernel implements the published block-mean-value algorithm
(Yang/Gu/Niu) that the reference shells out to per row
(PictureHashAnalyser2.scala:48-125); tests pin it against a structural
test vector and an independent straight-loop port of the published
pseudocode.
"""

import numpy as np
from pyspark.sql import functions as F

from puma_matcher_spark.llmdata.multimodal import (
    BLOCKHASH_BITS,
    blockhash_256,
    extract_media_features,
    fake_decode_rgb,
)


def _blockhash_reference_loops(pixels: np.ndarray) -> str:
    """Direct, unvectorised port of the published even-block algorithm
    (independent of the numpy kernel under test)."""
    bits = BLOCKHASH_BITS
    height, width = pixels.shape[:2]
    bx, by = width // bits, height // bits
    blocks = []
    for y in range(bits):
        for x in range(bits):
            value = 0
            for iy in range(by):
                for ix in range(bx):
                    px = pixels[y * by + iy, x * bx + ix]
                    value += int(px[0]) + int(px[1]) + int(px[2])
            blocks.append(value)
    half_block_value = bx * by * 256 * 3 / 2
    bandsize = len(blocks) // 4
    for i in range(4):
        band = sorted(blocks[i * bandsize : (i + 1) * bandsize])
        n = len(band)
        m = (
            (band[n // 2 - 1] + band[n // 2]) / 2.0
            if n % 2 == 0
            else band[n // 2]
        )
        for j in range(i * bandsize, (i + 1) * bandsize):
            v = blocks[j]
            blocks[j] = int(v > m or (abs(v - m) < 1 and m > half_block_value))
    return format(int("".join(str(b) for b in blocks), 2), "064x")


def test_blockhash_structural_vector():
    """Top half black, bottom half white → first 128 bits 0 (median 0,
    below half-max), last 128 bits 1 (median at max, above half-max):
    hex '0'*32 + 'f'*32."""
    img = np.zeros((32, 32, 3), dtype=np.uint8)
    img[16:, :, :] = 255
    assert blockhash_256(img) == "0" * 32 + "f" * 32


def test_blockhash_matches_published_loop_port():
    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, size=(48, 64, 3), dtype=np.uint8)
    assert blockhash_256(img) == _blockhash_reference_loops(img)


def test_blockhash_rejects_uneven_dims():
    import pytest

    with pytest.raises(ValueError):
        blockhash_256(np.zeros((30, 32, 3), dtype=np.uint8))


def test_fake_decode_deterministic_and_shaped():
    a = fake_decode_rgb(b"hello world", 32, 16)
    b = fake_decode_rgb(b"hello world", 32, 16)
    assert a.shape == (16, 32, 3)
    assert (a == b).all()


def test_extract_media_features_end_to_end(spark):
    media = spark.createDataFrame(
        [(1, "text/plain", "payload-one", 64, 64),
         (2, "text/plain", "payload-two", 64, 64)],
        ["media_id", "mime_type", "payload", "width", "height"],
    )
    out = extract_media_features(media).orderBy("media_id").collect()
    assert [r["media_id"] for r in out] == [1, 2]
    for r in out:
        assert len(r["perceptual_hash"]) == 64
        int(r["perceptual_hash"], 16)  # valid hex
    # deterministic across invocations (driver rows-only gate relies on it)
    again = extract_media_features(media).orderBy("media_id").collect()
    assert [r["perceptual_hash"] for r in out] == [
        r["perceptual_hash"] for r in again
    ]
    assert out[0]["n_bytes"] == len("payload-one")


def test_resize_rgb_nearest_neighbour():
    import numpy as np

    from puma_matcher_spark.llmdata.multimodal import resize_rgb

    px = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    up = resize_rgb(px, 4, 4)
    assert up.shape == (4, 4, 3)
    # each source pixel tiles a 2x2 block
    assert (up[0, 0] == px[0, 0]).all() and (up[3, 3] == px[1, 1]).all()
    down = resize_rgb(up, 2, 2)
    assert (down == px).all()


def test_decode_pcm16_little_endian():
    import numpy as np

    from puma_matcher_spark.llmdata.multimodal import decode_pcm16

    x = decode_pcm16(b"\x01\x00\xff\xff\x00\x80")
    assert x.tolist() == [1, -1, -32768]
    # odd trailing byte ignored; empty payload -> empty
    assert decode_pcm16(b"\x01\x00\x02").tolist() == [1]
    assert decode_pcm16(b"").size == 0


def test_audio_features_hand_computed(spark):
    import math

    from puma_matcher_spark.llmdata.multimodal import extract_audio_features

    # 'ab' -> int16 LE 0x6261 = 25185; 'abab' -> [25185, 25185]
    media = spark.createDataFrame(
        [(1, "abab"), (2, "")], ["media_id", "payload"]
    )
    rows = {r["media_id"]: r for r in extract_audio_features(media).collect()}
    assert rows[1]["n_samples"] == 2
    assert rows[1]["rms"] == f"{25185.0:.6f}"
    assert rows[1]["zcr"] == "0.000000"
    assert rows[2]["n_samples"] == 0


def test_frame_sampling_policy():
    from puma_matcher_spark.llmdata.multimodal import sample_frame_offsets

    # 10 whole frames of 100 bytes, sample 4 -> evenly spread offsets
    assert sample_frame_offsets(1000, 100, 4) == [0, 200, 500, 700]
    # fewer frames than requested -> all of them
    assert sample_frame_offsets(250, 100, 4) == [0, 100]
    # payload smaller than one frame -> nothing
    assert sample_frame_offsets(50, 100, 4) == []


def test_video_features_shapes_and_determinism(spark):
    from puma_matcher_spark.llmdata.multimodal import extract_video_features

    media = spark.createDataFrame(
        [(1, "x" * 4000), (2, "y" * 800), (3, "")], ["media_id", "payload"]
    )
    rows = {r["media_id"]: r for r in extract_video_features(media).collect()}
    assert rows[1]["n_frames_sampled"] == 4
    assert len(rows[1]["frame_hashes"].split("|")) == 4
    assert all(len(h) == 64 for h in rows[1]["frame_hashes"].split("|"))
    assert rows[2]["n_frames_sampled"] == 1
    assert rows[3]["n_frames_sampled"] == 0 and rows[3]["frame_hashes"] == ""
    again = {r["media_id"]: r for r in extract_video_features(media.repartition(3)).collect()}
    assert {k: (v["n_frames_sampled"], v["frame_hashes"]) for k, v in rows.items()} == {
        k: (v["n_frames_sampled"], v["frame_hashes"]) for k, v in again.items()
    }


# ---------------- real codec: netpbm / BMP decode ----------------


def _ppm_bytes(pixels: np.ndarray) -> bytes:
    h, w = pixels.shape[:2]
    return b"P6\n# test image\n%d %d\n255\n" % (w, h) + pixels.tobytes()


def _bmp_bytes(pixels: np.ndarray) -> bytes:
    """Minimal bottom-up 24-bit BI_RGB BMP writer (test-only)."""
    h, w = pixels.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = []
    for r in range(h - 1, -1, -1):  # bottom-up
        bgr = pixels[r][:, ::-1].tobytes()
        rows.append(bgr + b"\x00" * (stride - len(bgr)))
    data = b"".join(rows)
    offset = 14 + 40
    header = (
        b"BM"
        + (offset + len(data)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + offset.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(data).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return header + data


def _test_pixels(h=32, w=48) -> np.ndarray:
    rng = np.random.default_rng(7)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def test_decode_ppm_roundtrip():
    from puma_matcher_spark.llmdata.multimodal import decode_image

    px = _test_pixels()
    out = decode_image(_ppm_bytes(px))
    assert out.shape == px.shape
    assert np.array_equal(out, px)


def test_decode_pgm_replicates_grey():
    from puma_matcher_spark.llmdata.multimodal import decode_image

    grey = np.arange(12, dtype=np.uint8).reshape(3, 4)
    payload = b"P5\n4 3\n255\n" + grey.tobytes()
    out = decode_image(payload)
    assert out.shape == (3, 4, 3)
    assert np.array_equal(out[:, :, 0], grey)
    assert np.array_equal(out[:, :, 1], grey)


def test_decode_ppm_16bit_rescales_to_8bit():
    from puma_matcher_spark.llmdata.multimodal import decode_image

    px = _test_pixels(6, 5)
    # widen to 16-bit: value v → v*257 spans 0..65535 exactly, so the
    # 8-bit rescale must round-trip bit-identically
    wide = (px.astype(np.uint16) * 257).astype(">u2")
    payload = b"P6\n5 6\n65535\n" + wide.tobytes()
    assert np.array_equal(decode_image(payload), px)

    # 16-bit greyscale through the P5 path
    grey = (np.arange(12, dtype=np.uint16) * 257 * 20).astype(">u2").reshape(3, 4)
    out = decode_image(b"P5\n4 3\n65535\n" + grey.tobytes())
    assert out.shape == (3, 4, 3)
    expected = np.round(grey.astype(np.float32) * 255 / 65535).astype(np.uint8)
    assert np.array_equal(out[:, :, 0], expected)


def test_decode_pnm_sub8bit_maxval_rescales():
    from puma_matcher_spark.llmdata.multimodal import decode_image

    # maxval 15: samples span 0..15, decoded output must span 0..255
    grey = np.array([[0, 5, 10, 15]], dtype=np.uint8)
    out = decode_image(b"P5\n4 1\n15\n" + grey.tobytes())
    expected = np.round(grey.astype(np.float32) * 255 / 15).astype(np.uint8)
    assert np.array_equal(out[:, :, 0], expected)
    assert out[0, 3, 0] == 255


def test_decode_bmp_roundtrip_with_padding():
    from puma_matcher_spark.llmdata.multimodal import decode_image

    px = _test_pixels(5, 3)  # odd width → 4-byte row padding exercised
    out = decode_image(_bmp_bytes(px))
    assert np.array_equal(out, px)


def test_decode_compressed_formats_stay_honest():
    import pytest as _pytest

    from puma_matcher_spark.llmdata.multimodal import decode_image

    # JPEG is a real decoder now: garbage after the SOI magic is a parse
    # error, not a stub refusal (tests/test_jpeg.py covers real streams)
    with _pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0 fake jpeg")
    with _pytest.raises(ValueError):
        decode_image(b"??nonsense")


def test_extract_media_features_decoded_end_to_end(spark):
    from puma_matcher_spark.llmdata.multimodal import (
        blockhash_256,
        decode_image,
        extract_media_features_decoded,
    )

    from tests.test_jpeg import encode_jpeg, encode_jpeg_progressive
    from tests.test_tiff import encode_tiff
    from tests.test_vp8l import encode_vp8l

    px1, px2 = _test_pixels(32, 32), _test_pixels(64, 48)
    px3, px4 = _test_pixels(32, 32), _test_pixels(48, 32)
    jpg4 = encode_jpeg(px4, quality=90)
    jpg5 = encode_jpeg_progressive(px4, quality=90)
    rng = np.random.default_rng(31)
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    px6 = pal[rng.integers(0, 16, size=(32, 32))]
    rows = [
        (1, bytearray(_ppm_bytes(px1))),
        (2, bytearray(_bmp_bytes(px2))),
        (3, bytearray(_png_bytes(px3, filter_type=4))),
        (4, bytearray(jpg4)),
        (5, bytearray(jpg5)),
        (6, bytearray(encode_vp8l(px6, cache_bits=4, backrefs=True))),
        (7, bytearray(encode_tiff(px1, compression=5, predictor=2))),
        (8, bytearray(_gif_bytes(rng.integers(0, 16, size=(32, 32), dtype=np.uint8), pal))),
    ]
    media = spark.createDataFrame(rows, "media_id LONG, payload BINARY")
    got = {r["media_id"]: r for r in extract_media_features_decoded(media).collect()}
    assert got[1]["perceptual_hash"] == blockhash_256(px1)
    assert got[2]["perceptual_hash"] == blockhash_256(decode_image(_bmp_bytes(px2)))
    assert got[1]["n_bytes"] == len(_ppm_bytes(px1))
    # PNG is lossless → hash of the original pixels; JPEG is lossy →
    # hash of ITS decode, executor-deterministic
    assert got[3]["perceptual_hash"] == blockhash_256(px3)
    assert got[4]["perceptual_hash"] == blockhash_256(decode_image(jpg4))
    # the progressive serialization carries the same coefficients →
    # identical hash to the baseline one
    assert got[5]["perceptual_hash"] == got[4]["perceptual_hash"]
    # WebP-lossless and TIFF are lossless → hashes of the originals
    assert got[6]["perceptual_hash"] == blockhash_256(px6)
    assert got[7]["perceptual_hash"] == blockhash_256(px1)
    assert len(got[8]["perceptual_hash"]) == 64


def test_extract_media_features_decoded_quarantine_mode(spark):
    """Round 8: on_error='quarantine' turns per-row decode failures into
    dead-letter rows (hash NULL + decode_error) instead of failing the
    job — the 100 TB contract where corrupt blobs are inevitable.  Valid
    rows in the SAME batch still produce their exact hashes."""
    from puma_matcher_spark.llmdata.multimodal import (
        blockhash_256,
        extract_media_features_decoded,
    )

    px = _test_pixels(32, 32)
    rows = [
        (1, bytearray(_ppm_bytes(px))),            # valid
        (2, bytearray(b"P5 truncated-header")),    # corrupt header
        (3, bytearray(b"\x00\x01garbage")),        # unknown magic
        (4, None),                                  # NULL payload
        (5, bytearray(_ppm_bytes(px)[:20])),       # truncated body
    ]
    media = spark.createDataFrame(rows, "media_id LONG, payload BINARY")
    got = {
        r["media_id"]: r
        for r in extract_media_features_decoded(
            media, on_error="quarantine"
        ).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[1]["perceptual_hash"] == blockhash_256(px)
    assert got[1]["decode_error"] is None
    for bad in (2, 3, 4, 5):
        assert got[bad]["perceptual_hash"] is None, bad
        assert got[bad]["decode_error"], bad
    assert "ValueError" in got[2]["decode_error"]
    # default mode is unchanged: the same corpus fails the job
    import pytest as _pytest

    with _pytest.raises(Exception):
        extract_media_features_decoded(media).collect()
    with _pytest.raises(ValueError, match="on_error"):
        extract_media_features_decoded(media, on_error="skip")


# ---- PNG (pure stdlib-zlib decode) ----------------------------------------


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import binascii
    import struct

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", binascii.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_bytes(px: np.ndarray, filter_type: int = 0, color: int = 2) -> bytes:
    """Minimal PNG encoder for tests: one IDAT, every scanline using the
    SAME filter type (0-4) so each decode path is exercised exactly."""
    import struct
    import zlib

    h, w = px.shape[:2]
    if color == 2:
        flat = px
        bpp = 3
    elif color == 6:
        flat = np.concatenate(
            [px, np.full((h, w, 1), 255, dtype=np.uint8)], axis=2
        )
        bpp = 4
    elif color == 0:
        flat = px[:, :, :1]
        bpp = 1
    else:
        raise ValueError(color)
    stride = w * bpp
    rows = flat.reshape(h, stride).astype(np.int32)
    out = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        cur = rows[y]
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            left = np.concatenate([np.zeros(bpp, dtype=np.int32), cur[:-bpp]])
            filt = (cur - left) % 256
        elif filter_type == 2:
            filt = (cur - prev) % 256
        elif filter_type == 3:
            left = np.concatenate([np.zeros(bpp, dtype=np.int32), cur[:-bpp]])
            filt = (cur - ((left + prev) >> 1)) % 256
        elif filter_type == 4:
            filt = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                filt[x] = (int(cur[x]) - pred) % 256
        out.append(filter_type)
        out.extend(filt.astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def _filter_scanlines(rows: np.ndarray, bpp: int) -> bytearray:
    """Serialize (h, stride) uint8 rows with filter types cycling 0..4
    per scanline (byte-level filters, valid for any sample depth)."""
    out = bytearray()
    h, stride = rows.shape
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        cur = rows[y].astype(np.int32)
        ftype = y % 5
        left = np.concatenate([np.zeros(bpp, dtype=np.int32), cur[:-bpp]])
        cleft = np.concatenate([np.zeros(bpp, dtype=np.int32), prev[:-bpp]])
        if ftype == 0:
            filt = cur
        elif ftype == 1:
            filt = (cur - left) % 256
        elif ftype == 2:
            filt = (cur - prev) % 256
        elif ftype == 3:
            filt = (cur - ((left + prev) >> 1)) % 256
        else:
            p = left + prev - cleft
            pa, pb, pc = (
                np.abs(p - left), np.abs(p - prev), np.abs(p - cleft)
            )
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, cleft)
            )
            filt = (cur - pred) % 256
        out.append(ftype)
        out.extend(filt.astype(np.uint8).tobytes())
        prev = cur
    return out


def _png_bytes_generic(
    px: np.ndarray, color: int = 2, depth: int = 8, interlace: int = 0
) -> bytes:
    """Test PNG writer for 8/16-bit and Adam7; 16-bit samples are the
    8-bit pixels widened by 257 so the decoder's rescale round-trips."""
    import struct
    import zlib

    h, w = px.shape[:2]
    nch = {0: 1, 2: 3}[color]
    flat = px[:, :, :nch]
    if depth == 16:
        samples = (flat.astype(np.uint16) * 257).astype(">u2")
        rows = np.frombuffer(samples.tobytes(), dtype=np.uint8).reshape(
            h, w * nch * 2
        )
        bpp = nch * 2
    else:
        rows = flat.reshape(h, w * nch)
        bpp = nch
    out = bytearray()
    if interlace == 0:
        out = _filter_scanlines(rows, bpp)
    else:
        passes = [
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ]
        grid = rows.reshape(h, w, bpp)
        for x0, y0, dx, dy in passes:
            sub = grid[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            ph, pw = sub.shape[:2]
            out += _filter_scanlines(sub.reshape(ph, pw * bpp), bpp)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def test_decode_png_adam7_interlaced():
    from puma_matcher_spark.llmdata.multimodal import decode_image

    for h, w in [(13, 7), (8, 8), (1, 1), (2, 3), (16, 5), (9, 17)]:
        px = _test_pixels(h, w)
        out = decode_image(_png_bytes_generic(px, interlace=1))
        assert np.array_equal(out, px), (h, w)
    # grayscale Adam7
    px = _test_pixels(11, 6)
    g = decode_image(_png_bytes_generic(px, color=0, interlace=1))
    assert np.array_equal(g, np.repeat(px[:, :, :1], 3, axis=2))


def test_decode_png_16bit():
    from puma_matcher_spark.llmdata.multimodal import decode_image

    px = _test_pixels(10, 9)
    assert np.array_equal(decode_image(_png_bytes_generic(px, depth=16)), px)
    # 16-bit + Adam7 together
    assert np.array_equal(
        decode_image(_png_bytes_generic(px, depth=16, interlace=1)), px
    )
    # 16-bit grayscale
    g = decode_image(_png_bytes_generic(px, color=0, depth=16))
    assert np.array_equal(g, np.repeat(px[:, :, :1], 3, axis=2))


def test_decode_png_roundtrip_every_filter():
    from puma_matcher_spark.llmdata.multimodal import decode_image

    px = _test_pixels(13, 7)  # odd sizes stress stride math
    for ftype in range(5):
        out = decode_image(_png_bytes(px, filter_type=ftype))
        assert np.array_equal(out, px), f"filter {ftype}"


def test_decode_png_color_types():
    from puma_matcher_spark.llmdata.multimodal import decode_image

    px = _test_pixels(9, 5)
    # RGBA: alpha dropped
    assert np.array_equal(decode_image(_png_bytes(px, 2, color=6)), px)
    # grayscale: single channel replicated
    g = decode_image(_png_bytes(px, 1, color=0))
    assert np.array_equal(g, np.repeat(px[:, :, :1], 3, axis=2))


def test_decode_png_palette():
    import struct
    import zlib

    from puma_matcher_spark.llmdata.multimodal import decode_image

    palette = np.array([[250, 10, 20], [0, 200, 0], [5, 5, 255]], dtype=np.uint8)
    idx = np.array([[0, 1, 2], [2, 1, 0]], dtype=np.uint8)
    h, w = idx.shape
    raw = bytearray()
    for y in range(h):
        raw.append(0)
        raw.extend(idx[y].tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", palette.tobytes())
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_image(png), palette[idx])


def test_decode_png_unsupported_profiles_stay_honest():
    import pytest as _pytest

    from puma_matcher_spark.llmdata.multimodal import decode_image

    px = _test_pixels(4, 4)
    blob = bytearray(_png_bytes(px))
    blob[24] = 4  # sub-byte bit depth inside IHDR — still unsupported
    with _pytest.raises(NotImplementedError):
        decode_image(bytes(blob))
    # 16-bit is SUPPORTED now, but an 8-bit-sized stream relabelled as
    # 16-bit must fail loudly, not misdecode
    blob[24] = 16
    with _pytest.raises(ValueError):
        decode_image(bytes(blob))


# ---- GIF (LZW) decode ------------------------------------------------------


class _LSBWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, nbits: int) -> None:
        self.acc |= value << self.n
        self.n += nbits
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def flush(self) -> bytes:
        if self.n:
            self.out.append(self.acc & 0xFF)
            self.acc = self.n = 0
        return bytes(self.out)


def _gif_lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    """Real string-table GIF LZW encoder (LSB-first, growing widths,
    table reset at 4096) — written from the published algorithm,
    independent of the decoder under test."""
    clear = 1 << min_code_size
    end = clear + 1
    w = _LSBWriter()
    width = min_code_size + 1
    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    w.put(clear, width)
    prefix: tuple = ()
    for v in map(int, indices.reshape(-1)):
        cand = prefix + (v,)
        if cand in table:
            prefix = cand
            continue
        w.put(table[prefix], width)
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code >= 4096:
            w.put(clear, width)
            width = min_code_size + 1
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
        prefix = (v,)
    if prefix:
        w.put(table[prefix], width)
    w.put(end, width)
    return w.flush()


def _gif_bytes(
    idx: np.ndarray,
    palette: np.ndarray,
    interlace: bool = False,
    local_table: bool = False,
    extension: bool = True,
) -> bytes:
    h, w = idx.shape
    npal = len(palette)
    bits = max(2, int(np.ceil(np.log2(npal))))
    pal = np.zeros((1 << bits, 3), dtype=np.uint8)
    pal[:npal] = palette
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    if local_table:
        out += bytes([0x00, 0, 0])  # no global table
    else:
        out += bytes([0x80 | (bits - 1), 0, 0])
        out += pal.tobytes()
    if extension:  # graphic control extension — must be skipped cleanly
        out += bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])
    rows = idx
    if interlace:
        order = np.concatenate(
            [np.arange(0, h, 8), np.arange(4, h, 8),
             np.arange(2, h, 4), np.arange(1, h, 2)]
        )
        rows = idx[order]
    out += bytes([0x2C]) + (0).to_bytes(2, "little") * 2
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([(0x80 | (bits - 1) if local_table else 0) | (0x40 if interlace else 0)])
    if local_table:
        out += pal.tobytes()
    mcs = bits
    out += bytes([mcs])
    data = _gif_lzw_encode(rows, mcs)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += bytes([0, 0x3B])
    return bytes(out)


def test_decode_gif_roundtrip():
    from puma_matcher_spark.llmdata.multimodal import decode_image

    rng = np.random.default_rng(11)
    palette = rng.integers(0, 256, size=(4, 3), dtype=np.uint8)
    idx = rng.integers(0, 4, size=(13, 9), dtype=np.uint8)
    out = decode_image(_gif_bytes(idx, palette))
    assert np.array_equal(out, palette[idx])
    # local color table variant
    out_l = decode_image(_gif_bytes(idx, palette, local_table=True))
    assert np.array_equal(out_l, palette[idx])


def test_decode_gif_interlaced_and_big_palette():
    from puma_matcher_spark.llmdata.multimodal import decode_image

    rng = np.random.default_rng(12)
    palette = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    idx = rng.integers(0, 256, size=(21, 17), dtype=np.uint8)
    assert np.array_equal(
        decode_image(_gif_bytes(idx, palette, interlace=True)), palette[idx]
    )
    # large image forces LZW table growth through several widths
    big = rng.integers(0, 256, size=(64, 64), dtype=np.uint8)
    assert np.array_equal(decode_image(_gif_bytes(big, palette)), palette[big])


def test_decode_gif_errors():
    import pytest as _pytest

    from puma_matcher_spark.llmdata.multimodal import decode_image

    with _pytest.raises(ValueError):
        decode_image(b"GIF89a" + b"\x00" * 7)  # truncated header
    with _pytest.raises(ValueError):
        # header survives but the image descriptor is cut short
        decode_image(b"GIF89a" + b"\x04\x00\x03\x00\x00\x00\x00" + b"\x2c\x00")
    rng = np.random.default_rng(13)
    palette = rng.integers(0, 256, size=(4, 3), dtype=np.uint8)
    idx = rng.integers(0, 4, size=(5, 5), dtype=np.uint8)
    blob = bytearray(_gif_bytes(idx, palette))
    with _pytest.raises(ValueError):
        decode_image(bytes(blob[: len(blob) - 12]))  # cut mid-LZW


def test_quarantine_mode_survives_adversarial_payloads(spark):
    """The quarantine contract under fire: 120 adversarial payloads —
    pure random bytes, every codec magic followed by garbage or
    truncation, and pathological header values — must produce exactly
    one output row each (hash or dead-letter), never a crash and never
    a hang.  This is the fuzz net for the 100 TB reality that blob
    corruption is arbitrary, not curated."""
    import random

    from puma_matcher_spark.llmdata.multimodal import (
        extract_media_features_decoded,
    )

    rng = random.Random(1234)
    magics = [
        b"P5", b"P6", b"P2", b"BM", b"GIF87a", b"GIF89a",
        b"\x89PNG\r\n\x1a\n", b"\xff\xd8", b"RIFF", b"II*\x00",
        b"MM\x00*", b"YUV4MPEG2",
    ]
    payloads = []
    for i in range(40):
        payloads.append(bytes(rng.randrange(256) for _ in range(rng.randrange(1, 400))))
    for m in magics:
        payloads.append(m)                                   # magic alone
        payloads.append(m + bytes(rng.randrange(256) for _ in range(64)))
        payloads.append(m + b"\x00" * 200)                   # zero-fill body
        payloads.append(m + b"\xff" * 200)                   # ones-fill body
    payloads.append(b"P5\n999999 999999\n255\n" + b"x" * 10)  # huge dims, tiny body
    payloads.append(b"BM" + b"\x00" * 12)                     # truncated header
    media = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "media_id LONG, payload BINARY",
    )
    rows = extract_media_features_decoded(media, on_error="quarantine").collect()
    assert len(rows) == len(payloads)
    for r in rows:
        ok = r["decode_error"] is None
        assert ok == (r["perceptual_hash"] is not None), r


def test_media_decode_audit_emits_both_statuses_on_all_clean_corpus(
    spark, tmp_path
):
    """r8 ADVICE #2: the audit's oracle UNION ALL always emits an 'ok'
    AND a 'quarantined' row (n_media 0 for an empty class) — the Spark
    side must too, via the literal status anchor, or an all-clean corpus
    is a spurious row-count mismatch."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from puma_matcher_spark.oracle import compare_query
    from puma_matcher_spark.queries import REGISTRY

    # doc_ids chosen so doc_id % 7 != 0 and no NULL text → zero quarantined
    ids = [1, 2, 3, 4, 5, 6, 8, 9]
    tbl = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([f"clean doc {i}" for i in ids]),
            "lang": pa.array(["en"] * len(ids)),
            "source": pa.array(["cleanA"] * len(ids)),
            "n_chars": pa.array([12] * len(ids), pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    spec = REGISTRY["media_decode_audit"]
    res = compare_query(
        spark, con, "media_decode_audit", spec.spark_fn, spec.oracle,
        str(tmp_path),
    )
    assert res.ok, res
    rows = {
        r["status"]: r for r in spec.spark_fn(spark, str(tmp_path)).collect()
    }
    assert rows["quarantined"]["n_media"] == 0
    assert rows["quarantined"]["consistent"] is True
    assert rows["ok"]["n_media"] == len(ids)
