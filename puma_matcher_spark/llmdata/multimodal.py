"""Multimodal column plumbing: images/audio/video as opaque ``binary``
columns with typed metadata, processed in Arrow batches via mapInPandas.

The reference shells out to a Python blockhash per image row
(analyser/PictureHashAnalyser2.scala:48,71-125 — writes blockhash.py to
/tmp and spawns a process per row!).  The rebuild keeps the plumbing and
the hash kernel real, and the codec layer is now real too for the
formats a codec-free container can decode: ``decode_image`` handles
netpbm P5/P6 (8- and 16-bit, any maxval), uncompressed 24/32-bit BMP,
8/16-bit PNG including Adam7 interlacing (chunks + scanline unfiltering
in pure numpy; the DEFLATE stream is stdlib ``zlib``), GIF87a/89a (LZW),
plus baseline sequential AND progressive JPEG (huffman +
spectral-selection/successive-approximation scans + dequant + IDCT +
YCbCr, llmdata/jpeg.py), lossless WebP (VP8L: prefix codes, LZ77,
color cache, all four transforms, llmdata/vp8l.py), AND baseline TIFF
(both byte orders, none/LZW/Deflate/PackBits strips, predictor 2,
llmdata/tiff.py) — every common still-image container now decodes
stdlib-only, run end-to-end by ``extract_media_features_decoded``.  Audio
decodes raw PCM16.  Lossy WebP (the VP8 video intra codec) and the
exotic JPEG profiles (arithmetic, lossless, 12-bit) raise
NotImplementedError honestly; the synthetic fixture paths keep ``fake_decode_rgb`` because
their string payloads are not media bytes.

Scale notes: binary payloads ride the shuffle only if you shuffle them —
process media in the partition where the scan produced it (mapInPandas
before any wide transform), emit compact features (hashes, embeddings),
and only shuffle those.  ``spark.sql.files.maxPartitionBytes`` sizes the
per-task batch; Arrow batch size bounds peak memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("perceptual_hash", StringType()),
        StructField("n_bytes", LongType()),
    ]
)

#: quarantine-mode output: FEATURE_SCHEMA + why the decode failed
FEATURE_AUDIT_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("perceptual_hash", StringType()),
        StructField("n_bytes", LongType()),
        StructField("decode_error", StringType()),
    ]
)


BLOCKHASH_BITS = 16  # 16×16 blocks → 256-bit hash


def blockhash_256(pixels: np.ndarray) -> str:
    """REAL 256-bit block-mean-value perceptual hash.

    Implements the published algorithm of Yang, Gu & Niu, *Block Mean
    Value Based Image Perceptual Hashing* — the same algorithm the
    reference ships as an embedded Python script and shells out to per
    row (PictureHashAnalyser2.scala:48-125).  Even-block variant,
    vectorised with numpy (the reference's per-pixel Python loops would
    be the slow path inside an Arrow batch):

    * pixel value = r+g+b, summed over each of the 16×16 blocks;
    * per horizontal band of 64 blocks, bit = block > band median, with
      the published tie-break for black/white-dominated images (emit the
      median's side when |block − median| < 1, by whether the median is
      above half the maximum block value).

    ``pixels``: (H, W, 3) uint8 RGB array with H and W divisible by 16
    (callers resize/crop first — the reference resizes via PIL).
    """
    bits = BLOCKHASH_BITS
    h, w = pixels.shape[:2]
    if h % bits or w % bits:
        raise ValueError(f"blockhash_256 needs dims divisible by {bits}")
    total = pixels.astype(np.int64).sum(axis=2)  # r+g+b per pixel
    bh, bw = h // bits, w // bits
    blocks = (
        total.reshape(bits, bh, bits, bw).sum(axis=(1, 3)).reshape(-1)
    ).astype(np.float64)
    half_block_value = bh * bw * 256 * 3 / 2
    out = np.zeros(bits * bits, dtype=np.uint8)
    bandsize = (bits * bits) // 4
    for i in range(4):
        band = blocks[i * bandsize : (i + 1) * bandsize]
        m = float(np.median(band))  # sorted mid-pair average, as published
        out[i * bandsize : (i + 1) * bandsize] = (
            (band > m) | ((np.abs(band - m) < 1) & (m > half_block_value))
        )
    value = 0
    for b in out:
        value = (value << 1) | int(b)
    return format(value, "064x")


def fake_decode_rgb(payload: bytes, width: int, height: int) -> np.ndarray:
    """STUB codec: no PIL/ffmpeg in this container, so payload bytes are
    tiled deterministically into an (height, width, 3) RGB array.  This
    is the ONLY fake step — swap for a real decoder in production and
    the hash kernel and Spark plumbing are unchanged."""
    raw = np.frombuffer(payload, dtype=np.uint8) if payload else np.zeros(
        1, dtype=np.uint8
    )
    return np.resize(raw, (height, width, 3))


def extract_media_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: payload → (blockhash, size).

    Arrow-batched; one output row per input row; ``fake_decode_rgb`` is
    the single line to swap for a real decoder — the blockhash kernel
    itself is the real published algorithm.
    """

    def hash_row(payload: str, width, height) -> str:
        bits = BLOCKHASH_BITS
        w = max(int(width or 0) // bits, 1) * bits
        h = max(int(height or 0) // bits, 1) * bits
        return blockhash_256(fake_decode_rgb(payload.encode(), w, h))

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"].fillna("")
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "perceptual_hash": [
                        hash_row(p, w, h)
                        for p, w, h in zip(
                            payloads, pdf["width"], pdf["height"]
                        )
                    ],
                    "n_bytes": payloads.map(len).astype("int64"),
                }
            )

    return media.mapInPandas(process, FEATURE_SCHEMA)


def _decode_pnm(payload: bytes) -> np.ndarray:
    """Netpbm P6 (PPM, RGB) / P5 (PGM, grey) decode — pure numpy.

    Header: magic, then whitespace-separated width/height/maxval with
    ``#`` comments allowed, then ONE whitespace byte, then raw samples.
    """
    magic = payload[:2]
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        # skip whitespace and comments
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = fields
    nch = 3 if magic == b"P6" else 1
    if maxval > 255:
        # 16-bit samples: two bytes per sample, most-significant first
        # (netpbm spec); rescale to 8-bit for the hashing kernels.
        wide = np.frombuffer(payload, dtype=">u2", count=w * h * nch, offset=pos)
        data = (
            (wide.astype(np.float32) * (255.0 / maxval)).round().astype(np.uint8)
        )
    else:
        data = np.frombuffer(payload, dtype=np.uint8, count=w * h * nch, offset=pos)
        if maxval != 255:
            # sub-8-bit maxval: samples span 0..maxval — rescale so the
            # hashes are invariant to the declared depth
            data = (
                (data.astype(np.float32) * (255.0 / maxval))
                .round()
                .astype(np.uint8)
            )
    if nch == 3:
        return data.reshape(h, w, 3).copy()
    return np.repeat(data.reshape(h, w, 1), 3, axis=2)


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24/32-bit BI_RGB BMP decode — pure numpy.

    Handles the BITMAPINFOHEADER layout: bottom-up row order (positive
    height), BGR(A) channel order, rows padded to 4 bytes.
    """
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if compression != 0 or bpp not in (24, 32):
        raise NotImplementedError(
            f"only uncompressed 24/32-bit BMP supported (bpp={bpp}, "
            f"compression={compression})"
        )
    bottom_up = h > 0
    h = abs(h)
    nch = bpp // 8
    stride = (w * nch + 3) & ~3
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=offset
    ).reshape(h, stride)
    pix = rows[:, : w * nch].reshape(h, w, nch)
    if bottom_up:
        pix = pix[::-1]
    # BGR(A) → RGB
    return pix[:, :, 2::-1].copy()


def _png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG per-scanline filtering (spec §9: None/Sub/Up/Average/
    Paeth).  ``raw`` is the inflated stream reshaped to (h, 1+stride);
    returns (h, stride) reconstructed bytes."""
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = int(raw[y, 0])
        row = raw[y, 1:].copy()
        if ftype == 0:  # None
            rec = row
        elif ftype == 1:  # Sub: + recon[x - bpp]
            rec = np.add.accumulate(
                row.reshape(-1, bpp), axis=0, dtype=np.uint8
            ).reshape(-1)
        elif ftype == 2:  # Up: + prev row
            rec = row + prev  # uint8 wraps mod 256, per spec
        elif ftype == 3:  # Average: + floor((left + up) / 2)
            # serial in x by construction (left neighbour is the
            # RECONSTRUCTED byte), so the loop is irreducible — but
            # plain-list arithmetic beats numpy scalar indexing ~5×,
            # which matters because real encoders (libpng adaptive)
            # emit mostly Average/Paeth rows
            rowl, prevl, recl = row.tolist(), prev.tolist(), [0] * stride
            for x in range(stride):
                left = recl[x - bpp] if x >= bpp else 0
                recl[x] = (rowl[x] + ((left + prevl[x]) >> 1)) & 0xFF
            rec = np.asarray(recl, dtype=np.uint8)
        elif ftype == 4:  # Paeth predictor (same serial-in-x argument)
            rowl, prevl, recl = row.tolist(), prev.tolist(), [0] * stride
            for x in range(stride):
                a = recl[x - bpp] if x >= bpp else 0
                b = prevl[x]
                c = prevl[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                recl[x] = (rowl[x] + pred) & 0xFF
            rec = np.asarray(recl, dtype=np.uint8)
        else:
            raise ValueError(f"bad PNG filter type {ftype} on row {y}")
        out[y] = rec
        prev = rec
    return out


def _decode_png(payload: bytes) -> np.ndarray:
    """Pure numpy + stdlib-zlib PNG decode (the 'compression' in PNG is
    just DEFLATE, which Python ships — no external codec needed).

    Supports 8- and 16-bit depths (16-bit rescaled to 8 like the netpbm
    path), color types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha),
    6 (RGBA), both non-interlaced and Adam7-interlaced.  Alpha is
    dropped (the feature kernels consume RGB).
    """
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        length = int.from_bytes(payload[pos : pos + 4], "big")
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    depth, color, _comp, _filt, interlace = ihdr[8:13]
    if depth not in (8, 16) or interlace not in (0, 1):
        raise NotImplementedError(
            f"PNG bit depth {depth} / interlace {interlace} not supported "
            "(8/16-bit, non-interlaced or Adam7)"
        )
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise ValueError(f"bad PNG color type {color}")
    if color == 3 and depth == 16:
        raise ValueError("16-bit palette PNG is not legal")
    nbytes = depth // 8
    bpp = channels * nbytes  # filter unit: bytes per pixel
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if interlace == 0:
        stride = w * bpp
        if raw.size != h * (stride + 1):
            raise ValueError("PNG pixel stream size mismatch")
        bytes2d = _png_unfilter(raw.reshape(h, stride + 1), h, stride, bpp)
    else:
        bytes2d = _png_deinterlace_adam7(raw, h, w, bpp)
    if depth == 16:
        wide = bytes2d.reshape(h, w * channels, 2)
        samples = (
            wide[:, :, 0].astype(np.uint16) << 8
        ) | wide[:, :, 1].astype(np.uint16)
        pix = (
            np.round(samples.astype(np.float64) * 255.0 / 65535.0)
            .astype(np.uint8)
            .reshape(h, w, channels)
        )
    else:
        pix = bytes2d.reshape(h, w, channels)
    if color == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        return plte[pix[:, :, 0]].copy()
    if color == 0:
        return np.repeat(pix, 3, axis=2)
    if color == 4:
        return np.repeat(pix[:, :, :1], 3, axis=2)
    return pix[:, :, :3].copy()


#: Adam7 pass geometry: (x0, y0, dx, dy) per pass (PNG spec §8.2)
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_deinterlace_adam7(
    raw: np.ndarray, h: int, w: int, bpp: int
) -> np.ndarray:
    """Adam7: seven independently-filtered sub-images scattered back to
    the full (h, w*bpp) byte grid.  Empty passes contribute zero bytes
    (not even filter bytes), per spec."""
    out = np.zeros((h, w * bpp), dtype=np.uint8)
    pos = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        stride = pw * bpp
        need = ph * (stride + 1)
        if pos + need > raw.size:
            raise ValueError("PNG interlaced pixel stream truncated")
        sub = _png_unfilter(
            raw[pos : pos + need].reshape(ph, stride + 1), ph, stride, bpp
        ).reshape(ph, pw, bpp)
        pos += need
        rows = y0 + dy * np.arange(ph)
        cols = x0 + dx * np.arange(pw)
        grid = out.reshape(h, w, bpp)
        grid[np.ix_(rows, cols)] = sub
    if pos != raw.size:
        raise ValueError("PNG pixel stream size mismatch")
    return out


def _gif_lzw(data: bytes, min_code_size: int, n_pixels: int) -> np.ndarray:
    """GIF-variant LZW decode (LSB-first bit packing, CLEAR/END codes,
    growing code width capped at 12 bits) → palette indices."""
    clear = 1 << min_code_size
    end = clear + 1
    out = np.empty(n_pixels, dtype=np.uint8)
    n_out = 0
    # bit cursor over the concatenated sub-block data, LSB first
    acc = 0
    nbits = 0
    pos = 0

    def fresh_table():
        return {i: (i,) for i in range(clear)}

    table = fresh_table()
    next_code = end + 1
    width = min_code_size + 1
    prev: tuple | None = None
    while n_out < n_pixels:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated GIF LZW stream")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = fresh_table()
            next_code = end + 1
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = table[code]
        elif code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + (prev[0],)
        else:
            raise ValueError("corrupt GIF LZW code")
        for v in entry:
            if n_out < n_pixels:
                out[n_out] = v
                n_out += 1
        if prev is not None and next_code < 4096:
            table[next_code] = prev + (entry[0],)
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry
    if n_out < n_pixels:
        raise ValueError("GIF pixel stream ended early")
    return out


def _decode_gif(payload: bytes) -> np.ndarray:
    """Pure-python GIF87a/89a decode of the FIRST image frame (the
    still-image semantics of the feature plane): global/local color
    tables, interlacing, LZW.  Extensions (incl. animation control) are
    skipped; the frame is composited onto the logical screen at the
    background color."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(payload) < 13:
        raise ValueError("truncated GIF header")
    sw = int.from_bytes(payload[6:8], "little")
    sh = int.from_bytes(payload[8:10], "little")
    flags = payload[10]
    bg_index = payload[11]
    pos = 13
    gct = None
    if flags & 0x80:
        size = 2 << (flags & 0x07)
        gct = np.frombuffer(payload, np.uint8, size * 3, pos).reshape(-1, 3)
        pos += size * 3
    n = len(payload)
    while pos < n:
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < n and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"bad GIF block 0x{block:02x}")
        if pos + 9 > n:
            raise ValueError("truncated GIF image descriptor")
        left = int.from_bytes(payload[pos : pos + 2], "little")
        top = int.from_bytes(payload[pos + 2 : pos + 4], "little")
        fw = int.from_bytes(payload[pos + 4 : pos + 6], "little")
        fh = int.from_bytes(payload[pos + 6 : pos + 8], "little")
        iflags = payload[pos + 8]
        pos += 9
        table = gct
        if iflags & 0x80:
            size = 2 << (iflags & 0x07)
            table = np.frombuffer(payload, np.uint8, size * 3, pos).reshape(
                -1, 3
            )
            pos += size * 3
        if table is None:
            raise ValueError("GIF frame without a color table")
        if pos >= n:
            raise ValueError("truncated GIF image data")
        min_code_size = payload[pos]
        pos += 1
        chunks = bytearray()
        while pos < n and payload[pos] != 0:
            ln = payload[pos]
            chunks += payload[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1  # block terminator
        idx = _gif_lzw(bytes(chunks), min_code_size, fw * fh).reshape(fh, fw)
        if iflags & 0x40:  # interlaced: 4-pass row order
            deint = np.empty_like(idx)
            order = np.concatenate(
                [np.arange(0, fh, 8), np.arange(4, fh, 8),
                 np.arange(2, fh, 4), np.arange(1, fh, 2)]
            )
            deint[order] = idx
            idx = deint
        screen_idx = np.full((sh, sw), bg_index, dtype=np.uint8)
        h2 = min(fh, sh - top)
        w2 = min(fw, sw - left)
        screen_idx[top : top + h2, left : left + w2] = idx[:h2, :w2]
        safe = np.minimum(screen_idx, len(table) - 1)
        return table[safe].copy()
    raise ValueError("GIF contained no image frame")


def decode_image(payload: bytes) -> np.ndarray:
    """REAL image decode, pure numpy + stdlib: netpbm P5/P6 (8/16-bit),
    24/32-bit BI_RGB BMP, 8/16-bit PNG incl. Adam7 interlacing (DEFLATE
    via stdlib zlib), GIF87a/89a (LZW, first frame), baseline and
    progressive JPEG (llmdata/jpeg.py), lossless WebP (VP8L,
    llmdata/vp8l.py), and baseline TIFF (none/LZW/Deflate/PackBits
    strips, llmdata/tiff.py).  Lossy WebP (the VP8 video intra codec)
    remains NotImplemented — the honest boundary.

    Returns (height, width, 3) uint8 RGB.
    """
    if payload[:2] in (b"P6", b"P5"):
        return _decode_pnm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from puma_matcher_spark.llmdata.vp8l import decode_webp

        return decode_webp(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        from puma_matcher_spark.llmdata.tiff import decode_tiff

        return decode_tiff(payload)
    if payload[:2] == b"\xff\xd8":
        from puma_matcher_spark.llmdata.jpeg import decode_jpeg

        return decode_jpeg(payload)
    raise ValueError(f"unrecognised image magic: {payload[:2]!r}")


def extract_media_features_decoded(
    media: DataFrame, on_error: str = "raise"
) -> DataFrame:
    """The REAL-codec twin of :func:`extract_media_features` for frames
    whose ``payload`` column is BINARY and holds actual image bytes
    (PPM/PGM/BMP): decode → blockhash, same Arrow-batched mapInPandas
    shape, same output schema.

    ``on_error``:

    * ``"raise"`` (default) — a corrupt payload fails the job, the right
      behaviour for curated fixtures and tests.
    * ``"quarantine"`` — the dead-letter mode for production corpora,
      where some fraction of 100 TB of blobs is ALWAYS corrupt: decode
      failures yield (media_id, perceptual_hash=NULL, n_bytes,
      decode_error=<exception message>) instead of aborting the scan,
      and clean rows carry decode_error=NULL.  One corrupt blob must
      cost one row, never the job (the same contract as the events
      plane's route_dead_letters).
    """
    if on_error not in ("raise", "quarantine"):
        raise ValueError(f"on_error must be 'raise'|'quarantine', got {on_error!r}")
    quarantine = on_error == "quarantine"

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes, sizes, errs = [], [], []
            for p in pdf["payload"]:
                raw = bytes(p) if p is not None else b""
                sizes.append(len(raw))
                if not quarantine:
                    hashes.append(blockhash_256(decode_image(raw)))
                    continue
                try:
                    hashes.append(blockhash_256(decode_image(raw)))
                    errs.append(None)
                except Exception as e:  # noqa: BLE001 — quarantine = any decode failure
                    hashes.append(None)
                    errs.append(f"{type(e).__name__}: {e}"[:200])
            out = {
                "media_id": pdf["media_id"],
                "perceptual_hash": hashes,
                "n_bytes": pd.Series(sizes, dtype="int64"),
            }
            if quarantine:
                out["decode_error"] = errs
            yield pd.DataFrame(out)

    schema = FEATURE_AUDIT_SCHEMA if quarantine else FEATURE_SCHEMA
    return media.mapInPandas(process, schema)


def resize_rgb(pixels: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """REAL nearest-neighbour resize (pure numpy index arithmetic — no
    codec involved): the resize step the reference performs via PIL
    before hashing (PictureHashAnalyser2.scala's embedded script resizes
    to a block-aligned raster)."""
    h, w = pixels.shape[:2]
    rows = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    cols = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return pixels[rows][:, cols]


def decode_pcm16(payload: bytes) -> np.ndarray:
    """REAL raw-PCM decode: interpret bytes as little-endian signed
    16-bit mono samples (the actual wire format of WAV data chunks) —
    unlike the image path, no external codec is needed, so the audio
    plane is fully real in this environment."""
    usable = len(payload) - (len(payload) % 2)
    if usable <= 0:
        return np.zeros(0, dtype=np.int16)
    return np.frombuffer(payload[:usable], dtype="<i2")


AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("rms", StringType()),       # fixed 6-dec string: exact
        StructField("zcr", StringType()),       # cross-engine comparison
    ]
)


def _audio_stats(samples: np.ndarray):
    """(n_samples, rms, zcr) of an int16 sample vector, floats emitted
    as fixed 6-decimal strings for byte-exact cross-engine comparison."""
    x = samples.astype(np.float64)
    n = x.size
    if n == 0:
        return 0, "0.000000", "0.000000"
    rms = float(np.sqrt(np.mean(x * x)))
    zc = int(np.count_nonzero(np.signbit(x[1:]) != np.signbit(x[:-1])))
    zcr = zc / (n - 1) if n > 1 else 0.0
    return n, f"{rms:.6f}", f"{zcr:.6f}"


def extract_audio_features(media: DataFrame) -> DataFrame:
    """mapInPandas audio features over raw-PCM payloads: sample count,
    root-mean-square level, zero-crossing rate.  Real DSP end-to-end
    (decode_pcm16 is a true PCM decoder); Arrow-batched, one output row
    per input row, features shuffled instead of payloads.  Float results
    are emitted as fixed 6-decimal strings so the values are
    reproducible byte-for-byte across engines and partitionings."""

    def one(payload: str):
        return _audio_stats(decode_pcm16((payload or "").encode()))

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [one(p) for p in pdf["payload"].fillna("")]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_samples": [f[0] for f in feats],
                    "rms": [f[1] for f in feats],
                    "zcr": [f[2] for f in feats],
                }
            )

    return media.mapInPandas(process, AUDIO_FEATURE_SCHEMA)


def sample_frame_offsets(n_bytes: int, frame_bytes: int, n_frames: int) -> list[int]:
    """REAL uniform frame-sampling policy: byte offsets of ``n_frames``
    frames spread evenly over the payload (fewer when the payload holds
    fewer whole frames).  Pure arithmetic — the part of video sampling
    that is engine logic rather than codec work."""
    total = n_bytes // frame_bytes
    if total <= 0:
        return []
    k = min(n_frames, total)
    return [(i * total // k) * frame_bytes for i in range(k)]


VIDEO_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_frames_sampled", IntegerType()),
        StructField("frame_hashes", StringType()),  # '|'-joined blockhashes
    ]
)


def extract_video_features(media: DataFrame) -> DataFrame:
    """mapInPandas video plumbing: uniformly sample 4 frames of 768 bytes
    from each payload (real policy), decode each frame to 16x16 RGB
    (STUB — fake_decode_rgb, same single swap point as images), resize
    (real numpy) and blockhash (real published algorithm).  Emits compact
    per-frame hashes — the keyframe-dedup/similarity input — so binary
    payloads never shuffle."""

    def one(payload: str):
        data = (payload or "").encode()
        frame_bytes = 768
        offs = sample_frame_offsets(len(data), frame_bytes, 4)
        hashes = []
        for o in offs:
            frame = fake_decode_rgb(data[o : o + frame_bytes], 16, 16)
            hashes.append(blockhash_256(resize_rgb(frame, BLOCKHASH_BITS, BLOCKHASH_BITS)))
        return len(offs), "|".join(hashes)

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [one(p) for p in pdf["payload"].fillna("")]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_frames_sampled": [f[0] for f in feats],
                    "frame_hashes": [f[1] for f in feats],
                }
            )

    return media.mapInPandas(process, VIDEO_FEATURE_SCHEMA)
