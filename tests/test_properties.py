"""Property-based tests (hypothesis) for the pure kernels.

These pin the *invariants* the oracle-parity gate relies on — portable
rounding, portable hashing, codec-free media kernels — across thousands
of generated inputs, with no SparkSession in the example loop (so the
whole file runs in seconds).
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from puma_matcher_spark.functions.rounding import rewrite_rounds_sql
from puma_matcher_spark.llmdata.multimodal import (
    blockhash_256,
    decode_pcm16,
    resize_rgb,
    sample_frame_offsets,
)


# ---------------- portable rounding ----------------


@given(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), st.integers(0, 6))
@settings(max_examples=300, deadline=None)
def test_pround_formula_matches_duckdb(x, n):
    """The floor-based round formula must evaluate identically in Python
    and DuckDB on the same double — the exact property the oracle gate
    depends on for every float column."""
    s = float(10**n)
    py = math.floor(x * s + 0.5) / s
    (dk,) = duckdb.sql(f"SELECT FLOOR(CAST({x!r} AS DOUBLE) * {s} + 0.5) / {s}").fetchone()
    assert py == dk


@given(st.integers(0, 4))
@settings(max_examples=20, deadline=None)
def test_rewrite_rounds_handles_nesting(depth):
    """ROUND() rewriting must survive arbitrary nesting and leave no
    ROUND( behind, with balanced parentheses."""
    expr = "x"
    for _ in range(depth):
        expr = f"ROUND({expr} + SUM(a, {expr}), 4)"
    out = rewrite_rounds_sql(expr)
    assert "ROUND(" not in out
    assert out.count("(") == out.count(")")


# ---------------- portable hashing ----------------


@given(st.text(min_size=0, max_size=40))
@settings(max_examples=200, deadline=None)
def test_portable_hash60_matches_duckdb(s):
    """hash60 = first 15 md5 hex chars as int must agree between
    hashlib (what Spark's conv(substr(md5)) computes) and DuckDB's
    ('0x' || substr(md5, 1, 15))::BIGINT — the arithmetic every minhash
    and split bucket rides on."""
    py = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
    (dk,) = duckdb.execute(
        "SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT", [s]
    ).fetchone()
    assert py == dk


# ---------------- media kernels ----------------


@given(st.integers(1, 4), st.integers(1, 4), st.data())
@settings(max_examples=50, deadline=None)
def test_blockhash_shape_and_determinism(hb, wb, data):
    h, w = 16 * hb, 16 * wb
    raw = data.draw(
        st.binary(min_size=h * w * 3, max_size=h * w * 3)
    )
    px = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
    out = blockhash_256(px)
    assert len(out) == 64 and set(out) <= set("0123456789abcdef")
    assert blockhash_256(px.copy()) == out


@given(
    st.integers(1, 20),
    st.integers(1, 20),
    st.integers(1, 32),
    st.integers(1, 32),
)
@settings(max_examples=100, deadline=None)
def test_resize_rgb_shape_and_value_provenance(h, w, oh, ow):
    px = np.arange(h * w * 3, dtype=np.int64).reshape(h, w, 3) % 256
    out = resize_rgb(px, oh, ow)
    assert out.shape == (oh, ow, 3)
    # nearest-neighbour: every output pixel is some input pixel
    flat_in = {tuple(p) for p in px.reshape(-1, 3)}
    assert all(tuple(p) in flat_in for p in out.reshape(-1, 3))
    # same-size resize is identity
    assert (resize_rgb(px, h, w) == px).all()


@given(st.binary(min_size=0, max_size=64))
@settings(max_examples=200, deadline=None)
def test_decode_pcm16_roundtrip(payload):
    x = decode_pcm16(payload)
    assert x.size == len(payload) // 2
    assert x.tobytes() == payload[: x.size * 2]


@given(
    st.integers(1, 12),
    st.integers(1, 12),
    st.sampled_from([1, 3]),
    st.sampled_from([15, 63, 255, 1023, 65535]),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=150, deadline=None)
def test_decode_pnm_fuzz_roundtrip(h, w, nch, maxval, seed):
    """Netpbm decode over random sizes/depths/maxvals: output is always
    (h, w, 3) uint8, and rescaling to 0..255 inverts exactly for sample
    values that are exact multiples of maxval/255 (maxval=255: identity;
    maxval=65535: v*257 round-trips)."""
    from puma_matcher_spark.llmdata.multimodal import decode_image

    rng = np.random.default_rng(seed)
    magic = b"P6" if nch == 3 else b"P5"
    vals8 = rng.integers(0, 256, size=(h, w, nch), dtype=np.uint16)
    if maxval == 255:
        body = vals8.astype(np.uint8).tobytes()
        expect = vals8.astype(np.uint8)
    elif maxval == 65535:
        body = (vals8 * 257).astype(">u2").tobytes()
        expect = vals8.astype(np.uint8)
    else:
        raw = rng.integers(0, maxval + 1, size=(h, w, nch), dtype=np.uint16)
        body = (
            raw.astype(">u2").tobytes()
            if maxval > 255
            else raw.astype(np.uint8).tobytes()
        )
        expect = np.round(raw.astype(np.float64) * 255.0 / maxval).astype(
            np.uint8
        )
    payload = magic + b"\n%d %d\n%d\n" % (w, h, maxval) + body
    out = decode_image(payload)
    assert out.shape == (h, w, 3)
    assert out.dtype == np.uint8
    if nch == 3:
        assert np.array_equal(out, expect)
    else:
        for c in range(3):
            assert np.array_equal(out[:, :, c], expect[:, :, 0])


@given(st.integers(0, 10_000), st.integers(1, 500), st.integers(1, 16))
@settings(max_examples=300, deadline=None)
def test_frame_offsets_invariants(n_bytes, frame_bytes, n_frames):
    offs = sample_frame_offsets(n_bytes, frame_bytes, n_frames)
    total = n_bytes // frame_bytes
    assert len(offs) == min(n_frames, total)
    # strictly increasing, frame-aligned, every frame fully inside payload
    assert all(b > a for a, b in zip(offs, offs[1:]))
    assert all(o % frame_bytes == 0 for o in offs)
    assert all(o + frame_bytes <= n_bytes for o in offs)


@given(
    st.integers(1, 24),
    st.integers(1, 24),
    st.sampled_from([2, 4, 16, 256]),
    st.booleans(),
    st.booleans(),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=60, deadline=None)
def test_decode_gif_fuzz_roundtrip(h, w, npal, interlace, local, seed):
    """GIF LZW round-trip over random sizes, palette widths, interlace
    and table placement — decode must reproduce palette[idx] exactly."""
    from tests.test_multimodal import _gif_bytes
    from puma_matcher_spark.llmdata.multimodal import decode_image

    rng = np.random.default_rng(seed)
    palette = rng.integers(0, 256, size=(npal, 3), dtype=np.uint8)
    idx = rng.integers(0, npal, size=(h, w), dtype=np.uint8)
    blob = _gif_bytes(idx, palette, interlace=interlace, local_table=local)
    assert np.array_equal(decode_image(blob), palette[idx])


@given(
    st.integers(1, 20),
    st.integers(1, 20),
    st.sampled_from([None, 2, 5, 14, 200]),
    st.booleans(),
    st.booleans(),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=60, deadline=None)
def test_decode_vp8l_fuzz_roundtrip(h, w, npal, sg, cache, seed):
    """VP8L round-trip over random sizes/palettes/feature mixes —
    lossless, so decode must reproduce the pixels exactly."""
    from tests.test_vp8l import encode_vp8l
    from puma_matcher_spark.llmdata.vp8l import decode_webp

    rng = np.random.default_rng(seed)
    if npal is None:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    else:
        pal = rng.integers(0, 256, size=(npal, 3), dtype=np.uint8)
        px = pal[rng.integers(0, npal, size=(h, w))]
    blob = encode_vp8l(
        px,
        subtract_green=sg,
        cache_bits=5 if cache else 0,
        backrefs=bool(npal and npal <= 14),
        palette=bool(npal and npal <= 14 and not sg),
    )
    assert np.array_equal(decode_webp(blob), px)


# ---- 128-bit SimHash kernel (round 7) --------------------------------------

def _simhash128_bigint(text: str) -> tuple[int, int]:
    """Independent reference: same definition in pure big-int Python
    (no numpy, no vectorization) — any uint64 overflow/sign bug in the
    production kernel diverges from this."""
    import hashlib
    from collections import Counter

    toks = [t for t in (text or "").lower().split(" ") if t]
    if not toks:
        return 0, 0
    tf = Counter(toks)
    out = []
    for sl in (slice(0, 16), slice(16, 32)):
        votes = [0] * 64
        for t, c in tf.items():
            h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[sl], 16)
            for b in range(64):
                votes[b] += c if (h >> b) & 1 else -c
        word = sum(1 << b for b in range(64) if votes[b] > 0)
        out.append(word - (1 << 64) if word >= (1 << 63) else word)
    return tuple(out)


#: space-free tokens (empty ones included) joined by single spaces —
#: repeated tokens, empty text and non-ASCII all occur
_TOKEN_LISTS = st.lists(
    st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs",), blacklist_characters=" "
        ),
        min_size=0,
        max_size=8,
    ),
    min_size=0,
    max_size=30,
)


@given(_TOKEN_LISTS)
@settings(max_examples=150, deadline=None)
def test_simhash128_kernel_matches_bigint_reference(tokens):
    from puma_matcher_spark.llmdata.dedup import simhash128_one

    text = " ".join(tokens)
    got = simhash128_one(text)
    want = _simhash128_bigint(text)
    assert got == want
    # halves are signed 64-bit
    assert all(-(1 << 63) <= h <= (1 << 63) - 1 for h in got)


# ---- 64-bit SimHash kernel -------------------------------------------------

def _simhash64_bigint(text: str) -> int:
    """Independent reference for ``simhash64_one`` in pure big-int
    Python: hash60 = the first 15 hex chars of the token's md5, ±tf
    votes per bit, a set bit for every positive vote."""
    from collections import Counter

    toks = [t for t in (text or "").lower().split(" ") if t]
    votes = [0] * 60
    for t, c in Counter(toks).items():
        h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
        for b in range(60):
            votes[b] += c if (h >> b) & 1 else -c
    return sum(1 << b for b in range(60) if votes[b] > 0)


@given(_TOKEN_LISTS)
@settings(max_examples=150, deadline=None)
def test_simhash64_kernel_matches_bigint_reference(tokens):
    from puma_matcher_spark.llmdata.dedup import simhash64_one

    text = " ".join(tokens)
    got = simhash64_one(text)
    assert got == _simhash64_bigint(text)
    # a 60-bit fingerprint: always a non-negative long
    assert 0 <= got < (1 << 60)
