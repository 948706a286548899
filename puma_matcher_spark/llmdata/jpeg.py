"""Baseline JPEG (ITU T.81 sequential DCT, JFIF) decoder in pure
numpy — closes the last stubbed codec in the media plane (S7).

The reference's picture pipeline shells out to Python-with-PIL per row
(PictureHashAnalyser2.scala:48-125); this container has no PIL/opencv,
so rounds 1-3 kept JPEG behind an honest ``NotImplementedError``.  The
baseline profile is, however, implementable from the public spec with
nothing beyond numpy:

* marker parse  — DQT / DHT / SOF0 / SOS / DRI, APPn/COM skipped;
* entropy layer — canonical Huffman decode over the byte-unstuffed
  scan, per-component DC prediction, AC run-length with ZRL/EOB,
  restart-interval resets;
* transform     — dequantize, inverse zigzag, separable float IDCT
  (the 8×8 DCT-II basis as one matrix product per side);
* color         — per-SOF sampling factors (4:4:4 / 4:2:2 / 4:2:0),
  nearest-neighbour chroma upsample, JFIF YCbCr→RGB.

Supported: 8-bit baseline sequential (SOF0) AND progressive (SOF2 —
spectral selection + successive approximation, DC/AC first and
refinement scans with EOB-run semantics per T.81 §G.2), 1 or 3
components, any sampling factors, optional restart markers.  Lossless /
hierarchical SOFs, arithmetic coding, and 12-bit precision raise
``NotImplementedError``.

Decoding is deterministic (pure float ops in fixed order), so media
fingerprints built on it are reproducible across executors — the same
contract as the PNG/netpbm/BMP decoders in ``multimodal.py``.
"""

from __future__ import annotations

import numpy as np

# zigzag order: index i of the scan → (row, col) in the 8×8 block
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# orthonormal 8-point DCT-II basis: D[u, x] = c(u)/2 · cos((2x+1)uπ/16)
_D = np.array(
    [
        [
            (np.sqrt(0.125) if u == 0 else 0.5)
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def idct2(block: np.ndarray) -> np.ndarray:
    """2-D inverse DCT of one 8×8 coefficient block."""
    return _D.T @ block @ _D


def fdct2(block: np.ndarray) -> np.ndarray:
    """2-D forward DCT (the encoder/test-side inverse of :func:`idct2`)."""
    return _D @ block @ _D.T


class HuffmanTable:
    """Canonical Huffman table from a DHT segment (bits + values).

    ``fast`` maps every 8-bit stream prefix to (symbol, length) for
    codes of ≤ 8 bits — the overwhelmingly common case — so the decode
    hot path is one dict hit instead of a bit-by-bit walk."""

    def __init__(self, counts: list[int], symbols: bytes):
        self.lookup: dict[tuple[int, int], int] = {}
        self.fast: dict[int, tuple[int, int]] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                self.lookup[(length, code)] = symbols[k]
                if length <= 8:
                    base = code << (8 - length)
                    for i in range(1 << (8 - length)):
                        self.fast[base | i] = (symbols[k], length)
                code += 1
                k += 1
            code <<= 1


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment with 0xFF00
    unstuffing; restart markers are handled by the caller via resync."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0

    def _fill(self) -> None:
        # drop consumed high bits first — without this the buffer grows
        # into an unbounded bignum over a long scan and every shift
        # becomes O(stream length)
        self.bitbuf &= (1 << self.nbits) - 1
        d = self.data
        if self.pos >= len(d):
            raise ValueError("truncated JPEG entropy stream")
        b = d[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(d):
                raise ValueError("truncated JPEG entropy stream")
            nxt = d[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2  # stuffed 0xFF data byte
            elif 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker(nxt)
            else:
                # EOI or stray marker: pad with 1-bits per spec behaviour
                self.bitbuf = (self.bitbuf << 8) | 0xFF
                self.nbits += 8
                return
        else:
            self.pos += 1
        self.bitbuf = (self.bitbuf << 8) | b
        self.nbits += 8

    def _prefetch(self) -> None:
        """Opportunistically buffer plain data bytes (consuming FF00
        stuffing) WITHOUT crossing a marker — markers stay in place for
        ``_fill``'s raise/pad handling, so semantics are unchanged.
        Runs of marker-free bytes load in ONE ``int.from_bytes`` bulk
        step, located with ``bytes.find``."""
        d = self.data
        n = len(d)
        p = self.pos
        buf = self.bitbuf & ((1 << self.nbits) - 1)  # trim consumed bits
        nb = self.nbits
        while nb <= 48:
            if p >= n:
                break
            q = d.find(0xFF, p, p + 7)
            if q == p:
                if p + 1 < n and d[p + 1] == 0x00:
                    buf = (buf << 8) | 0xFF
                    nb += 8
                    p += 2
                    continue
                break  # marker (or truncation): slow path decides
            if q == -1:
                q = min(p + 7, n)
            k = q - p
            buf = (buf << (8 * k)) | int.from_bytes(d[p:q], "big")
            nb += 8 * k
            p = q
        self.bitbuf = buf
        self.nbits = nb
        self.pos = p

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def bits(self, n: int) -> int:
        if self.nbits < n:
            self._prefetch()
        if self.nbits >= n:
            self.nbits -= n
            return (self.bitbuf >> self.nbits) & ((1 << n) - 1)
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def extend_bits(self, n: int) -> int:
        """Read ``n`` bits and sign-extend them (T.81 F.2.2.1 EXTEND) in one
        step — the per-coefficient hot path."""
        if n == 0:
            return 0
        if self.nbits < n:
            self._prefetch()
        if self.nbits >= n:
            self.nbits -= n
            v = (self.bitbuf >> self.nbits) & ((1 << n) - 1)
        else:
            v = 0
            for _ in range(n):
                v = (v << 1) | self.bit()
        if v < (1 << (n - 1)):
            return v - (1 << n) + 1
        return v

    def resync(self) -> None:
        """Drop partial bits and skip the restart marker itself."""
        self.bitbuf = 0
        self.nbits = 0
        # pos currently sits AT the 0xFF of the restart marker
        self.pos += 2

    def decode_block(self, dc_t, ac_t, pred: int, coef) -> int | None:
        """Fused fast path: decode ONE baseline 8×8 block (DC diff + AC
        run-length) into ``coef`` with all state in locals.  Returns the
        new DC predictor, or None — meaning the fast path could not
        finish (marker nearby, >8-bit code, corrupt index); the reader
        state is then UNCHANGED so the caller re-decodes the same block
        through the generic methods, which own all edge-case handling.
        """
        data = self.data
        n = len(data)
        buf = self.bitbuf
        nb = self.nbits
        p = self.pos
        fast_dc = dc_t.fast
        fast_ac = ac_t.fast

        def fill(want: int) -> bool:
            nonlocal buf, nb, p
            buf &= (1 << nb) - 1  # trim consumed bits
            while nb < want:
                if p >= n:
                    return False
                q = data.find(0xFF, p, p + 7)
                if q == p:
                    if p + 1 < n and data[p + 1] == 0:
                        buf = (buf << 8) | 0xFF
                        nb += 8
                        p += 2
                        continue
                    return False  # marker: generic path handles it
                if q == -1:
                    q = min(p + 7, n)
                k = q - p
                buf = (buf << (8 * k)) | int.from_bytes(data[p:q], "big")
                nb += 8 * k
                p = q
            return True

        if not fill(19):  # ≤8-bit DC code + ≤11 magnitude bits
            return None
        hit = fast_dc.get((buf >> (nb - 8)) & 0xFF)
        if hit is None:
            return None
        s, ln = hit
        nb -= ln
        if s:
            if nb < s and not fill(s):
                return None
            nb -= s
            v = (buf >> nb) & ((1 << s) - 1)
            pred += v if v >= (1 << (s - 1)) else v - (1 << s) + 1
        coef[0] = pred
        k = 1
        while k < 64:
            if nb < 18 and not fill(18):  # ≤8-bit AC code + ≤10 mag
                return None
            hit = fast_ac.get((buf >> (nb - 8)) & 0xFF)
            if hit is None:
                return None
            rs, ln = hit
            nb -= ln
            s = rs & 0x0F
            if s == 0:
                if rs >> 4 != 15:
                    break  # EOB
                k += 16  # ZRL
                continue
            k += rs >> 4
            if k > 63:
                return None  # generic path raises the proper error
            if nb < s and not fill(s):
                return None
            nb -= s
            v = (buf >> nb) & ((1 << s) - 1)
            coef[k] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
            k += 1
        self.bitbuf = buf
        self.nbits = nb
        self.pos = p
        return pred

    def decode(self, table: HuffmanTable) -> int:
        if self.nbits < 8:
            self._prefetch()
        if self.nbits >= 8:
            hit = table.fast.get((self.bitbuf >> (self.nbits - 8)) & 0xFF)
            if hit is not None:
                sym, ln = hit
                self.nbits -= ln
                return sym
        length = 0
        code = 0
        while length < 16:
            code = (code << 1) | self.bit()
            length += 1
            sym = table.lookup.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG huffman code")


class _RestartMarker(Exception):
    def __init__(self, marker: int):
        self.marker = marker


def _parse_dqt(seg: bytes, qtables: dict) -> None:
    """DQT segment → quantization tables (zigzag order, 8/16-bit)."""
    p = 0
    while p < len(seg):
        prec, tid = seg[p] >> 4, seg[p] & 0x0F
        p += 1
        if prec == 0:
            qtables[tid] = np.frombuffer(seg, np.uint8, 64, p).astype(np.int32)
            p += 64
        else:
            qtables[tid] = np.frombuffer(seg, ">u2", 64, p).astype(np.int32)
            p += 128


def _parse_dht(seg: bytes, htables: dict) -> None:
    """DHT segment → canonical Huffman tables keyed (class, id)."""
    p = 0
    while p < len(seg):
        tc, th = seg[p] >> 4, seg[p] & 0x0F
        counts = list(seg[p + 1 : p + 17])
        nsym = sum(counts)
        htables[(tc, th)] = HuffmanTable(counts, seg[p + 17 : p + 17 + nsym])
        p += 17 + nsym


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode baseline JPEG bytes to (height, width, 3) uint8 RGB."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], HuffmanTable] = {}  # (class, id)
    frame = None
    restart_interval = 0
    n = len(payload)
    while pos < n:
        if pos + 1 >= n:
            raise ValueError("truncated JPEG stream (no EOI)")
        if payload[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        seglen = int.from_bytes(payload[pos : pos + 2], "big")
        if seglen < 2 or pos + seglen > n:
            raise ValueError("truncated JPEG segment")
        seg = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            _parse_dqt(seg, qtables)
        elif marker == 0xC4:  # DHT
            _parse_dht(seg, htables)
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 progressive
            prec = seg[0]
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG not supported")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
            frame = {"h": h, "w": w, "comps": comps,
                     "progressive": marker == 0xC2}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                f"JPEG SOF{marker - 0xC0}: only sequential (SOF0/1) and "
                "progressive (SOF2) huffman profiles are supported"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS — entropy-coded data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            if frame["progressive"]:
                return _decode_progressive(
                    payload, pos, seg, frame, qtables, htables,
                    restart_interval,
                )
            ns = seg[0]
            scan_tables = {}
            for c in range(ns):
                cid, tdta = seg[1 + 2 * c : 3 + 2 * c]
                scan_tables[cid] = (tdta >> 4, tdta & 0x0F)
            return _decode_scan(
                payload,
                pos + seglen,
                frame,
                qtables,
                htables,
                scan_tables,
                restart_interval,
            )
        pos += seglen
    raise ValueError("JPEG contained no scan")


def _decode_scan(
    data: bytes,
    pos: int,
    frame: dict,
    qtables: dict,
    htables: dict,
    scan_tables: dict,
    restart_interval: int,
) -> np.ndarray:
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = []
    for c in comps:
        planes.append(
            np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64)
        )
    reader = _BitReader(data, pos)
    preds = [0] * len(comps)
    mcu_done = 0
    my = mx = 0
    while my < mcuy:
        try:
            for ci, c in enumerate(comps):
                dc_t = htables[(0, scan_tables[c["id"]][0])]
                ac_t = htables[(1, scan_tables[c["id"]][1])]
                q = qtables[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coef = np.zeros(64, dtype=np.int32)
                        new_pred = reader.decode_block(
                            dc_t, ac_t, preds[ci], coef
                        )
                        if new_pred is not None:
                            preds[ci] = new_pred
                        else:
                            # generic path: near markers / long codes
                            coef[:] = 0
                            s = reader.decode(dc_t)
                            diff = reader.extend_bits(s)
                            preds[ci] += diff
                            coef[0] = preds[ci]
                            k = 1
                            while k < 64:
                                rs = reader.decode(ac_t)
                                r, s = rs >> 4, rs & 0x0F
                                if s == 0:
                                    if r == 15:
                                        k += 16  # ZRL
                                        continue
                                    break  # EOB
                                k += r
                                if k > 63:
                                    raise ValueError("AC index overflow")
                                coef[k] = reader.extend_bits(s)
                                k += 1
                        block = np.zeros(64, dtype=np.float64)
                        block[ZIGZAG] = coef * q
                        px = idct2(block.reshape(8, 8)) + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = px
            mcu_done += 1
            mx += 1
            if mx == mcux:
                mx = 0
                my += 1
            if (
                restart_interval
                and mcu_done % restart_interval == 0
                and my < mcuy
            ):
                reader.resync()
                preds = [0] * len(comps)
        except _RestartMarker:
            # tolerate encoder-side early restarts: resync and continue
            reader.resync()
            preds = [0] * len(comps)
    return _assemble_rgb(planes, frame, hmax, vmax)


def _assemble_rgb(
    planes: list[np.ndarray], frame: dict, hmax: int, vmax: int
) -> np.ndarray:
    """Upsample component planes to full resolution, crop, and apply the
    JFIF YCbCr→RGB transform (shared by the sequential and progressive
    paths)."""
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    out_planes = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        # nearest-neighbour upsample to full resolution, crop to (h, w)
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        out_planes.append(p[:h, :w])
    if len(out_planes) == 1:
        g = np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    y, cb, cr = out_planes[0], out_planes[1] - 128.0, out_planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# --------------------------------------------------------------------------
# Progressive mode (SOF2) — T.81 §G.  Scans deposit quantized coefficients
# into per-component stores (zigzag order); reconstruction happens once,
# after the last scan, as a vectorized dequant + IDCT.
# --------------------------------------------------------------------------


def _skip_to_marker(payload: bytes, pos: int) -> int:
    """Advance past any leftover entropy bytes to the next real marker
    (skipping stuffed FF00 and stray restart markers)."""
    n = len(payload)
    while pos < n - 1:
        if payload[pos] != 0xFF:
            pos += 1
            continue
        nxt = payload[pos + 1]
        if nxt == 0x00:
            pos += 2
        elif 0xD0 <= nxt <= 0xD7:
            pos += 2
        elif nxt == 0xFF:  # fill byte before a marker
            pos += 1
        else:
            return pos
    raise ValueError("truncated JPEG stream (no EOI)")


def _decode_progressive(
    payload: bytes,
    sos_pos: int,
    sos_seg: bytes,
    frame: dict,
    qtables: dict,
    htables: dict,
    restart_interval: int,
) -> np.ndarray:
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # zigzag-order coefficient store per component, padded to the MCU grid
    coefs = [
        np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int32)
        for c in comps
    ]
    n = len(payload)
    pos, seg = sos_pos, sos_seg
    while True:
        seglen = int.from_bytes(payload[pos : pos + 2], "big")
        end = _decode_progressive_scan(
            payload, pos + seglen, seg, frame, coefs, htables,
            restart_interval, mcux, mcuy, hmax, vmax,
        )
        # parse markers until the next SOS (tables may be redefined
        # between scans) or EOI
        pos = _skip_to_marker(payload, end)
        seg = None
        while seg is None:
            if pos + 1 >= n:
                raise ValueError("truncated JPEG stream (no EOI)")
            marker = payload[pos + 1]
            pos += 2
            if marker == 0xD9:  # EOI — all scans consumed
                return _reconstruct_progressive(
                    frame, coefs, qtables, hmax, vmax
                )
            if marker == 0x01 or 0xD0 <= marker <= 0xD7 or marker == 0xD8:
                continue
            if pos + 1 >= n:
                raise ValueError("truncated JPEG stream (no EOI)")
            seglen = int.from_bytes(payload[pos : pos + 2], "big")
            if seglen < 2 or pos + seglen > n:
                raise ValueError("truncated JPEG segment")
            body = payload[pos + 2 : pos + seglen]
            if marker == 0xC4:  # DHT between scans
                _parse_dht(body, htables)
            elif marker == 0xDB:  # DQT between scans
                _parse_dqt(body, qtables)
            elif marker == 0xDD:
                restart_interval = int.from_bytes(body[0:2], "big")
            elif marker == 0xDA:
                seg = body
                continue  # outer loop decodes it (pos already at length)
            pos += seglen
        # seg set: pos sits at the SOS length field, matching loop entry


def _decode_progressive_scan(
    payload: bytes,
    data_pos: int,
    seg: bytes,
    frame: dict,
    coefs: list[np.ndarray],
    htables: dict,
    restart_interval: int,
    mcux: int,
    mcuy: int,
    hmax: int,
    vmax: int,
) -> int:
    """Decode ONE progressive scan into ``coefs``; returns the byte
    position where the entropy data ended."""
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    ns = seg[0]
    scan_comps = []  # (comp_index, comp, dc_table_id, ac_table_id)
    by_id = {c["id"]: i for i, c in enumerate(comps)}
    for k in range(ns):
        cid, tdta = seg[1 + 2 * k : 3 + 2 * k]
        scan_comps.append((by_id[cid], comps[by_id[cid]], tdta >> 4, tdta & 0x0F))
    ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
    ahal = seg[3 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0x0F
    if ss == 0 and se != 0:
        raise ValueError("progressive scan mixes DC and AC bands")
    if ss > 0 and ns != 1:
        raise ValueError("progressive AC scan must be single-component")
    if se > 63 or ss > 63 or (ah and ah != al + 1):
        raise ValueError("bad progressive scan header")
    reader = _BitReader(payload, data_pos)
    state = {"eobrun": 0, "preds": [0] * len(comps)}

    def reset() -> None:
        state["eobrun"] = 0
        state["preds"] = [0] * len(comps)

    if ss == 0 and ns > 1:
        units = _dc_scan_units(scan_comps, mcux, mcuy)
    elif ss == 0:
        # single-component DC scan is non-interleaved: the component's
        # own ceil grid, exactly like AC scans (T.81 §A.2.2)
        units = (
            [(ci, by, bx, dt)]
            for ci, by, bx, dt in _noninterleaved_units(
                scan_comps[0][0], scan_comps[0][1], scan_comps[0][2],
                frame, hmax, vmax,
            )
        )
    else:
        units = _noninterleaved_units(
            scan_comps[0][0], scan_comps[0][1], scan_comps[0][3],
            frame, hmax, vmax,
        )
    done = 0
    it = iter(units)
    unit = next(it, None)
    while unit is not None:
        try:
            if ss == 0:
                _decode_dc_unit(reader, unit, coefs, htables, state, ah, al)
            else:
                _decode_ac_unit(
                    reader, unit, coefs, htables, state, ss, se, ah, al
                )
            done += 1
            unit = next(it, None)
            if (
                restart_interval
                and unit is not None
                and done % restart_interval == 0
            ):
                reader.resync()
                reset()
        except _RestartMarker:
            reader.resync()
            reset()
    return reader.pos


def _dc_scan_units(scan_comps, mcux: int, mcuy: int):
    """Interleaved DC scans walk MCU order; each unit is a list of
    (comp_index, by, bx, dc_table_id) block refs."""
    for my in range(mcuy):
        for mx in range(mcux):
            unit = []
            for ci, c, dt, _at in scan_comps:
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        unit.append((ci, my * c["v"] + by, mx * c["h"] + bx, dt))
            yield unit


def _noninterleaved_units(ci, c, table_id, frame: dict, hmax: int, vmax: int):
    """Non-interleaved scans are raster order over the component's OWN
    block grid (ceil of its scaled dimensions, not the MCU padding)."""
    cw = -(-frame["w"] * c["h"] // hmax)
    ch = -(-frame["h"] * c["v"] // vmax)
    for by in range(-(-ch // 8)):
        for bx in range(-(-cw // 8)):
            yield (ci, by, bx, table_id)


def _decode_dc_unit(reader, unit, coefs, htables, state, ah: int, al: int):
    for ci, by, bx, dt in unit:
        block = coefs[ci][by, bx]
        if ah == 0:  # first DC pass: DPCM of the point-transformed value
            s = reader.decode(htables[(0, dt)])
            diff = reader.extend_bits(s)
            state["preds"][ci] += diff
            block[0] = state["preds"][ci] << al
        else:  # refinement: one magnitude bit per block
            if reader.bit():
                block[0] |= 1 << al


def _decode_ac_unit(reader, unit, coefs, htables, state, ss, se, ah, al):
    ci, by, bx, at = unit
    block = coefs[ci][by, bx]
    table = htables[(1, at)]
    if ah == 0:
        _ac_first(reader, block, table, state, ss, se, al)
    else:
        _ac_refine(reader, block, table, state, ss, se, al)


def _ac_first(reader, block, table, state, ss, se, al):
    """T.81 G.2.2: run-length decode of newly significant coefficients,
    with end-of-band runs spanning whole blocks."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = reader.decode(table)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r < 15:
                state["eobrun"] = (1 << r) - 1
                if r:
                    state["eobrun"] += reader.bits(r)
                return
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("progressive AC index overflow")
        block[k] = reader.extend_bits(s) << al
        k += 1


def _ac_refine(reader, block, table, state, ss, se, al):
    """T.81 G.2.3 successive-approximation refinement: correction bits
    for already-nonzero coefficients, ±1<<Al insertions for new ones.

    Hot path: the band is copied to a plain list once and written back
    once — numpy scalar indexing per correction bit costs more than the
    whole arithmetic."""
    p1 = 1 << al
    m1 = -1 << al
    vals = block[ss : se + 1].tolist()
    end = se - ss
    bit = reader.bit
    k = 0
    if state["eobrun"] == 0:
        while k <= end:
            rs = reader.decode(table)
            r, s = rs >> 4, rs & 0x0F
            newval = 0
            if s:
                if s != 1:
                    raise ValueError("bad magnitude in AC refinement scan")
                newval = p1 if bit() else m1
            elif r < 15:
                state["eobrun"] = 1 << r
                if r:
                    state["eobrun"] += reader.bits(r)
                break  # remaining band handled by the EOB branch below
            # advance r zero-history positions, correcting nonzero ones
            while k <= end:
                v = vals[k]
                if v:
                    if bit() and not (v & p1):
                        vals[k] = v + (p1 if v >= 0 else m1)
                else:
                    r -= 1
                    if r < 0:
                        break
                k += 1
            if newval and k <= end:
                vals[k] = newval
            k += 1
    if state["eobrun"] > 0:
        while k <= end:
            v = vals[k]
            if v and bit() and not (v & p1):
                vals[k] = v + (p1 if v >= 0 else m1)
            k += 1
        state["eobrun"] -= 1
    block[ss : se + 1] = vals


def _reconstruct_progressive(frame, coefs, qtables, hmax, vmax):
    """One vectorized dequant + inverse-zigzag + IDCT per component."""
    comps = frame["comps"]
    planes = []
    for ci, c in enumerate(comps):
        q = qtables[c["tq"]].astype(np.float64)  # zigzag order
        blocks = coefs[ci].astype(np.float64) * q  # (by, bx, 64)
        nat = np.zeros_like(blocks)
        nat[..., ZIGZAG] = blocks
        by, bx = nat.shape[:2]
        nat = nat.reshape(by, bx, 8, 8)
        px = _D.T @ nat @ _D + 128.0  # broadcast IDCT over all blocks
        planes.append(
            px.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        )
    return _assemble_rgb(planes, frame, hmax, vmax)
