"""Baseline JPEG codec: hand-packed bitstream literals decoded against
hand-computed pixel values and a TEXTBOOK O(N^4) IDCT implemented here
(independent of the module's matrix form — the shared-kernel
blind-spot rule: the codec must never be its own oracle)."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest

from ai_pdf_extraction_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg

# The fixed-length tables the literals below assume (written out as
# independent literals, NOT imported from the module): DC categories
# 0..11 as 4-bit codes 0..11; AC symbols [EOB, ZRL, (r,s) r=0..15
# s=1..10] as 8-bit codes 0..161.
_DC_BITS = bytes([0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0])
_DC_VALS = bytes(range(12))
_AC_VALS = bytes([0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)])
_AC_BITS = bytes([0, 0, 0, 0, 0, 0, 0, len(_AC_VALS), 0, 0, 0, 0, 0, 0, 0, 0])


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _tables(n_qt: int = 1) -> bytes:
    """DQT (all-ones → dequantization is identity) + the two DHTs."""
    out = b""
    for tid in range(n_qt):
        out += _seg(0xDB, bytes([tid]) + b"\x01" * 64)
    out += _seg(0xC4, bytes([0x00]) + _DC_BITS + _DC_VALS)
    out += _seg(0xC4, bytes([0x10]) + _AC_BITS + _AC_VALS)
    return out


def _gray_jpeg(w: int, h: int, scan: bytes) -> bytes:
    return (
        b"\xff\xd8"
        + _tables()
        + _seg(0xC0, b"\x08" + struct.pack(">HH", h, w) + b"\x01\x01\x11\x00")
        + _seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
        + scan
        + b"\xff\xd9"
    )


def _ref_idct(coeffs: list[list[float]]) -> list[list[float]]:
    """Textbook T.81 A.3.3 IDCT — double loop, math.cos, no numpy
    matrices shared with the module."""
    out = [[0.0] * 8 for _ in range(8)]
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                for u in range(8):
                    cu = 1 / math.sqrt(2) if u == 0 else 1.0
                    cv = 1 / math.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv / 4.0 * coeffs[v][u]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            out[y][x] = s
    return out


def test_hand_packed_dc_only_block():
    """8×8 grayscale, DC=+10, q=1: every pixel is exactly
    round(10/8 + 128) = 129 — hand arithmetic, no encoder involved.
    Scan bits: DC cat4 '0100' + magnitude '1010' + EOB '00000000'."""
    data = _gray_jpeg(8, 8, bytes([0x4A, 0x00]))
    dec = decode_jpeg(data)
    assert (dec["width"], dec["height"], dec["channels"]) == (8, 8, 1)
    assert dec["pixels"] == bytes([129]) * 64

    # negative DC: cat4, value −10 → magnitude bits 0101;
    # pixel = round(−1.25 + 128) = 127
    dec = decode_jpeg(_gray_jpeg(8, 8, bytes([0x45, 0x00])))
    assert dec["pixels"] == bytes([127]) * 64


def test_hand_packed_ac_coefficient_vs_textbook_idct():
    """DC=0 plus one AC coefficient (zigzag k=1 → F[0][1] = 16),
    verified pixel-for-pixel against the textbook IDCT above.
    Bits: DC cat0 '0000', AC (run0,size5) code 6 '00000110',
    magnitude '10000', EOB '00000000', pad 7 ones."""
    scan = bytes([0b00000000, 0b01101000, 0b00000000, 0b01111111])
    dec = decode_jpeg(_gray_jpeg(8, 8, scan))
    coeffs = [[0.0] * 8 for _ in range(8)]
    coeffs[0][1] = 16.0  # natural order [v][u]: u=1, v=0
    ref = _ref_idct(coeffs)
    expected = bytes(
        int(min(max(round(ref[y][x] + 128), 0), 255))
        for y in range(8)
        for x in range(8)
    )
    assert dec["pixels"] == expected
    # and the row profile is the cosine ramp: monotone decreasing
    row = list(dec["pixels"][:8])
    assert row == sorted(row, reverse=True) and row[0] > 128 > row[-1]


def test_hand_packed_restart_markers():
    """16×8 grayscale, DRI=1: MCU0 (DC +10 → 129) is exactly 2 bytes,
    then RST0, then MCU1 whose DC pred must RESET (cat5 +16 → 130,
    not 129+16)."""
    data = (
        b"\xff\xd8"
        + _tables()
        + _seg(0xC0, b"\x08" + struct.pack(">HH", 8, 16) + b"\x01\x01\x11\x00")
        + _seg(0xDD, struct.pack(">H", 1))
        + _seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
        + bytes([0x4A, 0x00])
        + b"\xff\xd0"
        + bytes([0x58, 0x00, 0x7F])
        + b"\xff\xd9"
    )
    dec = decode_jpeg(data)
    px = np.frombuffer(dec["pixels"], np.uint8).reshape(8, 16)
    assert (px[:, :8] == 129).all()
    assert (px[:, 8:] == 130).all()


def test_hand_packed_color_444():
    """8×8 YCbCr 4:4:4, flat blocks (Y=+10, Cb=0, Cr=−20), q=1:
    RGB computed by hand with the JFIF matrix.
    Y scan: cat4 '0100'+'1010'+EOB; Cb: cat0 '0000'+EOB;
    Cr: cat5 '0101'+'01011'+EOB."""
    sof = (
        b"\x08" + struct.pack(">HH", 8, 8) + b"\x03"
        + b"\x01\x11\x00" + b"\x02\x11\x01" + b"\x03\x11\x01"
    )
    sos = b"\x03\x01\x00\x02\x00\x03\x00\x00\x3f\x00"
    bits = (
        "0100" "1010" "00000000"      # Y
        "0000" "00000000"              # Cb
        "0101" "01011" "00000000"      # Cr
    )
    bits += "1" * (-len(bits) % 8)
    scan = int(bits, 2).to_bytes(len(bits) // 8, "big")
    data = (
        b"\xff\xd8" + _tables(n_qt=2) + _seg(0xC0, sof) + _seg(0xDA, sos)
        + scan + b"\xff\xd9"
    )
    dec = decode_jpeg(data)
    assert dec["channels"] == 3
    y, cb, cr = 10 / 8 + 128, 0.0, -20 / 8
    exp = (
        int(round(y + 1.402 * cr)),
        int(round(y - 0.344136 * cb - 0.714136 * cr)),
        int(round(y + 1.772 * cb)),
    )
    px = np.frombuffer(dec["pixels"], np.uint8).reshape(8, 8, 3)
    assert tuple(px[0, 0]) == exp == (126, 131, 129)
    assert (px == px[0, 0]).all()


def test_progressive_matches_baseline_pixels():
    """Spectral-selection progressive (SOF2: DC scan + per-component
    AC scans) must decode to pixels IDENTICAL to the baseline encode
    of the same image — same quantized coefficients, different scan
    order."""
    rng = np.random.default_rng(3)
    for (w, h, ch) in ((16, 8, 1), (33, 24, 1), (19, 17, 3), (24, 16, 3)):
        img = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        base = decode_jpeg(encode_jpeg(w, h, ch, img.tobytes(), quality=85))
        prog_bytes = encode_jpeg(
            w, h, ch, img.tobytes(), quality=85, progressive=True
        )
        assert b"\xff\xc2" in prog_bytes  # really SOF2
        prog = decode_jpeg(prog_bytes)
        assert base["pixels"] == prog["pixels"], (w, h, ch)


def _prog_gray(w, h, scans, ac_vals=_AC_VALS):
    """Hand-assembled progressive grayscale JPEG: (ss, se, ah_al,
    scan_bytes) tuples after shared all-ones DQT + DHTs."""
    ac_bits = bytearray(16)
    ac_bits[7] = len(ac_vals)
    out = (
        b"\xff\xd8"
        + _seg(0xDB, bytes([0]) + b"\x01" * 64)
        + _seg(0xC4, bytes([0x00]) + _DC_BITS + _DC_VALS)
        + _seg(0xC4, bytes([0x10]) + bytes(ac_bits) + ac_vals)
        + _seg(0xC2, b"\x08" + struct.pack(">HH", h, w) + b"\x01\x01\x11\x00")
    )
    for ss, se, ah_al, scan in scans:
        out += _seg(0xDA, bytes([1, 1, 0x00, ss, se, ah_al])) + scan
    return out + b"\xff\xd9"


def test_hand_packed_successive_approximation():
    """Successive approximation decoded against hand arithmetic and
    the textbook IDCT: DC first at Al=1 (values scaled ×2), DC
    refinement bit, AC first at Al=1, AC refinement adding a new
    ±1 coefficient AND a correction bit on an existing one. Final
    coefficients worked out on paper: F[0][0]=11, u=1 AC=7, v=1
    AC=1 (all-ones quant)."""
    scans = [
        # DC first, Al=1: cat3 '0011' + '101' (=5) → coef0 = 10
        (0, 0, 0x01, bytes([0b00111011])),
        # DC refine, Ah=1,Al=0: 1 bit (set) → coef0 = 11; pad 1s
        # makes the byte 0xFF which must be STUFFED in the stream
        (0, 0, 0x10, bytes([0xFF, 0x00])),
        # AC first, Al=1: sym(r=0,s=2) code 3 + bits '11' (=3 → ×2=6
        # at zigzag k=1) + EOB
        (1, 63, 0x01, bytes([0b00000011, 0b11000000, 0b00111111])),
        # AC refine, Ah=1,Al=0: sym(r=0,s=1) + sign 1 (+1) +
        # correction bit 1 for the nonzero k=1 (6→7) + EOB
        (1, 63, 0x10, bytes([0b00000010, 0b11000000, 0b00111111])),
    ]
    dec = decode_jpeg(_prog_gray(8, 8, scans))
    coeffs = [[0.0] * 8 for _ in range(8)]
    coeffs[0][0] = 11.0
    coeffs[0][1] = 7.0  # zigzag 1 → (u=1, v=0)
    coeffs[1][0] = 1.0  # zigzag 2 → (u=0, v=1)
    ref = _ref_idct(coeffs)
    expected = bytes(
        int(min(max(round(ref[y][x] + 128), 0), 255))
        for y in range(8)
        for x in range(8)
    )
    assert dec["pixels"] == expected


def test_hand_packed_eob_run_spans_blocks():
    """Progressive EOB runs: a 24×8 gray image (3 blocks), AC first
    scan whose first block ends with an EOBRUN covering the next two
    blocks — their ACs stay zero; DC scan gives each block a distinct
    flat value. EOBn symbol 0x10 appended to the test's AC table."""
    ac_vals = _AC_VALS + bytes([0x10])
    dc = (
        # block DCs +8, +8, +8 (diffs) → cat4 '0100'+'1000' each
        "0100" "1000" "0100" "1000" "0100" "1000"
    )
    dc += "1" * (-len(dc) % 8)
    dc_scan = int(dc, 2).to_bytes(len(dc) // 8, "big")
    # AC first: block 1: coeff at k=1 val 2 (sym(0,2) code 3, bits 10)
    # then EOBRUN via sym(1,0)=0x10 (code 162) + 1 appended bit '0'
    # → eobrun = 2-1+0 = 1: ends THIS block and fully skips the next.
    # Block 3 decoded normally: plain EOB (code 0).
    ac = "00000011" "10" + format(162, "08b") + "0" + "00000000"
    ac += "1" * (-len(ac) % 8)
    ac_scan = int(ac, 2).to_bytes(len(ac) // 8, "big")
    dec = decode_jpeg(
        _prog_gray(
            24, 8,
            [(0, 0, 0x00, dc_scan), (1, 63, 0x00, ac_scan)],
            ac_vals=ac_vals,
        )
    )
    px = np.frombuffer(dec["pixels"], np.uint8).reshape(8, 24)
    # DC diffs accumulate: DCs are 8, 16, 24 → blocks 2/3 flat at
    # round(16/8)+128 = 130 and round(24/8)+128 = 131
    assert (px[:, 8:16] == 130).all()
    assert (px[:, 16:24] == 131).all()
    # block 1: DC 8 + one AC(k=1, val 2) → textbook IDCT
    coeffs = [[0.0] * 8 for _ in range(8)]
    coeffs[0][0] = 8.0
    coeffs[0][1] = 2.0
    ref = _ref_idct(coeffs)
    expected = np.array(
        [[int(min(max(round(ref[y][x] + 128), 0), 255)) for x in range(8)]
         for y in range(8)]
    )
    assert (px[:, :8] == expected).all()


def test_roundtrip_solid_and_gradient():
    """Encoder↔decoder: solid colors are EXACT at q=95 (flat blocks
    quantize losslessly); a smooth gradient stays within tight error
    bounds (4:2:0 chroma is nearest-upsampled)."""
    for v in (0, 7, 128, 200, 255):
        dec = decode_jpeg(encode_jpeg(16, 8, 1, bytes([v]) * 128, quality=95))
        assert dec["pixels"] == bytes([v]) * 128

    img = np.zeros((10, 12, 3), np.uint8)
    img[:] = (200, 50, 90)
    dec = decode_jpeg(encode_jpeg(12, 10, 3, img.tobytes(), quality=95))
    got = np.frombuffer(dec["pixels"], np.uint8).reshape(10, 12, 3)
    assert (got == img).all()

    h, w = 32, 48
    yy, xx = np.mgrid[0:h, 0:w]
    grad = np.stack(
        [xx * 255 // (w - 1), yy * 255 // (h - 1), (xx + yy) * 255 // (w + h - 2)],
        axis=-1,
    ).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(w, h, 3, grad.tobytes(), quality=95))
    got = np.frombuffer(dec["pixels"], np.uint8).reshape(h, w, 3)
    err = np.abs(got.astype(int) - grad.astype(int))
    assert err.mean() < 3 and err.max() <= 16

    # non-multiple-of-8 grayscale, q=100: near-lossless
    g = (np.arange(24 * 33, dtype=np.int64) * 7 % 256).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(33, 24, 1, g.tobytes(), quality=100))
    got = np.frombuffer(dec["pixels"], np.uint8)
    assert np.abs(got.astype(int) - g.astype(int)).max() <= 2


def test_malformed_jpeg_raises():
    with pytest.raises(ValueError):
        decode_jpeg(b"")
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xd9")  # no scan
    good = encode_jpeg(16, 16, 1, bytes(256), quality=90)
    with pytest.raises(ValueError):
        decode_jpeg(good[: len(good) // 2])  # truncated scan
    # progressive now decodes for real (test_progressive_*); a
    # sequential stream merely RELABELED SOF2 is malformed — its
    # full-band first scan is illegal in progressive mode
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="Se=0"):
        decode_jpeg(prog)
    # dimension-bomb hardening: declared 60000×60000 refused before
    # any allocation
    bomb = _gray_jpeg(8, 8, bytes([0x4A, 0x00])).replace(
        struct.pack(">HH", 8, 8), struct.pack(">HH", 60000, 60000), 1
    )
    with pytest.raises(ValueError, match="refusing"):
        decode_jpeg(bomb)

    # fuzz-found regression pins (round-5 review): a truncated 16-bit
    # DQT must raise ValueError (was struct.error), and a zero
    # sampling factor must raise ValueError (was an IndexError on the
    # empty component plane in _assemble)
    short_dqt = b"\xff\xd8" + _seg(0xDB, bytes([0x10]) + b"\x00" * 20)
    with pytest.raises(ValueError, match="short DQT"):
        decode_jpeg(short_dqt + b"\xff\xd9")
    zero_hv = _gray_jpeg(8, 8, bytes([0x4A, 0x00])).replace(
        b"\x01\x11\x00", b"\x01\x01\x00", 1
    )  # component hv byte 0x11 -> 0x01 (h=0)
    with pytest.raises(ValueError, match="sampling"):
        decode_jpeg(zero_hv)
    with pytest.raises(ValueError, match="short SOF"):
        decode_jpeg(b"\xff\xd8" + _seg(0xC0, b"\x08\x00") + b"\xff\xd9")
    with pytest.raises(ValueError, match="short DRI"):
        decode_jpeg(b"\xff\xd8" + _seg(0xDD, b"\x01") + b"\xff\xd9")
    short_sos = (
        b"\xff\xd8" + _tables()
        + _seg(0xC0, b"\x08" + struct.pack(">HH", 8, 8) + b"\x01\x01\x11\x00")
        + _seg(0xDA, b"\x02\x01\x00")  # ns=2 but one entry
    )
    with pytest.raises(ValueError, match="short SOS"):
        decode_jpeg(short_sos + b"\xff\xd9")

    # deterministic corrupt-bytes sweep (baseline AND progressive):
    # decode either succeeds or raises ValueError/NotImplementedError —
    # never crashes
    for progressive in (False, True):
        base = bytearray(
            encode_jpeg(16, 8, 3, bytes(16 * 8 * 3), quality=80,
                        progressive=progressive)
        )
        for k in range(0, len(base), 7):
            mutated = bytearray(base)
            mutated[k] ^= 0xA5
            try:
                decode_jpeg(bytes(mutated))
            except (ValueError, NotImplementedError):
                pass


def test_decode_media_and_summary_integration():
    """decode_media routes jpeg for real; decode_payload_summary
    reports decode_ok with the pixel md5; probe dims agree with
    decoded dims."""
    import hashlib

    from ai_pdf_extraction_spark.operators.multimodal import (
        decode_media,
        decode_payload_summary,
        probe_media,
    )

    data = encode_jpeg(12, 10, 3, bytes(range(256)) * 2 + bytes(88), quality=90)
    dec = decode_media(data, "jpeg")
    meta = probe_media(data)
    assert (meta["width"], meta["height"]) == (dec["width"], dec["height"]) == (12, 10)
    s = decode_payload_summary(data)
    assert s["format"] == "jpeg" and s["decode_ok"]
    assert s["n_decoded"] == 12 * 10 * 3
    assert s["payload_md5"] == hashlib.md5(dec["pixels"]).hexdigest()

    # header-only SOF0 stub (the fixture probe pin) must stay
    # decode_ok=False
    stub = (
        b"\xff\xd8\xff\xe0\x00\x04zz\xff\xc0\x00\x11\x08"
        + struct.pack(">HH", 50, 40) + b"\x03" + bytes(9)
    )
    s = decode_payload_summary(stub)
    assert s["format"] == "jpeg" and not s["decode_ok"]


def test_large_noise_image_decodes_in_linear_time():
    """Regression: _BitReader._fill once kept consumed high bits in
    bitbuf (`(bitbuf << 8) | b` with nbits==0), growing a bigint and
    making decode O(n^2) in entropy-scan bytes — 7 s for a 256 px noise
    JPEG, unbounded for a crawl-scale one. _BitWriter.write had the
    same unbounded `acc` on encode. Both now mask consumed bits; a
    384x384 noise image (incompressible → max scan bytes) must
    encode AND decode comfortably under a bound the quadratic shape
    blows past ~10x (generous for the overcommitted sandbox host)."""
    import time

    rng = np.random.default_rng(7)
    w = h = 384
    pix = rng.integers(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()

    t0 = time.monotonic()
    data = encode_jpeg(w, h, 3, pix, quality=95)
    t_enc = time.monotonic() - t0

    t0 = time.monotonic()
    out = decode_jpeg(data)
    t_dec = time.monotonic() - t0

    assert out["width"] == w and out["height"] == h
    assert len(out["pixels"]) == w * h * 3
    assert t_enc < 10.0, f"encode took {t_enc:.1f}s — bitbuf growth regression?"
    assert t_dec < 10.0, f"decode took {t_dec:.1f}s — bitbuf growth regression?"


def _gray12_jpeg(w: int, h: int, scan: bytes) -> bytes:
    """Extended-sequential (SOF1) 12-bit grayscale, same hand tables."""
    return (
        b"\xff\xd8"
        + _tables()
        + _seg(0xC1, b"\x0c" + struct.pack(">HH", h, w) + b"\x01\x01\x11\x00")
        + _seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
        + scan
        + b"\xff\xd9"
    )


def test_hand_packed_12bit_dc_only_block():
    """12-bit extended sequential (SOF1): DC=+10, q=1 → sample
    round(10/8 + 2048) = 2049 in the 0..4095 domain, mapped to the
    8-bit payload as round(2049·255/4095) = 128 — hand arithmetic.
    Same scan bits as the 8-bit pin (cat4 '0100' + '1010' + EOB)."""
    dec = decode_jpeg(_gray12_jpeg(8, 8, bytes([0x4A, 0x00])))
    assert (dec["width"], dec["height"], dec["channels"]) == (8, 8, 1)
    assert dec["precision"] == 12
    assert dec["pixels"] == bytes([128]) * 64

    # negative DC −10: sample 2047 → round(2047·255/4095) = 127
    dec = decode_jpeg(_gray12_jpeg(8, 8, bytes([0x45, 0x00])))
    assert dec["pixels"] == bytes([127]) * 64

    # wide-range DC +1000 (category 10 — only exists at 12-bit):
    # cat10 '1010' + magnitude '1111101000' + EOB → sample 2173 →
    # round(2173·255/4095) = 135
    dec = decode_jpeg(_gray12_jpeg(8, 8, bytes([0xAF, 0xA0, 0x03])))
    assert dec["pixels"] == bytes([135]) * 64

    # 8-bit results carry precision 8 and are unchanged
    dec8 = decode_jpeg(_gray_jpeg(8, 8, bytes([0x4A, 0x00])))
    assert dec8["precision"] == 8 and dec8["pixels"] == bytes([129]) * 64


def test_12bit_baseline_sof0_still_rejected():
    """T.81: baseline (SOF0) is 8-bit only — 12-bit must arrive as
    SOF1/SOF2; a 12-bit SOF0 stays a loud NotImplementedError."""
    bad = (
        b"\xff\xd8"
        + _tables()
        + _seg(0xC0, b"\x0c" + struct.pack(">HH", 8, 8) + b"\x01\x01\x11\x00")
        + _seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
        + bytes([0x4A, 0x00])
        + b"\xff\xd9"
    )
    with pytest.raises(NotImplementedError, match="12-bit"):
        decode_jpeg(bad)


def test_12bit_dc_categories_12_to_16():
    """T.81 F.1.2.1.1: DC SSSS 12-16 are LEGAL at 12-bit precision
    (review r6: the 8-bit cap misclassified valid high-brightness
    12-bit streams); SSSS=16 means DIFF=32768 with no appended bits.
    At 8-bit the same symbols stay 'bad DC category'."""
    # custom DC table: categories 0..16 as 5-bit codes 0..16
    dc_bits = bytes([0, 0, 0, 0, 17] + [0] * 11)
    dc_vals = bytes(range(17))
    tables = (
        _seg(0xDB, bytes([0]) + b"\x01" * 64)
        + _seg(0xC4, bytes([0x00]) + dc_bits + dc_vals)
        + _seg(0xC4, bytes([0x10]) + _AC_BITS + _AC_VALS)
    )

    def jpeg(precision: int, scan: bytes) -> bytes:
        sof = 0xC1 if precision == 12 else 0xC0
        return (
            b"\xff\xd8" + tables
            + _seg(sof, bytes([precision]) + struct.pack(">HH", 8, 8) + b"\x01\x01\x11\x00")
            + _seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
            + scan + b"\xff\xd9"
        )

    # cat12, DIFF=+2048: '01100' + '100000000000' + EOB + pad ->
    # sample 2048/8+2048 = 2304 -> round(2304*255/4095) = 143
    dec = decode_jpeg(jpeg(12, bytes([0x64, 0x00, 0x00, 0x7F])))
    assert dec["precision"] == 12 and dec["pixels"] == bytes([143]) * 64

    # cat16: '10000' + NO magnitude bits + EOB -> DIFF 32768 ->
    # sample clamps to 4095 -> 255
    dec = decode_jpeg(jpeg(12, bytes([0x80, 0x07])))
    assert dec["pixels"] == bytes([255]) * 64

    # the same cat12 symbol in an 8-bit SOF0 stream stays invalid
    with pytest.raises(ValueError, match="bad DC category"):
        decode_jpeg(jpeg(8, bytes([0x64, 0x00, 0x00, 0x7F])))
