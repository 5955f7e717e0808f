"""Multimodal column plumbing: image/audio/video as opaque binary.

Media columns are ``binary`` + a typed metadata struct; probe / decode /
frame-sample run as Arrow-batched
``mapInPandas`` stages. Header probes (PNG/JPEG/BMP/WebP dimensions,
WAV/MP4 duration) and wav (8/16/24/32-bit PCM + 32/64-bit
IEEE-float) / bmp / PNG (every
legal shape) / GIF / JPEG (baseline AND progressive) decode
are REAL — stdlib+numpy only (:mod:`png_codec` / :mod:`gif_codec` /
:mod:`jpeg_codec`).

**Downscope decision (round 5, final):** webp and mp4/avi PIXEL
decode stay out of scope by choice, not omission. VP8 (lossy webp)
and H.264 (mp4) are full video codecs — boolean arithmetic coding,
intra prediction, loop filters — far past a reasonable stdlib
reimplementation; VP8L (lossless webp) hinges on the spec's literal
120-entry 2D distance-map table, which cannot be independently
verified in this sandbox (no libwebp, no network), and this repo does
not ship plausible-but-unverifiable decode paths (the shared-kernel
blind-spot rule). Their decode raises ``NotImplementedError``; the Spark-side plumbing
(schema, partitioning, UDF signature, batch shape) is real and
tested, per the task brief, and header probes (dimensions/duration)
ARE real for both.

Design notes for 100 TB:
* media bytes never enter a shuffle — all media stages are
  narrow (mapInPandas over scan partitions), and metadata-only
  queries must select away the binary column (column pruning).
* ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds batch
  memory (set in ``session.build_session``); for multi-MB media,
  callers should lower it further.
"""

from __future__ import annotations

import io
import struct
import wave
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ai_pdf_extraction_spark.worker import prepare_worker

MEDIA_META_TYPE = StructType(
    [
        StructField("media_type", StringType(), False),  # image|audio|video
        StructField("format", StringType(), True),  # png|jpeg|wav|mp4|unknown
        StructField("n_bytes", LongType(), False),
        StructField("width", IntegerType(), True),  # image/video only
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),  # audio/video only
    ]
)


def sniff_bytes(raw: bytes) -> tuple[str, str | None]:
    """(media_type, format) from magic bytes — single source of truth
    for every media stage.
    RIFF is a CONTAINER: bytes 8..12 distinguish WAV/WebP/AVI. MP4 is
    detected by the ``ftyp`` box at offset 4 regardless of box size
    (hardcoding 0x18/0x20 missed common isom files)."""
    if raw.startswith(b"\x89PNG"):
        return ("image", "png")
    if raw.startswith(b"\xff\xd8\xff"):
        return ("image", "jpeg")
    if raw.startswith(b"RIFF") and len(raw) >= 12:
        kind = raw[8:12]
        if kind == b"WAVE":
            return ("audio", "wav")
        if kind == b"WEBP":
            return ("image", "webp")
        if kind == b"AVI ":
            return ("video", "avi")
    if raw[4:8] == b"ftyp":
        return ("video", "mp4")
    if raw.startswith(b"BM"):
        return ("image", "bmp")
    if raw[:6] in (b"GIF87a", b"GIF89a"):
        return ("image", "gif")
    return ("unknown", None)


def probe_media(raw: bytes) -> dict:
    """Typed metadata probe — REAL (stdlib-only) where the container
    format permits: PNG IHDR / JPEG SOFn / BMP InfoHeader / WebP
    VP8X-VP8L-VP8 dimensions, WAV frame-count and MP4 mvhd duration.
    Compressed pixel/sample payloads still need codec libs (see
    :func:`decode_media`); dimension and duration headers do not.
    Returns the MEDIA_META_TYPE fields."""
    media_type, fmt = sniff_bytes(raw)
    meta = {
        "media_type": media_type,
        "format": fmt,
        "n_bytes": len(raw),
        "width": None,
        "height": None,
        "duration_ms": None,
    }
    try:
        if fmt == "png" and len(raw) >= 24:
            w, h = struct.unpack(">II", raw[16:24])
            meta["width"], meta["height"] = int(w), int(h)
        elif fmt == "bmp" and len(raw) >= 26:
            w, h = struct.unpack("<ii", raw[18:26])
            meta["width"], meta["height"] = int(w), abs(int(h))
        elif fmt == "jpeg":
            i = 2
            while i + 2 <= len(raw):
                if raw[i] != 0xFF:
                    break
                marker = raw[i + 1]
                if marker == 0xFF:  # fill byte padding between segments
                    i += 1
                    continue
                if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
                    i += 2  # standalone markers carry no length field
                    continue
                if marker in (0xD9, 0xDA):
                    break  # EOI / SOS: entropy-coded data follows
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    if i + 9 <= len(raw):  # dims may end exactly at EOF
                        h, w = struct.unpack(">HH", raw[i + 5 : i + 9])
                        meta["width"], meta["height"] = int(w), int(h)
                    break
                if i + 4 > len(raw):
                    break
                seg_len = struct.unpack(">H", raw[i + 2 : i + 4])[0]
                i += 2 + seg_len
        elif fmt == "wav":
            try:
                with wave.open(io.BytesIO(raw)) as wf:
                    rate = wf.getframerate()
                    if rate:
                        meta["duration_ms"] = wf.getnframes() * 1000 // rate
            except wave.Error:
                # IEEE-float wav: header-only walk, no sample unpack
                fd = _decode_float_wav(raw, stats=False)
                if fd is not None:
                    meta["duration_ms"] = fd["duration_ms"]
        elif fmt == "webp" and len(raw) >= 16:
            chunk = raw[12:16]
            if chunk == b"VP8X" and len(raw) >= 30:
                # 24-bit little-endian width-1 / height-1 at offset 24
                w = int.from_bytes(raw[24:27], "little") + 1
                h = int.from_bytes(raw[27:30], "little") + 1
                meta["width"], meta["height"] = w, h
            elif chunk == b"VP8L" and len(raw) >= 25 and raw[20] == 0x2F:
                bits = int.from_bytes(raw[21:25], "little")
                meta["width"] = (bits & 0x3FFF) + 1
                meta["height"] = ((bits >> 14) & 0x3FFF) + 1
            elif chunk == b"VP8 " and len(raw) >= 30 and raw[23:26] == b"\x9d\x01*":
                meta["width"] = int.from_bytes(raw[26:28], "little") & 0x3FFF
                meta["height"] = int.from_bytes(raw[28:30], "little") & 0x3FFF
        elif fmt == "mp4":
            meta["duration_ms"] = _mp4_duration_ms(raw)
        elif fmt == "gif":
            from ai_pdf_extraction_spark.operators.gif_codec import probe_gif

            dims = probe_gif(raw)
            if dims is not None:
                meta["width"], meta["height"] = dims
    except Exception:
        pass  # malformed header: sniffed type survives, probe fields stay null
    return meta


def _mp4_duration_ms(raw: bytes) -> int | None:
    """Walk the top-level box tree to moov→mvhd and read
    timescale/duration (version 0: u32s at +12/+16 past the box
    header; version 1: u64 duration after a u32 timescale). Pure
    header arithmetic — no codec."""

    def boxes(buf: bytes, start: int, end: int):
        i = start
        while i + 8 <= end:
            size = int.from_bytes(buf[i : i + 4], "big")
            kind = buf[i + 4 : i + 8]
            hdr = 8
            if size == 1:  # 64-bit largesize: payload starts AFTER it
                if i + 16 > end:
                    return
                size = int.from_bytes(buf[i + 8 : i + 16], "big")
                hdr = 16
            if size < hdr or i + size > end:
                return
            yield kind, i + hdr, i + size
            i += size

    for kind, body, bend in boxes(raw, 0, len(raw)):
        if kind != b"moov":
            continue
        for k2, b2, e2 in boxes(raw, body, bend):
            if k2 != b"mvhd":
                continue
            version = raw[b2]
            if version == 0 and e2 - b2 >= 24:
                scale = int.from_bytes(raw[b2 + 12 : b2 + 16], "big")
                dur = int.from_bytes(raw[b2 + 16 : b2 + 20], "big")
            elif version == 1 and e2 - b2 >= 32:
                scale = int.from_bytes(raw[b2 + 20 : b2 + 24], "big")
                dur = int.from_bytes(raw[b2 + 24 : b2 + 32], "big")
            else:
                return None
            if not scale:
                return None
            ms = dur * 1000 // scale
            # adversarial u64 durations overflow Arrow int64 OUTSIDE
            # probe_media's try/except — clamp to null like every other
            # malformed-header case
            return ms if 0 <= ms < (1 << 63) else None
    return None


def decode_media(data: bytes, fmt: str):
    """Decode media where the stdlib can do it for REAL:

    * ``wav`` → dict with sample_rate, n_channels, duration_ms, and
      the 16-bit PCM samples' rms/peak (``wave`` + ``array``; no
      external codec needed).
    * ``bmp`` → dict with width/height/bpp and the raw (uncompressed)
      pixel bytes.
    * ``png`` → dict with width/height/channels and the reconstructed
      pixel samples — REAL: IDAT is zlib + filter arithmetic
      (:mod:`png_codec`), no codec library needed.
    * ``jpeg`` → dict with width/height/channels and decoded pixels —
      REAL DCT-Huffman decode (:mod:`jpeg_codec`), baseline AND
      progressive (SOF0/1/2), 8- and 12-bit samples; only
      arithmetic-coded/hierarchical streams raise.

    The remaining compressed codecs (webp, mp4/avi) require
    PIL/soundfile/av — not in this container — and raise
    NotImplementedError: that seam is the documented stub; everything
    around it (batch shape, schema, partitioning) is production-real.
    """
    if fmt == "wav":
        try:
            return _decode_pcm_wav(data)
        except wave.Error as exc:
            # stdlib `wave` reads integer PCM only; IEEE-float (format
            # 3, common for mastered/audio-tool output) is a manual
            # RIFF walk; anything else stays inside the documented
            # ValueError taxonomy instead of leaking wave.Error
            # (review r6: 'unknown format: 3' escaped decode_media)
            out = _decode_float_wav(data)
            if out is None:
                raise ValueError(f"wav: {exc}") from None
            return out
    if fmt == "bmp":
        if len(data) < 54 or not data.startswith(b"BM"):
            raise ValueError("not a BMP")
        offset = struct.unpack("<I", data[10:14])[0]
        w, h = struct.unpack("<ii", data[18:26])
        bpp = struct.unpack("<H", data[28:30])[0]
        return {
            "width": int(w),
            "height": abs(int(h)),
            "bpp": int(bpp),
            "pixels": data[offset:],
        }
    if fmt == "png":
        from ai_pdf_extraction_spark.operators.png_codec import decode_png

        return decode_png(data)
    if fmt == "gif":
        from ai_pdf_extraction_spark.operators.gif_codec import decode_gif

        return decode_gif(data)
    if fmt == "jpeg":
        from ai_pdf_extraction_spark.operators.jpeg_codec import decode_jpeg

        return decode_jpeg(data)
    raise NotImplementedError(
        f"media decode for {fmt!r} requires codec libraries not present "
        "in this environment; dimension/duration probes (probe_media) "
        "cover the pipeline plumbing"
    )


def base64_payload(col: str = "media"):
    """Binary payload → base64 string (reference F11: image→base64 for
    the JSON request payload via Python ``b64encode``,
    ``services/ai/extraction.py:74-86``). Spark's ``F.base64`` MIME-chunks
    at 76 chars on some versions (SPARK-35973 lineage) — strip the CRLFs
    so the output is the unchunked RFC 4648 form ``b64encode`` produces."""
    return F.regexp_replace(F.base64(F.col(col)), r"[\r\n]", "")


def decode_base64_payload(col: str = "media_b64"):
    """Inverse of :func:`base64_payload` (``F.unbase64``)."""
    return F.unbase64(F.col(col))


def _bmp_file(w: int, h: int, pixels: bytes) -> bytes:
    """Assemble a 24bpp BITMAPINFOHEADER BMP around row-padded pixel
    bytes (the fixture generator's header layout)."""
    return (
        struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 0, 0, 0, 0)
        + pixels
    )


def media_metadata(
    df: DataFrame, id_col: str = "media_id", bytes_col: str = "media"
) -> DataFrame:
    """mapInPandas metadata probe: (id, MEDIA_META_TYPE fields) — real
    header parsing via :func:`probe_media`, media bytes never shuffle."""
    meta_schema = StructType(
        [StructField("media_id", LongType(), False)] + list(MEDIA_META_TYPE.fields)
    )
    return _payload_stage(df, id_col, bytes_col, probe_media, meta_schema)


DECODE_SUMMARY_TYPE = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("format", StringType(), True),
        StructField("decode_ok", BooleanType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_decoded", LongType(), True),
        StructField("payload_md5", StringType(), True),
    ]
)


def _decode_pcm_wav(data: bytes) -> dict:
    """Integer-PCM WAV via the stdlib ``wave`` module: sample_rate,
    n_channels, duration_ms, and rms/peak over the samples (8-bit
    unsigned bias-128; 16/24/32-bit signed little-endian)."""
    import array

    with wave.open(io.BytesIO(data)) as wf:
        rate, nch, width = wf.getframerate(), wf.getnchannels(), wf.getsampwidth()
        n_frames = wf.getnframes()
        # untrusted-crawl hardening (the png zlib-bomb rule): the
        # header's frame count is attacker-controlled; cap the PCM
        # we materialize rather than trusting it
        if n_frames * nch * width > (1 << 28):
            raise ValueError(f"refusing wav with {n_frames} declared frames")
        frames = wf.readframes(n_frames)
    out = {
        "sample_rate": rate,
        "n_channels": nch,
        "duration_ms": (len(frames) // max(width * nch, 1)) * 1000 // max(rate, 1),
        "rms": 0.0,
        "peak": 0,
    }
    # PCM widths per the WAVE spec: 8-bit is UNSIGNED (bias 128),
    # 16/24/32-bit are signed little-endian (round-5: previously
    # only 16-bit got rms/peak)
    samples: list[int] | None = None
    if frames:
        usable = len(frames) - len(frames) % max(width, 1)
        if width == 1:
            samples = [b - 128 for b in frames[:usable]]
        elif width == 2:
            arr = array.array("h")
            arr.frombytes(frames[:usable])
            samples = list(arr)
        elif width == 3:
            samples = [
                int.from_bytes(frames[i : i + 3], "little", signed=True)
                for i in range(0, usable, 3)
            ]
        elif width == 4:
            arr = array.array("i")
            arr.frombytes(frames[:usable])
            samples = list(arr)
    if samples:
        out["peak"] = max(abs(s) for s in samples)
        out["rms"] = round(
            (sum(s * s for s in samples) / len(samples)) ** 0.5, 3
        )
    return out


def _decode_float_wav(data: bytes, stats: bool = True) -> dict | None:
    """IEEE-float WAV (WAVE_FORMAT_IEEE_FLOAT = 3, 32- or 64-bit):
    manual RIFF chunk walk (stdlib ``wave`` rejects non-PCM). Returns
    None when the stream is not a well-formed format-3 WAVE (the
    caller then raises the taxonomy ValueError). rms/peak are in the
    native [-1, 1] float domain, rounded 6 (PCM reports raw integer
    units; the two domains are honest about their sources)."""
    import struct as _struct

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    fmt_chunk = None
    pcm = b""
    pos = 12
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (size,) = _struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_chunk = body
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt_chunk is None or len(fmt_chunk) < 16:
        return None
    audio_fmt, nch, rate, _br, _ba, bits = _struct.unpack(
        "<HHIIHH", fmt_chunk[:16]
    )
    if audio_fmt != 3 or bits not in (32, 64) or nch < 1 or rate < 1:
        return None
    if len(pcm) > (1 << 28):
        raise ValueError("refusing oversized float wav data chunk")
    width = bits // 8
    usable = len(pcm) - len(pcm) % width
    code = "f" if bits == 32 else "d"
    samples = (
        list(_struct.unpack(f"<{usable // width}{code}", pcm[:usable]))
        if stats
        else []
    )
    out = {
        "sample_rate": int(rate),
        "n_channels": int(nch),
        "duration_ms": (usable // (width * nch)) * 1000 // rate,
        "rms": 0.0,
        "peak": 0.0,
    }
    if samples:
        out["peak"] = round(max(abs(s) for s in samples), 6)
        out["rms"] = round(
            (sum(s * s for s in samples) / len(samples)) ** 0.5, 6
        )
    return out


def decode_payload_summary(raw: bytes) -> dict:
    """One row of decode evidence for the q53 contract: format, the
    decoded dimensions, decoded-payload size, and an md5 over the
    decoded samples — the single-process twin shared by the
    distributed stage and the golden writer (a PLUMBING gate like q49;
    decode correctness itself is pinned by the hand-literal filter/LZW
    tests, per the shared-kernel blind-spot rule)."""
    import hashlib

    _mt, fmt = sniff_bytes(raw)
    out = {
        "format": fmt,
        "decode_ok": False,
        "width": None,
        "height": None,
        "n_decoded": None,
        "payload_md5": None,
    }
    if fmt not in ("wav", "bmp", "png", "gif", "jpeg"):
        return out
    try:
        dec = decode_media(raw, fmt)
    except Exception:
        return out  # malformed payload: decode_ok stays False
    out["decode_ok"] = True
    if fmt == "wav":
        sig = (
            f"{dec['sample_rate']}:{dec['n_channels']}:"
            f"{dec['duration_ms']}:{dec['rms']}:{dec['peak']}"
        )
        out["n_decoded"] = int(dec["duration_ms"])
        out["payload_md5"] = hashlib.md5(sig.encode()).hexdigest()
    else:
        pixels = dec["pixels"]
        out["width"] = int(dec["width"])
        out["height"] = int(dec["height"])
        out["n_decoded"] = len(pixels)
        out["payload_md5"] = hashlib.md5(pixels).hexdigest()
    return out


def _payload_stage(
    df: DataFrame, id_col: str, bytes_col: str, kernel, schema: StructType
) -> DataFrame:
    """Shared mapInPandas shape for per-payload kernels (probe,
    decode-summary, …): one ``bytes()`` conversion per row, nulls as
    empty payloads, dict-of-lists assembly from the schema — so
    null-handling can never drift between stages."""

    id_out = schema.fields[0].name  # id field = schema's first field

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prepare_worker()
        for pdf in batches:
            raws = [bytes(b) if b is not None else b"" for b in pdf[bytes_col]]
            rows = [kernel(raw) for raw in raws]
            yield pd.DataFrame(
                {
                    id_out: pdf[id_col].astype("int64"),
                    **{
                        f.name: [r[f.name] for r in rows]
                        for f in schema.fields
                        if f.name != id_out
                    },
                }
            )

    return df.select(id_col, bytes_col).mapInPandas(gen, schema)


def media_decode_features(
    df: DataFrame, id_col: str = "media_id", bytes_col: str = "media"
) -> DataFrame:
    """mapInPandas decode stage: every decodable payload (wav/bmp/png/
    gif/jpeg) is REALLY decoded on the executors and summarized;
    remaining codec seams and malformed bytes report
    ``decode_ok=false``. Media bytes never shuffle (narrow over scan
    partitions)."""
    return _payload_stage(
        df, id_col, bytes_col, decode_payload_summary, DECODE_SUMMARY_TYPE
    )


def frame_sample_plan(
    df: DataFrame, id_col: str = "media_id", n_frames: int = 6
) -> DataFrame:
    """Representative frame sampling *plan*: first 2 + last 2 + strided
    middle — the reference's page-sampling policy
    (``pdf_service.py:203-283``, S4/X1) lifted to media frames. Pure
    column logic over a frame-count column; actual frame decode is the
    stubbed codec path."""
    total = F.col("n_frames")
    first = F.sequence(F.lit(0), F.least(F.lit(1), total - 1))
    last = F.sequence(F.greatest(total - 2, F.lit(0)), total - 1)
    stride = F.greatest((total - 4) / F.lit(max(n_frames - 4, 1)), F.lit(1.0))
    n_mid = max(n_frames - 4, 0)
    # sequence(1, 0) would be DESCENDING [1, 0] (the dedup.py:_word_
    # shingles pitfall), injecting a spurious middle index for
    # n_frames <= 4 — build the empty middle explicitly
    middle = (
        F.transform(
            F.sequence(F.lit(1), F.lit(n_mid)),
            lambda i: (F.lit(2.0) + (i - 1).cast("double") * stride).cast("long"),
        )
        if n_mid > 0
        else F.array().cast("array<bigint>")
    )
    indices = F.slice(
        F.array_sort(
            F.array_distinct(
                F.filter(
                    F.concat(first, middle, last), lambda x: (x >= 0) & (x < total)
                )
            )
        ),
        1,
        n_frames,
    )
    return df.withColumn("sample_frames", indices)


# ---------------------------------------------------------------------------
# Deterministic media fixtures (oracle support for the q49 contract
# query — the multimodal analogue of the q34 golden corpus)
# ---------------------------------------------------------------------------

# bump when generated media BYTES change (cache key of the media
# parquet, like CORPUS_VERSION for pages)
# v2: some BMPs top-down (negative height) or truncated mid-pixels
# v3: webp (VP8X/VP8L/VP8) and mp4-with-mvhd variants in the junk slot
# v4: per-row-random bmp pixels (top-down reversal is observable),
#     nonempty-unknown junk slot restored
# v5: png slot carries REAL encoded pixels (gray/gray+alpha/RGB/RGBA
#     via png_codec.encode_png) instead of a header-only stub, so
#     decode/resize paths run against the same corpus the probe sees
# v6: real LZW GIFs alternate with the nonempty-junk slot (i%40==14
#     gif, i%40==34 junk — both pins kept)
# v7: jpeg slot carries REAL baseline encodes (grayscale + color
#     4:2:0 via jpeg_codec.encode_jpeg) alternating with the
#     header-only SOF0 probe pin
# v8: png slot includes palette (color type 3) variants, with and
#     without tRNS alpha
# v9: jpeg slots alternate PROGRESSIVE (SOF2) encodes with baseline
# v10: wav slot cycles 8/16/24-bit PCM widths
MEDIA_FIXTURE_VERSION = 10
# bump when probe_media SEMANTICS change (cache key of the golden,
# like KERNEL_VERSION for the q34 golden — a probe fix must never be
# compared against a stale cached golden)
# p2: JPEG scanner handles fill bytes / standalone markers / SOS stop
#     and reads dims ending exactly at EOF
# p3: webp (VP8X/VP8L/VP8) dimensions + mp4 mvhd duration
# p4: mp4 largesize boxes parse (payload offset +16), u64 durations
#     that overflow int64 clamp to null
# p5: gif sniff + logical-screen dimensions (gif_codec.probe_gif)
MEDIA_PROBE_VERSION = 5
# bump when decode_payload_summary SEMANTICS change (q53 golden key)
# d2: baseline jpeg decodes for real (decode_ok + pixel md5)
# d3: 8/24/32-bit PCM wav get real rms/peak (was 16-bit only)
MEDIA_DECODE_VERSION = 3


def generate_media_rows(n: int, seed: int = 21) -> list[tuple[int, bytes]]:
    """``n`` deterministic (media_id, bytes) rows cycling through real
    wav/bmp/png/jpeg layouts plus junk — headers built with
    struct/wave only, so the fixture needs no codec libs and the
    single-process golden shares the bytes exactly."""
    import array
    import random

    rng = random.Random(seed)
    rows: list[tuple[int, bytes]] = []
    for i in range(n):
        kind = i % 5
        if kind == 0:  # wav, 1-2 channels, widths 8/16/24-bit
            buf = io.BytesIO()
            with wave.open(buf, "wb") as wf:
                nch = 1 + (i // 5) % 2
                if i % 25 == 5:
                    width = 1  # unsigned 8-bit PCM
                elif i % 25 == 15:
                    width = 3  # signed 24-bit PCM
                else:
                    width = 2
                wf.setnchannels(nch)
                wf.setsampwidth(width)
                wf.setframerate(8000)
                nfr = 400 + (i % 7) * 100
                if width == 1:
                    pcm = bytes(rng.randrange(256) for _ in range(nfr * nch))
                elif width == 3:
                    pcm = b"".join(
                        rng.randint(-400000, 400000).to_bytes(
                            3, "little", signed=True
                        )
                        for _ in range(nfr * nch)
                    )
                else:
                    pcm = array.array(
                        "h", [rng.randint(-3000, 3000) for _ in range(nfr * nch)]
                    ).tobytes()
                wf.writeframes(pcm)
            rows.append((i, buf.getvalue()))
        elif kind == 1:  # bmp: bottom-up, TOP-DOWN, or truncated
            w, h = 2 + i % 6, 1 + i % 4
            pad = b"\x00" * ((4 - (3 * w) % 4) % 4)
            stride = 3 * w + len(pad)
            # per-ROW random content (identical rows made the top-down
            # reversal a no-op — nothing would catch a flipped image)
            pixels = b"".join(
                bytes(rng.randrange(256) for _ in range(3 * w)) + pad
                for _ in range(h)
            )
            data = _bmp_file(w, h, pixels)
            if i % 15 == 1:  # top-down variant (negative height)
                data = (
                    data[:22] + struct.pack("<i", -h) + data[26:54]
                    + b"".join(
                        pixels[k * stride : (k + 1) * stride]
                        for k in range(h - 1, -1, -1)
                    )
                )
            elif i % 15 == 6:  # truncated mid-pixels (malformed)
                data = data[: 54 + max(len(pixels) // 2 - 1, 0)]
            rows.append((i, data))
        elif kind == 2:  # png: REAL pixels, channel count cycling 1/2/3/4
            from ai_pdf_extraction_spark.operators.png_codec import (
                encode_png,
                encode_png_palette,
            )

            w, h = 4 + i % 29, 3 + i % 17
            if i % 35 in (12, 27):  # palette slots (27 adds tRNS alpha)
                n_colors = 2 + i % 15
                plte = rng.randbytes(3 * n_colors)
                idx = bytes(rng.randrange(n_colors) for _ in range(w * h))
                trns = (
                    bytes(rng.randrange(256) for _ in range(n_colors - 1))
                    if i % 35 == 27
                    else None
                )
                rows.append((i, encode_png_palette(w, h, plte, idx, trns=trns)))
            else:
                ch = 1 + (i // 5) % 4
                rows.append((i, encode_png(w, h, ch, rng.randbytes(w * h * ch))))
        elif kind == 3:  # jpeg: REAL baseline encodes + header-only pin
            from ai_pdf_extraction_spark.operators.jpeg_codec import encode_jpeg

            if i % 15 == 3:  # real grayscale (alternating progressive)
                w, h = 8 + i % 25, 6 + i % 18
                rows.append(
                    (i, encode_jpeg(
                        w, h, 1, rng.randbytes(w * h), quality=85,
                        progressive=i % 30 == 18,
                    ))
                )
            elif i % 15 == 8:  # real color 4:2:0 (alternating progressive)
                w, h = 9 + i % 22, 7 + i % 15
                rows.append(
                    (i, encode_jpeg(
                        w, h, 3, rng.randbytes(w * h * 3), quality=90,
                        progressive=i % 30 == 23,
                    ))
                )
            else:  # i % 15 == 13: header-only SOF0 (probe-only pin —
                # dims probe, decode_ok must stay False)
                rows.append(
                    (
                        i,
                        b"\xff\xd8\xff\xe0\x00\x04zz\xff\xc0\x00\x11\x08"
                        + struct.pack(">HH", 50 + i % 300, 40 + i % 200)
                        + b"\x03"
                        + bytes(9),
                    )
                )
        else:  # kind == 4, i % 20 in {4, 9, 14, 19}: one slot each for
            # webp, mp4, empty, and nonempty-unknown junk
            v = i % 20
            if v == 9:  # VP8X webp with real dims
                w, h = 16 + i % 320, 9 + i % 240
                rows.append((i,
                    b"RIFF" + struct.pack("<I", 22) + b"WEBPVP8X"
                    + struct.pack("<I", 10) + b"\x00" * 4
                    + (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little")))
            elif v == 19:  # mp4 with moov/mvhd duration
                dur = 1000 + (i % 60) * 500
                mvhd = (b"\x00" * 12 + struct.pack(">II", 1000, dur) + b"\x00" * 80)
                mvhd_box = struct.pack(">I", 8 + len(mvhd)) + b"mvhd" + mvhd
                moov = struct.pack(">I", 8 + len(mvhd_box)) + b"moov" + mvhd_box
                rows.append((i, struct.pack(">I", 16) + b"ftypisom" + b"\x00" * 4 + moov))
            elif v == 4:
                rows.append((i, b""))
            elif i % 40 == 14:  # real LZW gif (global palette, 1 frame)
                from ai_pdf_extraction_spark.operators.gif_codec import encode_gif

                w, h = 3 + i % 13, 2 + i % 7
                palette = rng.randbytes(3 * 4)  # 4-color table
                idx = bytes(rng.randrange(4) for _ in range(w * h))
                rows.append((i, encode_gif(w, h, palette, idx)))
            else:  # i%40 == 34: nonempty junk — pins the sniff-unknown path
                rows.append((i, bytes(rng.randrange(256) for _ in range(32))))
    return rows


def write_media_table(path: str, rows: list[tuple[int, bytes]]) -> None:
    """Write the media fixture parquet (pure pyarrow — callable from
    oracle_sql)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    media = pa.table(
        {
            "media_id": pa.array([i for i, _ in rows], pa.int64()),
            "media": pa.array([b for _, b in rows], pa.binary()),
        }
    )
    pq.write_table(media, path)


def write_probe_golden(path: str, rows: list[tuple[int, bytes]]) -> None:
    """Single-process probe golden for q49 (pure pyarrow): one
    :func:`probe_media` row per media row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    metas = [probe_media(b) for _, b in rows]
    golden = pa.table(
        {
            "media_id": pa.array([i for i, _ in rows], pa.int64()),
            "media_type": pa.array([m["media_type"] for m in metas], pa.string()),
            "format": pa.array([m["format"] for m in metas], pa.string()),
            "n_bytes": pa.array([m["n_bytes"] for m in metas], pa.int64()),
            "width": pa.array([m["width"] for m in metas], pa.int32()),
            "height": pa.array([m["height"] for m in metas], pa.int32()),
            "duration_ms": pa.array([m["duration_ms"] for m in metas], pa.int64()),
        }
    )
    pq.write_table(golden, path)


def write_decode_golden(path: str, rows: list[tuple[int, bytes]]) -> None:
    """Single-process decode golden for q53 (pure pyarrow): one
    :func:`decode_payload_summary` row per media row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    summaries = [decode_payload_summary(b) for _, b in rows]
    table = pa.table(
        {
            "media_id": pa.array([i for i, _ in rows], pa.int64()),
            "format": pa.array([s["format"] for s in summaries], pa.string()),
            "decode_ok": pa.array(
                [s["decode_ok"] for s in summaries], pa.bool_()
            ),
            "width": pa.array([s["width"] for s in summaries], pa.int32()),
            "height": pa.array([s["height"] for s in summaries], pa.int32()),
            "n_decoded": pa.array(
                [s["n_decoded"] for s in summaries], pa.int64()
            ),
            "payload_md5": pa.array(
                [s["payload_md5"] for s in summaries], pa.string()
            ),
        }
    )
    pq.write_table(table, path)
