"""WET export/import — extracted-text `conversion` records.

Common Crawl ships three artifact tiers per crawl: WARC (raw fetch),
WAT (metadata) and WET (extracted plain text as ``WARC-Type:
conversion`` records). This module closes the pipeline's output side:
WARC in (``sources/warc.py``), extraction in the middle, WET out —
the reference exports extractions as CSV/JSON envelopes
(`routers/export.py`); a web-scale corpus wants the ecosystem format.

The WRITE path is zero-Python and fully distributed: each record is
framed as a string **Column** (headers + payload + terminator) and the
DataFrame is written with ``spark.write.text`` using
``lineSep='\\r\\n'`` — the writer's record separator completes the
WARC-mandated double CRLF after each payload, every partition becomes
one valid WET shard, and compression is a writer option. No
``foreachPartition``, no driver collect, at any corpus size.

The READ path reuses the WARC record iterator
(:func:`~ai_pdf_extraction_spark.sources.warc.iter_warc_records` —
WET shares the framing) over ``binaryFile`` rows: per-shard parse,
shard-sized files (the Common Crawl layout) keep tasks bounded.

Documented subset: ``compression='gzip'`` produces whole-file gzip
members (readable by every gzip WET consumer) rather than Common
Crawl's member-per-record layout; the reader accepts both.
"""

from __future__ import annotations

import gzip
import io

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_pdf_extraction_spark.worker import prepare_worker


def warc_record(
    url_col: Column | str,
    ts_col: Column | str,
    text_col: Column | str,
    warc_type: str = "conversion",
    content_type: str = "text/plain",
) -> Column:
    """One framed WARC record as a string Column — the shared
    framing core for the WET (``conversion``/text) and WAT
    (``metadata``/json) tiers.
    ``Content-Length`` is the UTF-8 BYTE length of the payload
    (``octet_length``, not ``length`` — multibyte text would corrupt
    the framing for every later record in the shard). The record ends
    with ONE ``\\r\\n``; the text writer's ``lineSep='\\r\\n'``
    supplies the second, completing the spec's double-CRLF
    terminator."""
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    t = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    x = F.col(text_col) if isinstance(text_col, str) else text_col
    # render the instant in UTC with PURE integer arithmetic on epoch
    # seconds: every tz-aware rendering path (date_format in session
    # tz, to_utc_timestamp round trips) resolves the zone offset at
    # wall-time level and goes an hour wrong inside DST gaps/overlaps
    # (review r7). cast-to-long is the tz-free instant; DATE math and
    # lpad'd H/M/S never consult a zone.
    # accept string timestamp columns too (the pre-integer-math
    # surface): timestamp-cast first, THEN to epoch seconds — a bare
    # string->long cast would raise under ANSI or silently misread
    # digit strings as epoch seconds
    secs = t.cast("timestamp").cast("long")
    days = F.floor(secs / 86400).cast("int")
    tod = F.pmod(secs, F.lit(86400))
    two = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    utc_date = F.date_format(
        F.date_add(F.to_date(F.lit("1970-01-01")), days), "yyyy-MM-dd"
    )
    return F.concat(
        F.lit(f"WARC/1.0\r\nWARC-Type: {warc_type}\r\nWARC-Target-URI: "),
        u,
        F.lit("\r\nWARC-Date: "),
        utc_date,
        F.lit("T"),
        two(F.floor(tod / 3600)),
        F.lit(":"),
        two(F.pmod(F.floor(tod / 60), F.lit(60))),
        F.lit(":"),
        two(F.pmod(tod, F.lit(60))),
        F.lit("Z"),
        F.lit(f"\r\nContent-Type: {content_type}\r\nContent-Length: "),
        F.octet_length(x).cast("string"),
        F.lit("\r\n\r\n"),
        x,
        F.lit("\r\n"),
    )


#: WET-tier alias (the original public name)
wet_record = warc_record


def _export_records(
    df: DataFrame,
    path: str,
    url_col: str,
    ts_col: str,
    text_col: str,
    warc_type: str,
    content_type: str,
    compression: str | None,
    mode: str,
    on_null: str,
) -> None:
    """Write ``(url, ts, text)`` rows as WET shards under ``path`` —
    one shard per partition, each a standalone valid WET file.

    A NULL url/ts/text cannot be framed: ``concat`` would null the
    whole record and the text writer would emit a bare separator —
    the document silently VANISHES from the corpus. ``on_null``:
    ``'error'`` (default) fails the export loudly via ``raise_error``
    inside the projection (no extra action, still one pass);
    ``'drop'`` filters such rows for callers exporting alongside
    parse failures (filter ``parse_ok`` upstream to keep the count
    auditable)."""
    label = "export_wat" if warc_type == "metadata" else "export_wet"
    if on_null not in ("error", "drop"):
        raise ValueError(
            f"{label}: on_null must be 'error' or 'drop'"
        )
    rec = warc_record(url_col, ts_col, text_col, warc_type, content_type)
    has_null = (
        F.col(url_col).isNull()
        | F.col(ts_col).isNull()
        | F.col(text_col).isNull()
    )
    if on_null == "drop":
        df = df.filter(~has_null)
    else:
        rec = F.when(
            has_null,
            F.raise_error(
                F.concat(
                    F.lit(
                        f"{label}: NULL url/ts/text cannot be framed "
                        "(url="
                    ),
                    F.coalesce(F.col(url_col), F.lit("<null>")),
                    F.lit("); filter parse failures or pass on_null='drop'"),
                )
            ),
        ).otherwise(rec)
    writer = (
        df.select(rec.alias("value"))
        .write.mode(mode)
        .option("lineSep", "\r\n")
    )
    if compression:
        writer = writer.option("compression", compression)
    writer.text(path)


def export_wet(
    df: DataFrame,
    path: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "extracted_text",
    compression: str | None = None,
    mode: str = "overwrite",
    on_null: str = "error",
) -> None:
    """WET tier: extracted plain text as ``conversion`` records."""
    _export_records(
        df, path, url_col, ts_col, text_col,
        "conversion", "text/plain", compression, mode, on_null,
    )


def export_wat(
    df: DataFrame,
    path: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    json_col: str = "wat_json",
    compression: str | None = None,
    mode: str = "overwrite",
    on_null: str = "error",
) -> None:
    """WAT tier: per-page metadata (title/canonical/outlink summary…)
    as json-payload ``metadata`` records — the middle Common Crawl
    artifact, completing the WARC→WAT→WET triple. The caller builds
    the json column (``F.to_json(F.struct(...))`` — struct field
    order makes it deterministic); framing, distribution and the
    NULL guard are the shared WET machinery."""
    _export_records(
        df, path, url_col, ts_col, json_col,
        "metadata", "application/json", compression, mode, on_null,
    )


def wet_bytes_to_rows(
    raw: bytes, warc_type: str = "conversion"
) -> list[dict]:
    """One WET/WAT shard's bytes → ``(url, warc_ts, text)`` dicts
    (records of ``warc_type`` only; gzip or plain). Damaged shards stop
    cleanly at the malformed record — records already parsed survive
    (the ST3 isolation rule shared with the WARC reader)."""
    from ai_pdf_extraction_spark.sources.warc import (
        _parse_warc_ts,
        iter_warc_records,
    )

    if raw[:2] == b"\x1f\x8b":
        stream: io.BufferedIOBase = gzip.GzipFile(fileobj=io.BytesIO(raw))
    else:
        stream = io.BytesIO(raw)
    rows = []
    try:
        for headers, block in iter_warc_records(stream):
            if headers.get("warc-type") != warc_type:
                continue
            url = headers.get("warc-target-uri")
            if not url:
                continue
            rows.append(
                {
                    "url": url,
                    "warc_ts": _parse_warc_ts(
                        headers.get("warc-date", "")
                    ),
                    "text": block.decode("utf-8", errors="replace"),
                }
            )
    except (OSError, EOFError):
        pass
    return rows


def read_wat(spark: SparkSession, path: str) -> DataFrame:
    """Distributed WAT reader: ``metadata`` records →
    ``(url, warc_ts, wat_json)`` (same shard-per-task shape as
    :func:`read_wet`)."""
    return (
        _read_records(spark, path, "metadata")
        .withColumnRenamed("text", "wat_json")
    )


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """Distributed WET reader: ``binaryFile`` rows (one task per
    shard — Common Crawl shards are task-sized by construction) →
    ``(url, warc_ts, text)`` via an Arrow-batched ``mapInPandas``
    over :func:`wet_bytes_to_rows`."""
    return _read_records(spark, path, "conversion")


def _read_records(
    spark: SparkSession, path: str, warc_type: str
) -> DataFrame:
    import pandas as pd

    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("url", StringType(), True),
            StructField("warc_ts", TimestampType(), True),
            StructField("text", StringType(), True),
        ]
    )
    files = spark.read.format("binaryFile").load(path)

    def _parse(batches):
        prepare_worker()
        for pdf in batches:
            for raw in pdf["content"]:
                rows = wet_bytes_to_rows(bytes(raw), warc_type)
                if rows:
                    yield pd.DataFrame(rows)

    return files.select("content").mapInPandas(_parse, schema)
