"""Spark extraction operator: Arrow-batched pandas UDF over binary html.

The hot path of the engine. One input row (document) → one output row
(SURVEY.md §7.1) — the reference's intra-document chunk merge
(``services/ai/extraction.py:337-434``) stays *inside* the kernel;
cross-document parallelism is Spark's task scheduler (replacing the
reference's ``asyncio.Semaphore(5)``, ``routers/batches.py:81-83``).

Catalyst treats the UDF as a black box, so the pipeline projects only
``(url, html)`` into it and re-attaches passthrough columns after
(SURVEY.md §4 "custom work (a)") — never ship columns through Python
that Python doesn't need.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ai_pdf_extraction_spark.worker import prepare_worker

SPAN_TYPE = StructType(
    [
        StructField("start", LongType(), False),
        StructField("end", LongType(), False),
        StructField("kind", StringType(), False),
    ]
)

EXTRACTION_TYPE = StructType(
    [
        StructField("extracted_text", StringType(), False),
        StructField("spans", ArrayType(SPAN_TYPE), False),
        StructField("parse_ok", BooleanType(), False),
        StructField("warnings", ArrayType(StringType()), False),
        StructField("content_type", StringType(), False),
        StructField("confidence", DoubleType(), False),
        # reference's per-field confidence dict (models.py:186-199);
        # keys are span kinds, values per-kind evidence ratios round 3
        StructField("field_confidences", MapType(StringType(), DoubleType()), False),
        StructField("n_chars", LongType(), False),
        StructField("n_spans", IntegerType(), False),
        # structured table rows — the reference's `array` FieldType
        # (array-of-objects, validation.py:467-488): one entry per
        # accepted <table>, each an array of {header: cell} row maps
        StructField(
            "tables",
            ArrayType(ArrayType(MapType(StringType(), StringType()))),
            False,
        ),
        # page-count probe (reference S3, pdf_service.py:148-179)
        StructField("n_pages", IntegerType(), False),
    ]
)


@pandas_udf(EXTRACTION_TYPE)
def extract_udf(html: pd.Series) -> pd.DataFrame:
    """Vectorized wrapper: one Arrow batch of raw bytes in, one batch
    of extraction structs out. Imports the kernel lazily so the module
    is initialized once per Python worker (the reference's lazy
    singleton pattern, ``pdf_service.py:286-295``); the worker's
    once-per-process set-up runs after it, with the kernels loaded."""
    from ai_pdf_extraction_spark.kernels import extract_document

    prepare_worker()

    texts: list[str] = []
    spans: list[list[dict]] = []
    ok: list[bool] = []
    warns: list[list[str]] = []
    ctypes: list[str] = []
    confs: list[float] = []
    fconfs: list[dict] = []
    n_chars: list[int] = []
    n_spans: list[int] = []
    tables: list[list] = []
    n_pages: list[int] = []
    for raw in html:
        res = extract_document(bytes(raw) if raw is not None else b"")
        texts.append(res.text)
        spans.append([{"start": s.start, "end": s.end, "kind": s.kind} for s in res.spans])
        ok.append(res.parse_ok)
        warns.append(list(res.warnings))
        ctypes.append(res.content_type)
        confs.append(res.confidence)
        fconfs.append(dict(res.field_confidences))
        n_chars.append(res.n_chars)
        n_spans.append(res.n_spans)
        tables.append(res.tables)
        n_pages.append(res.n_pages)
    return pd.DataFrame(
        {
            "extracted_text": texts,
            "spans": spans,
            "parse_ok": ok,
            "warnings": warns,
            "content_type": ctypes,
            "confidence": confs,
            "field_confidences": fconfs,
            "n_chars": n_chars,
            "n_spans": n_spans,
            "tables": tables,
            "n_pages": n_pages,
        }
    )
