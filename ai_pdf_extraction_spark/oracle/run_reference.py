"""Single-process oracle: run the extraction kernels standalone and
write golden parquet (FIXTURES.md §2).

This is the analogue of the reference's stored golden corpora
(``app/test-pdfs/*/extraction_results.json``) — the Spark pipeline's
output must match it byte-identically per url (BASELINE.json
north_rule). Spark-free (pure pyarrow) so pytest can regenerate
fixtures without a JVM.
"""

from __future__ import annotations

from ai_pdf_extraction_spark.kernels import extract_document
from ai_pdf_extraction_spark.kernels.types import tables_signature

GOLDEN_COLUMNS = (
    "url",
    "extracted_text",
    "spans",
    "parse_ok",
    "warnings",
    "content_type",
    "confidence",
    "fc_sig",
    "conf_title",
    "conf_paragraph",
    "conf_list_item",
    "conf_table_text",
    "n_chars",
    "n_spans",
    "n_pages",
    "n_tables",
    "tables_sig",
)

# span kinds that can carry a per-field confidence (FIXTURES.md §2)
FIELD_KINDS = ("title", "paragraph", "list_item", "table_text")


def fc_signature(field_confidences: dict[str, float]) -> str:
    """Canonical serialization of the per-field confidence map:
    ``kind:milli`` entries sorted by kind — computable identically from
    the Spark map column (array_sort(map_entries) + round(v*1000))."""
    return ";".join(
        f"{k}:{int(v * 1000 + 0.5)}" for k, v in sorted(field_confidences.items())
    )


def extract_rows(pages: list[dict]) -> list[dict]:
    """Run the kernel over page rows; one golden row per input row."""
    out: list[dict] = []
    for row in pages:
        res = extract_document(row["html"])
        fc = res.field_confidences
        out.append(
            {
                "url": row["url"],
                "extracted_text": res.text,
                "spans": [s.as_tuple() for s in res.spans],
                "parse_ok": res.parse_ok,
                "warnings": list(res.warnings),
                "content_type": res.content_type,
                "confidence": res.confidence,
                "fc_sig": fc_signature(fc),
                **{f"conf_{k}": fc.get(k) for k in FIELD_KINDS},
                "n_chars": res.n_chars,
                "n_spans": res.n_spans,
                "n_pages": res.n_pages,
                "n_tables": res.n_tables,
                "tables_sig": tables_signature(res.tables),
            }
        )
    return out


def write_golden_parquet(path: str, pages: list[dict]) -> int:
    """Write the extraction golden for ``pages`` to ``path`` (a plain
    write: a cache that must not see a torn file builds it through a
    temp path, as ``__spark_entry__._build_once`` does)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = extract_rows(pages)
    span_type = pa.list_(
        pa.struct(
            [
                pa.field("start", pa.int64(), nullable=False),
                pa.field("end", pa.int64(), nullable=False),
                pa.field("kind", pa.string(), nullable=False),
            ]
        )
    )
    table = pa.table(
        {
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "extracted_text": pa.array([r["extracted_text"] for r in rows], pa.string()),
            "spans": pa.array(
                [
                    [{"start": s[0], "end": s[1], "kind": s[2]} for s in r["spans"]]
                    for r in rows
                ],
                span_type,
            ),
            "parse_ok": pa.array([r["parse_ok"] for r in rows], pa.bool_()),
            "warnings": pa.array([r["warnings"] for r in rows], pa.list_(pa.string())),
            "content_type": pa.array([r["content_type"] for r in rows], pa.string()),
            "confidence": pa.array([r["confidence"] for r in rows], pa.float64()),
            "fc_sig": pa.array([r["fc_sig"] for r in rows], pa.string()),
            **{
                f"conf_{k}": pa.array(
                    [r[f"conf_{k}"] for r in rows], pa.float64()
                )
                for k in FIELD_KINDS
            },
            "n_chars": pa.array([r["n_chars"] for r in rows], pa.int64()),
            "n_spans": pa.array([r["n_spans"] for r in rows], pa.int32()),
            "n_pages": pa.array([r["n_pages"] for r in rows], pa.int32()),
            "n_tables": pa.array([r["n_tables"] for r in rows], pa.int32()),
            "tables_sig": pa.array([r["tables_sig"] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, path)
    return len(rows)


def write_table_rows_golden(path: str, pages: list[dict]) -> int:
    """Exploded structured-table rows golden: one row per (url, table,
    row, key) — the DuckDB oracle for the q46 array-of-struct query
    reads this flat shape directly (no nested-map surgery in SQL)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    urls: list[str] = []
    t_idx: list[int] = []
    r_idx: list[int] = []
    keys: list[str] = []
    values: list[str] = []
    for row in pages:
        res = extract_document(row["html"])
        for ti, tbl in enumerate(res.tables):
            for ri, rec in enumerate(tbl):
                for k, v in rec.items():
                    urls.append(row["url"])
                    t_idx.append(ti)
                    r_idx.append(ri)
                    keys.append(k)
                    values.append(v)
    table = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "t_idx": pa.array(t_idx, pa.int32()),
            "r_idx": pa.array(r_idx, pa.int32()),
            "key": pa.array(keys, pa.string()),
            "value": pa.array(values, pa.string()),
        }
    )
    pq.write_table(table, path)
    return len(urls)
