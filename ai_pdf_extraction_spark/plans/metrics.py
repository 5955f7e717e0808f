"""Read-side status/metrics queries over the output table + snapshot
lineage (SURVEY.md §2.4 A8-A11, §3.3 batch status).

The reference recomputes batch progress on every ``GET
/batches/{id}/status`` poll (``routers/batches.py:430-542``); here the
same aggregation runs over the committed output table and the snapshot
manifests are the durable per-partition lineage (north_rule)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_pdf_extraction_spark.sources.snapshot_table import SnapshotTable

# The per-bucket counters: each commit records them per bucket in its
# lineage, and batch_status sums them over the table. All are bigint.
COUNTERS = {
    "n_docs": "count(*)",
    "n_parse_fail": "count_if(NOT parse_ok)",
    "sum_chars": "sum(n_chars)",
    "sum_spans": "sum(n_spans)",
}


def counters(*names: str) -> list[Column]:
    """Aggregate expressions for ``names`` (default: every counter)."""
    return [F.expr(COUNTERS[n]).alias(n) for n in names or COUNTERS]


def commit_metrics(written: DataFrame, elapsed: float) -> list[dict]:
    """One commit's per-bucket lineage metrics over its rows
    ``written``, which took ``elapsed`` seconds to extract and write."""
    stats = written.groupBy("bucket").agg(*counters()).collect()
    n_docs = sum(r["n_docs"] for r in stats)
    return [
        {
            "bucket": int(r["bucket"]),
            **{n: int(r[n]) for n in COUNTERS},
            "parse_fail_rate": round(r["n_parse_fail"] / max(r["n_docs"], 1), 6),
            "commit_elapsed_sec": round(elapsed, 3),
            "commit_docs_per_sec": round(n_docs / max(elapsed, 1e-9), 3),
        }
        for r in stats
    ]


def batch_status(spark: SparkSession, table: SnapshotTable, n_buckets: int) -> dict:
    """Progress + counters, one small aggregation (A8/A9/A11). A table
    with no live data directory (nothing committed, or only empty
    commits) reports zero docs without reading."""
    committed = table.committed_buckets()
    dirs = table.data_dirs()
    row = (
        table.read_dirs(spark, dirs).agg(*counters("n_docs", "n_parse_fail")).first()
        if dirs
        else {"n_docs": 0, "n_parse_fail": 0}
    )
    return {
        "progress_pct": round(100.0 * len(committed) / n_buckets, 2),
        "buckets_done": len(committed),
        "n_buckets": n_buckets,
        "n_docs": int(row["n_docs"]),
        "n_parse_fail": int(row["n_parse_fail"]),
    }


def lineage_df(spark: SparkSession, table: SnapshotTable) -> DataFrame:
    """Per-partition lineage rows from the snapshot chain as a
    DataFrame (run_id, snapshot, bucket, counters, throughput)."""
    fields = (
        ["snapshot_id string", "parent_id string", "run_id string", "bucket int"]
        + [f"{n} long" for n in COUNTERS]
        + ["parse_fail_rate double", "commit_elapsed_sec double",
           "commit_docs_per_sec double"]
    )
    names = [f.split(" ")[0] for f in fields]
    rows = [tuple(r.get(n) for n in names) for r in table.lineage()]
    return spark.createDataFrame(rows, ", ".join(fields))
