"""Status/metrics over the snapshot chain (SURVEY.md §2.4 A8-A11,
§3.3 batch status).

The reference recomputes batch progress on every ``GET
/batches/{id}/status`` poll (``routers/batches.py:430-542``); here each
commit's per-bucket counters are observed on the frame the commit
writes and recorded in its snapshot manifest, the durable
per-partition lineage (north_rule). Status sums the manifests, the way
an Iceberg snapshot summary answers it: no read of committed data."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_pdf_extraction_spark.sources.snapshot_table import (
    SnapshotTable,
    live_metrics,
    visible,
)

# The per-bucket counters, as the per-row value each one sums: each
# commit records them per bucket in its lineage, and batch_status sums
# n_docs and n_parse_fail over the live commits. All are bigint.
COUNTERS = {
    "n_docs": "1",
    "n_parse_fail": "CAST(NOT parse_ok AS INT)",
    "sum_chars": "n_chars",
    "sum_spans": "n_spans",
}


def bucket_counters(buckets) -> list[Column]:
    """One aggregate per (bucket, counter), named ``<counter>_<bucket>``,
    for ``DataFrame.observe`` on the frame a commit writes. Observed
    metrics reject ``FILTER (WHERE …)``, hence the ``if``."""
    return [
        F.expr(f"sum(if(bucket = {b}, {value}, 0))").alias(f"{n}_{b}")
        for b in buckets
        for n, value in COUNTERS.items()
    ]


def commit_metrics(observed: dict, buckets, elapsed: float) -> list[dict]:
    """One commit's per-bucket lineage metrics from the row ``observed``
    over :func:`bucket_counters` ``(buckets)`` while the commit was
    extracted and written in ``elapsed`` seconds. Buckets without docs
    are left out; a frame with no rows sums to null, i.e. no docs."""
    stats = [
        {"bucket": b, **{n: int(observed[f"{n}_{b}"] or 0) for n in COUNTERS}}
        for b in buckets
    ]
    stats = [s for s in stats if s["n_docs"]]
    n_docs = sum(s["n_docs"] for s in stats)
    return [
        {
            **s,
            "parse_fail_rate": round(s["n_parse_fail"] / s["n_docs"], 6),
            "commit_elapsed_sec": round(elapsed, 3),
            "commit_docs_per_sec": round(n_docs / max(elapsed, 1e-9), 3),
        }
        for s in stats
    ]


def batch_status(spark: SparkSession, table: SnapshotTable, n_buckets: int) -> dict:
    """Progress + counters (A8/A9/A11), summed over the manifest
    metrics of the live commits: no Spark job runs and ``spark`` goes
    unused. A commit that recorded no metrics contributes no docs."""
    snaps = table.snapshots()
    committed = visible(snaps)[0]
    metrics = live_metrics(snaps)
    return {
        "progress_pct": round(100.0 * len(committed) / n_buckets, 2),
        "buckets_done": len(committed),
        "n_buckets": n_buckets,
        "n_docs": sum(m.get("n_docs", 0) for m in metrics),
        "n_parse_fail": sum(m.get("n_parse_fail", 0) for m in metrics),
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
