"""End-to-end extraction pipeline: read → route → extract → write,
resumable per bucket group (SURVEY.md §3.1 Spark translation).

Lifecycle parity with the reference's flagship path
(``POST /extract-batch``, ``routers/batches.py:262-427``):

| reference step | here |
|---|---|
| ingest + validation predicates | scan + ``parse_ok`` inside kernel |
| background task + semaphore(5) | Spark task scheduler |
| per-doc status rows (``PENDING→…``) | per-bucket checkpoint = snapshot manifest |
| extraction LLM call per chunk | pandas UDF batch per Arrow slice |
| Postgres insert per doc | bucket-partitioned parquet/Iceberg append |
| batch counters (``batches.py:221-241``) | per-bucket counters observed on the write, in the snapshot |
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ai_pdf_extraction_spark.operators.extract import extract_udf
from ai_pdf_extraction_spark.plans.metrics import bucket_counters, commit_metrics
from ai_pdf_extraction_spark.plans.partitioning import (
    DEFAULT_N_BUCKETS,
    cluster_by_bucket,
    url_bucket,
    url_host,
)
from ai_pdf_extraction_spark.sources.snapshot_table import (
    SnapshotTable,
    is_catalog_name,
)

# Per-doc byte budget into the Python worker (P10); generous — the
# synthetic corpus max is ~50 KB, real CC pages p99 ≈ 500 KB.
MAX_DOC_BYTES = 4 * 1024 * 1024

# The output-schema contract, asserted against extraction_plan's
# actual projection in tests/test_plans.py.
OUTPUT_COLUMNS = (
    "url",
    "warc_ts",
    "lang",
    "host",
    "content_type",
    "extracted_text",
    "spans",
    "parse_ok",
    "warnings",
    "confidence",
    "field_confidences",
    "n_chars",
    "n_spans",
    "tables",
    "n_pages",
    "run_id",
    "bucket",
)


def project_extraction(pages: DataFrame, run_id: str, n_buckets: int) -> DataFrame:
    """Payload cap + kernel UDF + output projection: the part of
    :func:`extraction_plan` that the Iceberg path
    (``make_output_table().append``) also calls. A truncated document
    keeps every kernel warning, in order, followed by the truncation
    warning."""
    truncated = F.length(F.col("html")) > MAX_DOC_BYTES
    pages = pages.withColumn("_truncated", truncated).withColumn(
        "html",
        F.when(
            truncated, F.substring(F.col("html"), 1, MAX_DOC_BYTES)
        ).otherwise(F.col("html")),
    )
    extracted = pages.withColumn("extraction", extract_udf(F.col("html")))
    return extracted.select(
        "url",
        "warc_ts",
        "lang",
        url_host().alias("host"),
        F.col("extraction.content_type").alias("content_type"),
        F.col("extraction.extracted_text").alias("extracted_text"),
        F.col("extraction.spans").alias("spans"),
        F.col("extraction.parse_ok").alias("parse_ok"),
        F.when(
            F.col("_truncated"),
            F.concat(
                F.col("extraction.warnings"),
                F.array(F.lit(f"input truncated at {MAX_DOC_BYTES} bytes")),
            ),
        )
        .otherwise(F.col("extraction.warnings"))
        .alias("warnings"),
        F.col("extraction.confidence").alias("confidence"),
        F.col("extraction.field_confidences").alias("field_confidences"),
        F.col("extraction.n_chars").alias("n_chars"),
        F.col("extraction.n_spans").alias("n_spans"),
        F.col("extraction.tables").alias("tables"),
        F.col("extraction.n_pages").alias("n_pages"),
        F.lit(run_id).alias("run_id"),
        url_bucket(n_buckets=n_buckets).alias("bucket"),
    )


def extraction_plan(
    pages: DataFrame,
    run_id: str,
    n_buckets: int = DEFAULT_N_BUCKETS,
    buckets=None,
) -> DataFrame:
    """Build the logical plan for one pass over the bucket group
    ``buckets`` (default: every bucket; otherwise the plan keeps only
    that group's rows).

    Only ``(url, html)``-derived columns enter the Python worker; all
    metadata columns ride along JVM-side (SURVEY.md §4: project only
    what the black-box UDF needs).

    Every input is placed by bucket (``partitioning.cluster_by_bucket``)
    on ``max(2 × default parallelism, input partitions)`` partitions:
    the CPU-bound UDF gets at least two task waves, an input is never
    repartitioned down, and a partition count that lies (N−1 empty
    byte-range splits) cannot serialize the work. Each bucket of the
    group lands in as few tasks as the balance bound allows, so the
    bucket-partitioned write that follows emits about one file per
    bucket, not one per bucket per input task, for a small local corpus
    and a crawl of many WARC files alike.
    """
    # the caller's `rdd` is memoized, so run_extraction's commit
    # groups split the input once per run
    target = max(
        2 * pages.sparkSession.sparkContext.defaultParallelism,
        pages.rdd.getNumPartitions(),
    )
    pages = pages.withColumn("bucket", url_bucket(n_buckets=n_buckets))
    if buckets is None:
        buckets = range(n_buckets)
    else:
        pages = pages.filter(F.col("bucket").isin(list(buckets)))
    pages = cluster_by_bucket(pages, buckets, target)
    # Payload cap + UDF + projection (the reference's ≤2048px image
    # downscale analogue, SURVEY.md §2.2 P10: bound per-doc bytes so one
    # pathological page can't blow an Arrow batch; capped docs carry a
    # truncation warning).
    return project_extraction(pages, run_id, n_buckets)


def run_extraction(
    spark: SparkSession,
    input_path: str,
    output_root: str,
    run_id: str,
    n_buckets: int = DEFAULT_N_BUCKETS,
    buckets_per_commit: int | None = None,
    input_format: str = "parquet",
) -> dict:
    """Run (or resume) extraction over a page corpus.

    Resume semantics (SURVEY.md §2.9 ST1): buckets already present in
    the output table's snapshot chain are skipped — the per-partition
    watermark. ``buckets_per_commit`` controls commit granularity
    (None = single commit; smaller values trade commit overhead for
    finer resume points, the knob a 1000-executor run would set to
    bound recomputation after preemption).

    ``output_root`` is a PATH: this chunked-resume writer drives the
    parquet+manifest ``SnapshotTable`` (``write`` per commit group,
    then ``commit``). An Iceberg deployment instead drives
    ``project_extraction`` + ``make_output_table(...).append`` per
    bucket group — the shared append/read/committed_buckets interface
    (see the seam note in ``sources/snapshot_table.py``). A
    catalog-style name (``snapshot_table.is_catalog_name``, the rule
    ``make_output_table`` routes by) fails loud here rather than
    creating a local directory literally named ``catalog.ns.table``; a
    bare ``out.v2`` is inherently ambiguous with ``ns.table``, so the
    error names the ``./`` escape (advice r6).
    """
    if is_catalog_name(output_root):
        raise ValueError(
            f"output_root {output_root!r} looks like a catalog table name; "
            "run_extraction writes the parquet SnapshotTable layout — for "
            "Iceberg, drive project_extraction + make_output_table().append "
            "(prefix './' to force the path interpretation)"
        )
    table = SnapshotTable(output_root)
    # Resume invariant: the bucketing fanout is baked into every
    # committed row's bucket id — resuming with a different n_buckets
    # would re-hash urls into different buckets, silently duplicating
    # re-extracted rows and never scheduling ids ≥ the new fanout.
    prev_nb = table.table_property("n_buckets")
    if prev_nb is not None and int(prev_nb) != n_buckets:
        raise ValueError(
            f"table at {output_root!r} was written with n_buckets={prev_nb}; "
            f"resuming with n_buckets={n_buckets} would corrupt the bucket "
            "watermark — pass the original fanout"
        )
    done = table.committed_buckets()
    pending = [b for b in range(n_buckets) if b not in done]
    if not pending:
        return {"run_id": run_id, "committed": [], "skipped": sorted(done), "docs": 0}

    if input_format == "warc":
        from ai_pdf_extraction_spark.sources.warc import read_warc

        pages = read_warc(spark, input_path)
    else:
        pages = spark.read.parquet(input_path)

    group = len(pending) if buckets_per_commit is None else buckets_per_commit
    committed: list[int] = []
    total_docs = 0
    for i in range(0, len(pending), group):
        chunk = pending[i : i + group]
        t0 = time.monotonic()
        plan = extraction_plan(pages, run_id, n_buckets, buckets=chunk)
        # The counters are observed on the frame the write consumes,
        # above cluster_by_bucket's Exchange: in the write's result
        # stage, whose accumulator updates Spark applies once per
        # partition (a shuffle-map stage retry could apply them twice).
        observed = Observation()
        commit_id = table.write(plan.observe(observed, *bucket_counters(chunk)))
        elapsed = time.monotonic() - t0
        metrics = commit_metrics(observed.get, chunk, elapsed)
        # Buckets with zero rows still count as committed (watermark
        # must advance past empty partitions).
        table.commit(
            chunk, run_id, metrics, commit_id=commit_id,
            properties={"n_buckets": n_buckets},
        )
        committed.extend(chunk)
        total_docs += sum(m["n_docs"] for m in metrics)
    return {
        "run_id": run_id,
        "committed": committed,
        "skipped": sorted(done),
        "docs": total_docs,
    }
