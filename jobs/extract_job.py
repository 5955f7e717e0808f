"""spark-submit entrypoint for the extraction pipeline (north_rule:
``spark-submit --py-files``).

Usage::

    python tools/make_pyfiles_zip.py /tmp/engine.zip
    spark-submit --master local[32] --py-files /tmp/engine.zip \
        jobs/extract_job.py --input <pages dir> --output <table root> \
        --run-id run1 [--n-buckets 64] [--buckets-per-commit 16]

The script only touches the package's public API, so the same file
submits unchanged to a real cluster (a YARN/K8s master on the command
line). ``--output`` is a path: the job writes the parquet+manifest
``SnapshotTable``; an Iceberg table is written by
``jobs/iceberg_integration_job.py``.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    parser = argparse.ArgumentParser(description="run resumable page extraction")
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--run-id", required=True)
    parser.add_argument("--n-buckets", type=int, default=64)
    parser.add_argument("--buckets-per-commit", type=int, default=None)
    parser.add_argument(
        "--input-format",
        choices=("parquet", "warc"),
        default="parquet",
        help="warc reads Common-Crawl .warc/.warc.gz files directly "
        "(one crawl file per task)",
    )
    args = parser.parse_args()

    # Under spark-submit a SparkSession config is provided by the
    # launcher; build_session's getOrCreate + addPyFile are no-ops
    # where the launcher already set master/--py-files.
    from ai_pdf_extraction_spark.plans.metrics import batch_status
    from ai_pdf_extraction_spark.plans.pipeline import run_extraction
    from ai_pdf_extraction_spark.session import build_session
    from ai_pdf_extraction_spark.sources.snapshot_table import SnapshotTable

    spark = build_session(app_name=f"extract-{args.run_id}")
    result = run_extraction(
        spark,
        args.input,
        args.output,
        run_id=args.run_id,
        n_buckets=args.n_buckets,
        buckets_per_commit=args.buckets_per_commit,
        input_format=args.input_format,
    )
    status = batch_status(spark, SnapshotTable(args.output), args.n_buckets)
    print(json.dumps({"result": result, "status": status}))
    spark.stop()


if __name__ == "__main__":
    main()
