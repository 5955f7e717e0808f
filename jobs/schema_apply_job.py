"""spark-submit entrypoint for schema-registry application.

The production shape of the reference's "apply a saved schema to a
batch" flow (``routers/batches.py`` drives extraction with a selected
schema id): read a table carrying a JSON document column, resolve a
committed schema config by name (+optional version) from the in-repo
registry, compile it to the typed Catalyst projection
(``functions/schema_registry.apply_schema``), and write the typed
table.

Usage::

    python tools/make_pyfiles_zip.py /tmp/engine.zip
    spark-submit --master local[32] --py-files /tmp/engine.zip \
        jobs/schema_apply_job.py --input <parquet> --output <dir> \
        --schema invoice [--version 1] [--source-col doc] \
        [--keys id,url]

Same contract as ``extract_job``/``curate_job``: public package API
only, so the file submits unchanged to a real cluster.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    parser = argparse.ArgumentParser(
        description="apply a versioned schema config as a typed projection"
    )
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--schema", required=True)
    parser.add_argument("--version", type=int, default=None)
    parser.add_argument("--source-col", default="doc")
    parser.add_argument("--keys", default="", help="comma-separated passthrough columns")
    args = parser.parse_args()

    from ai_pdf_extraction_spark.functions.schema_registry import (
        apply_schema,
        load_schema,
    )
    from ai_pdf_extraction_spark.session import build_session

    spark = build_session(app_name="schema-apply")
    schema = load_schema(args.schema, version=args.version)
    keys = [k for k in args.keys.split(",") if k]

    typed = apply_schema(
        spark.read.parquet(args.input), schema, args.source_col, keys=keys
    )
    typed.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()

    print(
        json.dumps(
            {
                "schema": schema["name"],
                "version": schema["version"],
                "rows": n,
                "fields": [f["name"] for f in schema["fields"]],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
