"""spark-submit entrypoint for the incremental-dedup crawl loop.

The production shape of ``operators/dedup_index`` (round-7): build the
at-rest fingerprint + MinHash-signature index over the existing
corpus once, then per crawl batch run the two deltas (exact + LSH
near-dup) against it and append the batch so the NEXT crawl sees it —
the old corpus is never re-shuffled (reference analogue: ingest-time
hash-vs-DB duplicate rejection, ``routers/batches.py:381-382``).

Usage::

    python tools/make_pyfiles_zip.py /tmp/engine.zip
    # build over the existing corpus
    spark-submit --master local[32] --py-files /tmp/engine.zip \
        jobs/dedup_index_job.py build --docs <docs parquet> \
        --index <index dir> [--k 12] [--bands 4] [--ngram 3]
    # per crawl batch: delta-dedup, then append
    spark-submit ... jobs/dedup_index_job.py delta --docs <old parquet> \
        --new <batch parquet> --index <index dir> --output <out dir> \
        [--threshold 0.8] [--append]

``delta`` writes two relations under ``--output``: ``exact/`` (per new
doc: canonical_id, group_size, is_dup, in_index) and ``pairs/``
(near-dup pairs touching the batch, verified Jaccard). ``--append``
commits the batch into the index afterwards (one snapshot on the
index's chain — a killed job leaves the index unchanged).

Same contract as the other jobs: public package API only, submits
unchanged to a real cluster.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    parser = argparse.ArgumentParser(description="incremental dedup index jobs")
    sub = parser.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the index over a corpus")
    b.add_argument("--docs", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--k", type=int, default=12)
    b.add_argument("--bands", type=int, default=4)
    b.add_argument("--ngram", type=int, default=3)

    d = sub.add_parser("delta", help="delta-dedup a new batch, optionally append")
    d.add_argument("--docs", required=True, help="existing corpus parquet (text store)")
    d.add_argument("--new", required=True, help="new crawl batch parquet")
    d.add_argument("--index", required=True)
    d.add_argument("--output", required=True)
    d.add_argument("--threshold", type=float, default=0.8)
    d.add_argument("--append", action="store_true")
    args = parser.parse_args()

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ai_pdf_extraction_spark.operators.dedup_index import (
        append_dedup_index,
        exact_delta_from_index,
        load_dedup_index,
        lsh_delta_from_index,
        write_dedup_index,
    )
    from ai_pdf_extraction_spark.session import build_session

    spark = build_session(app_name=f"dedup-index-{args.cmd}")
    if args.cmd == "build":
        manifest = write_dedup_index(
            spark,
            spark.read.parquet(args.docs),
            args.index,
            n=args.ngram,
            k=args.k,
            bands=args.bands,
        )
        print(json.dumps({k: manifest[k] for k in ("n_docs", "batches")}))
    else:
        idx = load_dedup_index(spark, args.index)
        new = spark.read.parquet(args.new)
        old = spark.read.parquet(args.docs)
        # the summary is observed on the two writes — a count of the
        # lazy `exact`/`pairs` plans would re-run the whole delta, and
        # a read-back would re-scan what was just written
        exact_obs, pairs_obs = Observation(), Observation()
        exact_delta_from_index(idx, new).observe(
            exact_obs,
            F.count(F.lit(1)).alias("new_docs"),
            F.count_if(F.col("in_index")).alias("already_in_index"),
        ).write.mode("overwrite").parquet(args.output + "/exact")
        lsh_delta_from_index(idx, new, old, threshold=args.threshold).observe(
            pairs_obs, F.count(F.lit(1)).alias("near_dup_pairs")
        ).write.mode("overwrite").parquet(args.output + "/pairs")
        summary = {**exact_obs.get, **pairs_obs.get}
        if args.append:
            manifest = append_dedup_index(spark, args.index, new)
            summary["index_n_docs"] = manifest["n_docs"]
        print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
