"""spark-submit entrypoint for building an ANN index at rest.

The production shape of the PQ/IVF-PQ family (round-4 verdict item 2,
made a first-class pipeline artifact): train the coarse quantizer and
per-subspace PQ codebooks ONCE on a bounded deterministic sample,
encode the whole corpus to the compact (id, codes, coarse) relation —
m small ints + one coarse id per vector instead of 4·d bytes — and
write codes parquet + a quantizer JSON next to it. Query time then
loads both and scans codes only (``pq_topk``/``ivfpq_topk`` with
``codes=``); re-encoding never happens inside a query plan.

Usage::

    python tools/make_pyfiles_zip.py /tmp/engine.zip
    spark-submit --master local[32] --py-files /tmp/engine.zip \
        jobs/ann_index_job.py --input <embeddings parquet> \
        --output <index dir> \
        [--m 8] [--codes 16] [--clusters 8] [--sample-rows 4096]

Same contract as ``extract_job``/``curate_job``: public package API
only, so the file submits unchanged to a real cluster. At 10^12
vectors the training sample stays bounded (IVF/PQ quantizers train on
samples regardless of corpus size); the encode pass is one narrow
projection over the scan — no shuffle, no vectors collected.
"""

from __future__ import annotations

import argparse
import json
import os


def build_ann_index(
    spark,
    input_path: str,
    output_dir: str,
    m: int = 8,
    n_codes: int = 16,
    n_clusters: int = 8,
    sample_rows: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> dict:
    """Train quantizers, encode the corpus, write codes + quantizers.
    Returns the manifest dict (also written as ``index.json``).

    ``residual=True`` builds the FAISS-default IVFPQ (Jégou 2011 §III):
    codebooks train on coarse residuals and the codes relation stores
    residual codes — better recall at the same (m, n_codes) budget on
    clustered corpora; the manifest records the flag so
    ``load_ann_index`` consumers query with the matching
    ``ivfpq_topk(residual=...)`` path."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ai_pdf_extraction_spark.operators.similarity import (
        PQ_CODES_VERSION,
        load_embedding_sample,
        pq_codes,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    sample = load_embedding_sample(
        input_path, max_rows=sample_rows, vec_col=vec_col, id_col=id_col
    )
    cents = train_ivf_centroids(sample, n_clusters=n_clusters)
    books = train_pq_codebooks(
        sample, m=m, n_codes=n_codes, centroids=cents if residual else None
    )
    emb = spark.read.parquet(input_path)
    codes_path = os.path.join(output_dir, "codes.parquet")
    # vectors counted while the codes are written, not by a read after
    observed = Observation()
    pq_codes(
        emb, books, id_col=id_col, vec_col=vec_col, centroids=cents,
        residual=residual,
    ).observe(observed, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(codes_path)
    manifest = {
        "version": PQ_CODES_VERSION,
        "input": input_path,
        "codes": "codes.parquet",
        "n_vectors": int(observed.get["n"]),
        "m": m,
        "n_codes": n_codes,
        "n_clusters": n_clusters,
        "sample_rows": sample_rows,
        "id_col": id_col,
        "vec_col": vec_col,
        "residual": residual,
        "codebooks": books,
        "centroids": cents,
    }
    with open(os.path.join(output_dir, "index.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest


def load_ann_index(spark, index_dir: str):
    """(codes DataFrame, centroids, codebooks, manifest) from a built
    index — feed straight into ``pq_topk``/``ivfpq_topk`` ``codes=``;
    query with ``ivfpq_topk(residual=manifest["residual"])``.

    Compatibility (review r6): manifests written before codes v2 lack
    the ``residual`` key — those codes ARE raw, so it defaults False
    (v1→v2 changed nothing about raw encode semantics). A manifest
    whose version is NEWER than this library's ``PQ_CODES_VERSION``
    fails loud: its encode semantics are unknown here, and feeding such
    codes into the wrong ADC plan would silently score garbage."""
    from ai_pdf_extraction_spark.operators.similarity import PQ_CODES_VERSION

    with open(os.path.join(index_dir, "index.json")) as fh:
        manifest = json.load(fh)
    version = manifest.get("version", 1)
    if version > PQ_CODES_VERSION:
        raise ValueError(
            f"index at {index_dir} has codes version {version}, newer than "
            f"this library's PQ_CODES_VERSION={PQ_CODES_VERSION} — rebuild "
            "the index or upgrade the library"
        )
    manifest.setdefault("residual", False)
    codes = spark.read.parquet(os.path.join(index_dir, manifest["codes"]))
    return codes, manifest["centroids"], manifest["codebooks"], manifest


def main() -> None:
    parser = argparse.ArgumentParser(description="build a PQ/IVF-PQ index at rest")
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--m", type=int, default=8)
    parser.add_argument("--codes", type=int, default=16)
    parser.add_argument("--clusters", type=int, default=8)
    parser.add_argument("--sample-rows", type=int, default=4096)
    parser.add_argument(
        "--residual", action="store_true",
        help="residual-encode (FAISS IVFPQ default): codebooks train on "
        "x - centroid[coarse]; query with ivfpq_topk(residual=True)",
    )
    args = parser.parse_args()

    from ai_pdf_extraction_spark.session import build_session

    spark = build_session(app_name="ann-index")
    os.makedirs(args.output, exist_ok=True)
    manifest = build_ann_index(
        spark,
        args.input,
        args.output,
        m=args.m,
        n_codes=args.codes,
        n_clusters=args.clusters,
        sample_rows=args.sample_rows,
        residual=args.residual,
    )
    print(
        json.dumps(
            {k: manifest[k] for k in ("n_vectors", "m", "n_codes", "n_clusters")}
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
