"""At-rest seen-url set — the persistent half of the crawl frontier.

:func:`operators.urls.url_frontier_delta` decides fetch/skip against a
``seen`` relation; this module is that relation at rest, closing the
crawl loop the same way ``operators.dedup_index`` closes the dedup
loop (and with the same commit discipline):

* batches live under uniquely-named ``set_dir/b{i}_{token}/`` parquet
  dirs, and the set is a snapshot chain under ``set_dir/_manifests/``
  (``snapshot_table.ManifestChain``, the output table's protocol);
* each build or append commits one snapshot AFTER its batch lands:
  ``commit_id`` is the batch and ``metrics`` its ``n_urls``, observed
  on the write; a build over an existing set ``replaces`` every live
  batch. A crash mid-append leaves an invisible orphan dir (resume =
  re-run the append), and an append that commits while another is
  writing lands beside it;
* the build snapshot's ``properties`` pin ``SEEN_SET_VERSION``:
  canonicalization semantics live in
  :func:`operators.urls.canonicalize_url`, and a set built under
  different semantics must fail loud, not silently re-crawl or
  silently skip (the ``DEDUP_INDEX_VERSION`` discipline).

THE invariant: one row per canonical url across ALL batches. The
builder distincts once (the one permissible shuffle — index build);
appends preserve it either by trusting the caller (``assume_unseen=
True`` — the crawl-loop path, where the appended relation IS the
frontier's ``to_crawl`` output, already proven unseen by the probe)
or by re-running the frontier probe themselves. The historical set is
never re-shuffled on append: the probe is the broadcast LEFT-SEMI
scan from ``url_frontier_delta``.

The reference's analogue is its ingest-time duplicate rejection
(``routers/batches.py:381`` — hash-vs-DB before storing); a crawler
needs the same membership test BEFORE the fetch, at 10^12-url scale.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ai_pdf_extraction_spark.sources.snapshot_table import ManifestChain

SEEN_SET_VERSION = 1


def _open(set_dir: str) -> tuple[ManifestChain, dict]:
    """The set's chain and its summary (``version``, live ``batches``,
    summed ``n_urls``); fails loud on a version mismatch."""
    chain = ManifestChain(set_dir)
    summary = chain.batch_summary("seen-set")
    if summary.get("version") != SEEN_SET_VERSION:
        raise ValueError(
            f"seen-set at {set_dir} has version "
            f"{summary.get('version')!r}, this build expects "
            f"{SEEN_SET_VERSION} — rebuild (canonicalization semantics "
            "changed; membership across versions is meaningless)"
        )
    return chain, summary


def _write_batch(urls: DataFrame, root: str, batch: str) -> int:
    """Write one batch; returns its url count, observed on the write."""
    observed = Observation()
    urls.select("canon_url").observe(
        observed, F.count(F.lit(1)).alias("n")
    ).write.mode("overwrite").parquet(os.path.join(root, batch))
    return int(observed.get["n"])


def write_seen_set(
    urls: DataFrame, set_dir: str, url_col: str = "canon_url"
) -> dict:
    """Build a fresh seen-set from already-canonical urls; the one
    ``distinct`` shuffle establishes the one-row-per-url invariant.
    Returns the summary."""
    chain = ManifestChain(set_dir)
    batch = f"b0_{uuid.uuid4().hex[:8]}"
    n = _write_batch(
        urls.select(F.col(url_col).alias("canon_url")).distinct(),
        chain.root,
        batch,
    )
    chain.commit_batch(batch, {"n_urls": n}, build={"version": SEEN_SET_VERSION})
    return _open(set_dir)[1]


def load_seen_set(spark: SparkSession, set_dir: str) -> DataFrame:
    """The seen relation (one row per canonical url — the batch union
    is disjoint by the append invariant, so no distinct on read)."""
    chain, summary = _open(set_dir)
    return spark.read.parquet(
        *(os.path.join(chain.root, b) for b in summary["batches"])
    )


def append_seen_set(
    spark: SparkSession,
    set_dir: str,
    urls: DataFrame,
    url_col: str = "canon_url",
    assume_unseen: bool = False,
) -> dict:
    """Append canonical urls after a crawl commits; returns the
    summary. ``assume_unseen=True`` is the crawl-loop fast path: the
    appended relation is the frontier's ``to_crawl`` output, already
    disjoint from the set by the probe that produced it — only a
    within-batch distinct runs. Otherwise the unseen subset is computed
    here with the same broadcast semi-probe (historical set scanned
    map-side, never shuffled). Crash-safe: the fresh batch dir is
    invisible until its snapshot commits."""
    chain, summary = _open(set_dir)
    batch_urls = (
        urls.select(F.col(url_col).alias("canon_url")).distinct()
    )
    if not assume_unseen:
        seen_keys = load_seen_set(spark, set_dir)
        hits = seen_keys.join(
            F.broadcast(batch_urls), "canon_url", "leftsemi"
        )
        batch_urls = batch_urls.join(hits, "canon_url", "left_anti")
    batch = f"b{len(summary['batches'])}_{uuid.uuid4().hex[:8]}"
    n = _write_batch(batch_urls, chain.root, batch)
    chain.commit_batch(batch, {"n_urls": n})
    return _open(set_dir)[1]


def frontier_from_seen_set(
    spark: SparkSession,
    set_dir: str,
    new_urls: DataFrame,
    url_col: str = "url",
    id_col: str = "event_id",
    broadcast_new: bool = True,
) -> DataFrame:
    """``url_frontier_delta`` wired from the at-rest set — the per-crawl
    entry point: probe, fetch ``to_crawl``, then ``append_seen_set(...,
    assume_unseen=True)`` with the same rows."""
    from ai_pdf_extraction_spark.operators.urls import url_frontier_delta

    return url_frontier_delta(
        new_urls,
        load_seen_set(spark, set_dir),
        url_col=url_col,
        id_col=id_col,
        broadcast_new=broadcast_new,
    )
