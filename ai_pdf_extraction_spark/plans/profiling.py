"""Offline corpus profiling — the rebuild of the reference's schema
discovery (SURVEY.md §3.2).

The reference samples representative pages (first 2 + last 2 + strided
middle, ``pdf_service.py:203-283``) and asks an LLM to infer a schema
(``services/ai/discovery.py:256-361``). The deterministic rebuild
samples the corpus the same way (:func:`representative_sample`, q50)
and profiles it in one scan (:func:`corpus_profile`, q82); the output
schema is fixed — a plan-time activity, never a runtime operator
(SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def url_hash(col: Column | str = "url") -> Column:
    """Deterministic 32-bit uniform per url: first 8 hex digits of md5
    as a bigint — computable identically in DuckDB
    (``('0x' || substr(md5(url), 1, 8))::bigint``), the engine-portable
    hash the q50 oracle mirrors (same family as
    ``operators.scrub.stratified_hash_sample``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def sample_pick_plan(distinct_urls: DataFrame, n: int, max_docs: int) -> DataFrame:
    """The lazy pick plan over a (url)-only relation of ``n`` distinct
    urls: first-2 ∪ last-2 (each ``orderBy.limit`` →
    TakeOrderedAndProject — per-partition top-2, never a global sort)
    ∪ exactly ``max_docs − 4`` hash-stride middle picks. The middle
    candidates exclude the end urls (broadcast left-anti over a 4-row
    relation) so overlap can never undershoot the sample size. Exposed
    separately so tests can assert the plan shape (no
    ``Exchange SinglePartition``) without executing it."""
    if max_docs < 4:
        # the pick plan always contributes the 4 end urls; silently
        # returning more rows than max_docs would breach the sample
        # contract, so reject the degenerate budget loudly
        raise ValueError(f"max_docs must be >= 4, got {max_docs}")
    middle = max_docs - 4
    ends = distinct_urls.orderBy("url").limit(2).unionAll(
        distinct_urls.orderBy(F.col("url").desc()).limit(2)
    )
    if middle == 0:
        return ends
    stride = max((n - 4) // (4 * middle), 1)
    mid = (
        distinct_urls.join(F.broadcast(ends), "url", "left_anti")
        .withColumn("_h", url_hash("url"))
        .filter(F.col("_h") % stride == 0)
        .orderBy("_h", "url")
        .limit(middle)
        .select("url")
    )
    return ends.unionAll(mid)


def representative_sample(pages: DataFrame, max_docs: int = 64) -> DataFrame:
    """First 2 + last 2 urls (by url order) + a deterministic
    hash-selected middle — the reference's first2/last2/strided-middle
    page policy (``pdf_service.py:203-283``) lifted to corpus scale.
    Deterministic (no RNG): every pick is a pure function of the url
    set, stable across runs, partitionings, and engines.

    Scale shape (the round-3 verdict's top finding): NO unpartitioned
    global sort anywhere. The first-2/last-2 legs are ``orderBy.limit``
    → TakeOrderedAndProject (per-partition top-k, k=2 — each task keeps
    2 urls, the merge sees 2·n_partitions rows, never the corpus). The
    middle leg pre-filters to ~4·middle candidates with a hash-stride
    (``url_hash % stride == 0``, a narrow scan — no shuffle), then takes
    the exact ``middle`` smallest by (hash, url) from that tiny
    candidate set. At 10^12 urls every leg is a narrow scan plus an
    O(max_docs) merge.

    ``n`` counts DISTINCT urls. Recrawl duplicates are collapsed to one
    deterministic row per url in BOTH regimes (the small-corpus early
    return included). The sample contract is ≤ max_docs unique-url
    rows — exactly max_docs whenever the stride filter leaves ≥ middle
    candidates, which the 4× oversampling makes near-certain (and
    exact-by-construction when stride == 1, i.e. n < 8·middle)."""
    # one deterministic row per duplicated url — tie-broken past the
    # html hash by the remaining metadata (review r5: recrawl rows with
    # IDENTICAL html but different warc_ts/lang tied, and which row
    # won depended on partition order, breaking the no-RNG determinism
    # contract)
    w_dup = Window.partitionBy("url").orderBy(
        F.xxhash64(F.col("html")),
        *[F.col(c) for c in pages.columns if c not in ("url", "html")],
    )
    deduped = (
        pages.withColumn("_dup_rn", F.row_number().over(w_dup))
        .filter(F.col("_dup_rn") == 1)
        .drop("_dup_rn")
    )
    distinct_urls = pages.select("url").distinct().persist()
    try:
        n = distinct_urls.count()
        if n <= max_docs:
            return deduped
        # the ≤max_docs picks collect to a tiny driver-side isin
        # literal — no second scan of the pages relation, no join
        picked = sorted(
            {r["url"] for r in sample_pick_plan(distinct_urls, n, max_docs).collect()}
        )
    finally:
        distinct_urls.unpersist()
    return deduped.filter(F.col("url").isin(picked))


def corpus_profile(
    docs: DataFrame,
    dims: tuple[str, ...] = ("lang", "source"),
    chars_col: str = "n_chars",
) -> DataFrame:
    """Dataset-card telemetry in ONE source scan: doc counts, char
    volume, and mean doc length for EVERY combination of the profile
    dimensions — per (lang, source) cell, per-lang and per-source
    marginals, and the corpus total — via ``CUBE`` grouping sets.
    ``gid`` is the grouping bitmask (first dim = MSB, the convention
    Spark's ``grouping_id`` and DuckDB's ``grouping`` share; verified
    cross-engine by the q82 contract) and distinguishes an aggregated
    dimension from a genuinely-null dimension value.

    The naive form runs one groupBy per marginal — 2^|dims| scans of a
    100 TB corpus. CUBE expands each input row map-side into its
    grouping-set combinations feeding ONE partial aggregation: a
    single scan, one shuffle of (cells × combinations) partial rows,
    and the reduced relation is dataset-card sized (|langs| ×
    |sources| cells plus marginals).

    The reference's analogue is the per-batch status/metrics rollup
    (``routers/batches.py`` progress counters); this is that report at
    corpus scale with marginals."""
    return (
        docs.cube(*dims)
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n_docs"),
            F.sum(F.col(chars_col).cast("long")).alias("total_chars"),
            F.round(F.avg(chars_col), 2).alias("avg_chars"),
        )
        .select(*dims, "gid", "n_docs", "total_chars", "avg_chars")
    )
