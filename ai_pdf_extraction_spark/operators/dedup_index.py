"""Incremental (cross-run) dedup against an at-rest index.

Every batch dedup operator in :mod:`dedup` re-shuffles the whole
corpus; a production pipeline dedups each NEW crawl against the
existing corpus without touching the old one. The reference does
exactly this at ingest time — each upload's content hash is checked
against previously stored hashes (``routers/batches.py:381-382``
computes ``file_hash`` per file and rejects matches from the DB) —
and this module is that check at corpus scale, for both families:

* **exact delta** — the index keeps one row per distinct content
  fingerprint ``(fp, canonical_id, n_docs)``; a new crawl's
  fingerprints LEFT-join it (plus a group-by within the batch), and
  the result equals ``exact_dedup(old ∪ new)`` restricted to new ids —
  by construction, because min/count over a union decompose over the
  parts. The old corpus contributes one aggregated row per distinct
  fp: never re-scanned, never re-shuffled.
* **MinHash-LSH delta** — the index keeps each indexed doc's k-hash
  MinHash signature; new docs compute signatures over the SAME frozen
  shingle universe, band into buckets (:func:`dedup.band_buckets`,
  shared with the batch path so banding can't drift), and probe new ∪
  index buckets in one bucket equi-join (:func:`dedup.bucket_candidates`,
  the batch path's candidate step) for the new×new and new×old
  candidates; verification (true n-gram Jaccard,
  :func:`dedup.verify_candidates`) touches ONLY candidate old docs —
  a semi-join pulls their text back through the shingler; the rest
  of the old corpus is never read. With an unrestricted shingle
  universe the result is EXACTLY ``minhash_lsh_pairs(old ∪ new)``
  restricted to pairs touching a new id (signatures and per-pair
  Jaccard are corpus-independent); with a DF cap the universe is
  FROZEN at index build time (the hot-shingle set is computed over
  the indexed corpus and stored), the standard incremental-index
  compromise — a shingle that only becomes hot after later appends
  keeps participating, documented drift vs a from-scratch batch run.

At-rest layout (``write_dedup_index`` / ``append_dedup_index``)::

    index_dir/
      _manifests/           # the snapshot chain (snapshot-<seq>.json)
      fingerprints/<batch>/ # (fp, canonical_id, n_docs) per batch
      signatures/<batch>/   # (doc_id, h0..h{k-1}) per batch
      hot_<token>/          # frozen DF-capped hot set (absent if uncapped)

The index is a snapshot chain, committed like ``SnapshotTable``. Every
build and append writes under FRESH uniquely-named directories
(``b{i}_{token}``) and then commits one snapshot: ``commit_id`` is the
batch, ``metrics`` its observed ``n_docs``, and a build's
``properties`` pin ``DEDUP_INDEX_VERSION``, the shingle/MinHash
``params``, the ``hot_dir`` and ``n_hot_shingles``; a build over an
existing index ``replaces`` every live batch. Publication is the
chain's exclusive link: an append that commits while another is still
writing its batch lands beside it, a commit that loses the race for a
sequence number raises ``SnapshotConflictError`` instead of overwriting
the winner, and a crash at ANY point leaves uncommitted orphans that
are never read. Loading
reads the live batches and re-aggregates fingerprints across them (min
canonical, summed counts — lossless for the delta semantics above). A
version mismatch fails loud instead of silently mixing universes (the
``PQ_CODES_VERSION`` discipline from ``similarity.py``).

Scale notes (10^12-doc index, 10^9-doc crawl batch):

* The exact delta joins the new batch's fp groups against the index's
  fp relation — an equi-join on a 32-byte key; AQE handles skew, and
  the index side is one aggregated row per distinct fp (≪ corpus).
* The LSH bucket probe joins the new batch's (id, bucket) relation
  against the index's derived buckets. On a real cluster the stored
  signature relation would be written ``bucketBy(bucket)`` into a
  catalog table so the probe is co-located (no index shuffle); the
  sandbox has no catalog, so the join is a plain equi-join here and
  the derivation (band md5 over k columns) is narrow column work over
  the index scan. When the new batch is small, AQE turns the probe
  into a broadcast join at runtime.
* Verification cost is O(candidates), never O(new × old).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ai_pdf_extraction_spark.operators.dedup import (
    DEFAULT_MAX_SHINGLE_DF,
    _word_shingles,
    band_buckets,
    bucket_candidates,
    hot_shingle_set,
    minhash_signatures,
    verify_candidates,
)
from ai_pdf_extraction_spark.operators.text_analysis import fingerprint
from ai_pdf_extraction_spark.plans.persist import persist
from ai_pdf_extraction_spark.sources.snapshot_table import ManifestChain

# Bump when index semantics change (fingerprint expression, signature
# hash family, banding, frozen-universe rule): an at-rest index built
# under different semantics must refuse to serve deltas.
DEDUP_INDEX_VERSION = 1


# ---------------------------------------------------------------------------
# relation builders (pure plans — the IO layer below persists them)
# ---------------------------------------------------------------------------


def index_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per distinct content fingerprint of ``docs``:
    ``(fp, canonical_id, n_docs)`` — min id and count, i.e. exactly the
    partial aggregate ``exact_dedup`` computes, kept at rest. NULL text
    coalesces to the same sentinel as ``exact_dedup`` so null-text docs
    dedup across runs too."""
    return (
        docs.select(
            F.col(id_col),
            F.coalesce(fingerprint(text_col), F.lit("null-text")).alias("fp"),
        )
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_docs"),
        )
    )


def hot_shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame | None:
    """The frozen hot-shingle set for an index: shingles whose document
    frequency over the INDEXED corpus exceeds the cap (see
    ``dedup._df_capped`` for why the cap exists). ``None`` cap → no
    frozen set (and exact batch/delta equivalence, see module doc)."""
    if max_shingle_df is None:
        return None
    # the ONE cap rule — shared with the batch path's _df_capped
    return hot_shingle_set(
        _word_shingles(docs, id_col, text_col, n), max_shingle_df
    )


def _frozen_capped(sh: DataFrame, hot: DataFrame | None) -> DataFrame:
    """Apply a FROZEN hot set (anti join) — the incremental analogue of
    ``_df_capped``, which recomputes DF over its input."""
    if hot is None:
        return sh
    return sh.join(hot.select("shingle"), "shingle", "left_anti")


def index_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 12,
    hot: DataFrame | None = None,
) -> DataFrame:
    """MinHash signatures over the frozen universe: (id, h0..h{k-1}).
    Docs with zero surviving shingles get no row — same as the batch
    path, where they can never collide in any bucket."""
    sh = _frozen_capped(_word_shingles(docs, id_col, text_col, n), hot)
    return minhash_signatures(sh, id_col, k)


def live_index_relations(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 12,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> tuple[DataFrame, DataFrame | None]:
    """(signatures, hot) built IN-PLAN over one persisted shingle
    explode — for callers without at-rest files (the q71 contract
    query, tests, and the first build): the hot-set groupBy and the
    signature aggregation otherwise each re-run the split+explode over
    the whole corpus."""
    sh = persist(
        "dedup_index.index_shingles", _word_shingles(docs, id_col, text_col, n)
    )
    hot = (
        hot_shingle_set(sh, max_shingle_df)
        if max_shingle_df is not None
        else None
    )
    return minhash_signatures(_frozen_capped(sh, hot), id_col, k), hot


def exact_dedup_delta(
    new_docs: DataFrame,
    index_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact dedup of a NEW batch against an at-rest fingerprint index.
    Output per new doc: (id, canonical_id, group_size, is_dup,
    in_index) — identical to ``exact_dedup(old ∪ new)`` restricted to
    new ids, plus ``in_index`` (the fp was already stored: the
    reference's ingest-time duplicate rejection signal).

    Decomposition: union-canonical = min(index canonical, batch min);
    union-size = index count + batch count — both read off the
    aggregated index row, so the old corpus is never rescanned. One
    group-by over the batch + one equi-join on the 32-byte fp (AQE
    skew-safe), then the join back to per-doc rows — the same
    hot-key-safe two-exchange shape as ``exact_dedup``."""
    fp_new = new_docs.select(
        F.col(id_col),
        F.coalesce(fingerprint(text_col), F.lit("null-text")).alias("fp"),
    )
    batch_groups = fp_new.groupBy("fp").agg(
        F.min(id_col).alias("_batch_min"),
        F.count("*").alias("_batch_n"),
    )
    idx = index_fps.select(
        "fp",
        F.col("canonical_id").alias("_idx_canonical"),
        F.col("n_docs").alias("_idx_n"),
    )
    merged = batch_groups.join(idx, "fp", "left").select(
        "fp",
        F.when(
            F.col("_idx_canonical").isNotNull(),
            F.least("_idx_canonical", "_batch_min"),
        )
        .otherwise(F.col("_batch_min"))
        .alias("canonical_id"),
        (F.coalesce("_idx_n", F.lit(0)) + F.col("_batch_n")).alias("group_size"),
        F.col("_idx_canonical").isNotNull().alias("in_index"),
    )
    return (
        fp_new.join(merged, "fp")
        .select(id_col, "canonical_id", "group_size", "in_index")
        .withColumn("is_dup", F.col(id_col) != F.col("canonical_id"))
        .select(id_col, "canonical_id", "group_size", "is_dup", "in_index")
    )


def minhash_lsh_delta(
    new_docs: DataFrame,
    index_sigs: DataFrame,
    old_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    threshold: float = 0.4,
    hot: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs touching a NEW batch, against an at-rest
    MinHash-signature index. Output: (id_a, id_b, jaccard), id_a <
    id_b, at least one id from the new batch. Ids must be globally
    unique across batches (crawl ids are).

    The batch plan's steps (``dedup.minhash_lsh_pairs``) with an index
    side: the new batch's buckets probe new ∪ index buckets in ONE
    bucket equi-join (``dedup.bucket_candidates``), which yields the
    new×new and new×old candidates and the candidate old ids at once.
    Verification (``dedup.verify_candidates``) is true n-gram Jaccard
    over the frozen universe, computed from the new batch's shingles
    plus the shingles of ONLY the candidate old docs (``old_docs``
    semi-joined on the candidate old ids — the corpus relation is the
    text store; the index never duplicates text). With ``hot=None``
    and an uncapped batch run this equals ``minhash_lsh_pairs(old ∪
    new)`` restricted to new-touching pairs (pinned in pytest).

    The bucket equi-join shuffles both sides; AQE turns it into a
    broadcast at runtime when the new side is small, and a production
    deployment stores signatures ``bucketBy(bucket)`` to co-locate the
    index side (module doc).
    """
    # the new batch's capped shingles feed signatures + verification
    new_sh = persist(
        "dedup_index.delta_shingles",
        _frozen_capped(_word_shingles(new_docs, id_col, text_col, n), hot),
    )
    # two consumers (the probe and the build side's new half) —
    # unpersisted each re-runs the signature groupBy
    new_b = persist(
        "dedup_index.new_buckets",
        band_buckets(minhash_signatures(new_sh, id_col, k), id_col, k, bands),
    )
    old_b = band_buckets(index_sigs, id_col, k, bands)
    # feeds both verification and the candidate-old-id semi-join —
    # persisted so the index probe runs once
    candidates = persist(
        "dedup_index.delta_candidates", bucket_candidates(new_b, old_b, id_col)
    )
    old_cand_ids = (
        candidates.select(F.col("old_id").alias(id_col)).dropna().distinct()
    )
    # plain semi-join — the candidate-id set is data-dependent and
    # unbounded (boilerplate-heavy corpora amplify bucket collisions),
    # so forcing a broadcast here could exceed the broadcast cap on
    # exactly the inputs that need the delta most; AQE still converts
    # it to a broadcast at runtime when the set is actually small.
    old_cand = old_docs.join(old_cand_ids, id_col, "left_semi")
    old_cand_sh = _frozen_capped(
        _word_shingles(old_cand, id_col, text_col, n), hot
    )
    # verify_candidates aggregates this into per-doc arrays that it
    # probes twice (id_a, id_b): unpersisted, each side re-runs the
    # candidate semi-join + explode + frozen-cap anti join
    verify_sh = persist(
        "dedup_index.verify_shingles", new_sh.unionByName(old_cand_sh)
    )
    return verify_candidates(verify_sh, candidates, id_col, threshold)


# ---------------------------------------------------------------------------
# at-rest IO
# ---------------------------------------------------------------------------


def _open(index_dir: str) -> tuple[ManifestChain, dict]:
    """The index's chain and its summary (build properties, live
    ``batches``, summed ``n_docs``); fails loud on a version mismatch."""
    chain = ManifestChain(index_dir)
    summary = chain.batch_summary("dedup index")
    if summary.get("version") != DEDUP_INDEX_VERSION:
        raise ValueError(
            f"dedup index at {index_dir} has version "
            f"{summary.get('version')!r}, this build expects "
            f"{DEDUP_INDEX_VERSION} — rebuild the index (fingerprint/"
            "signature semantics changed; serving deltas across "
            "versions would silently mix universes)"
        )
    return chain, summary


def _read_hot(spark: SparkSession, root: str, summary: dict) -> DataFrame | None:
    hot_dir = summary["hot_dir"]
    return spark.read.parquet(os.path.join(root, hot_dir)) if hot_dir else None


def _write_batch(
    docs: DataFrame,
    root: str,
    batch: str,
    params: dict,
    hot: DataFrame | None,
    sigs: DataFrame | None = None,
) -> int:
    """Write one batch's fingerprint + signature relations; returns the
    batch doc count, observed on the fingerprint write (the summed
    ``n_docs`` of its rows), so no job runs after the writes."""
    observed = Observation()
    index_fingerprints(docs, params["id_col"], params["text_col"]).observe(
        observed, F.sum("n_docs").alias("n")
    ).write.mode("overwrite").parquet(os.path.join(root, "fingerprints", batch))
    if sigs is None:
        sigs = index_signatures(
            docs,
            params["id_col"],
            params["text_col"],
            n=params["n"],
            k=params["k"],
            hot=hot,
        )
    sigs.write.mode("overwrite").parquet(os.path.join(root, "signatures", batch))
    return int(observed.get["n"] or 0)


def write_dedup_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> dict:
    """Build a fresh dedup index over ``docs``; returns its summary.
    The hot-shingle universe is computed here and FROZEN — appends and
    deltas reuse it (module doc). Over an existing index the build
    snapshot replaces every live batch."""
    chain = ManifestChain(index_dir)
    params = {
        "id_col": id_col,
        "text_col": text_col,
        "n": n,
        "k": k,
        "bands": bands,
        "max_shingle_df": max_shingle_df,
    }
    token = uuid.uuid4().hex[:8]
    # hot set + signatures off ONE persisted shingle explode
    sigs, hot = live_index_relations(
        docs, id_col, text_col, n, k, max_shingle_df
    )
    hot_dir = None
    if hot is not None:
        # persisted for the signature write's frozen-cap anti join; the
        # build stat is observed on this write, which fills the cache
        hot = hot.persist()
        hot_dir = f"hot_{token}"
        hot_obs = Observation()
        hot.observe(hot_obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(os.path.join(chain.root, hot_dir))
        n_hot = int(hot_obs.get["n"])
    else:
        n_hot = 0
    batch = f"b0_{token}"
    n_docs = _write_batch(docs, chain.root, batch, params, hot, sigs=sigs)
    if hot is not None:
        hot.unpersist()
    chain.commit_batch(batch, {"n_docs": n_docs}, build={
        "version": DEDUP_INDEX_VERSION,
        "params": params,
        "hot_dir": hot_dir,
        "n_hot_shingles": n_hot,
    })
    return _open(index_dir)[1]


def load_dedup_index(spark: SparkSession, index_dir: str) -> dict:
    """Load an at-rest index: summary + live relations. Returns
    ``{"manifest", "fps", "sigs", "hot"}`` — ``manifest`` the summary,
    ``fps`` re-aggregated across batches (min canonical / summed
    counts: lossless), ``sigs`` the live batches, ``hot`` the frozen
    set or None. Fails loud on a version mismatch."""
    chain, summary = _open(index_dir)
    batches = summary["batches"]

    def read(relation: str) -> DataFrame:
        return spark.read.parquet(
            *(os.path.join(chain.root, relation, b) for b in batches)
        )

    fps = read("fingerprints")
    if len(batches) > 1:
        fps = fps.groupBy("fp").agg(
            F.min("canonical_id").alias("canonical_id"),
            F.sum("n_docs").alias("n_docs"),
        )
    return {
        "manifest": summary,
        "fps": fps,
        "sigs": read("signatures"),
        "hot": _read_hot(spark, chain.root, summary),
    }


def append_dedup_index(
    spark: SparkSession, index_dir: str, new_docs: DataFrame
) -> dict:
    """Append a new batch to an existing index (the index-append half
    of the crawl loop: delta-dedup the batch, then append its survivors
    — or the whole batch — so the NEXT crawl sees it); returns the
    summary. Params come from the build (an append cannot change the
    universe); the new uniquely-named batch directory is invisible
    until its snapshot commits, so a crashed append leaves an ignored
    orphan and a re-run simply writes a fresh one (resume-safe, pinned
    in pytest)."""
    chain, summary = _open(index_dir)
    batch = f"b{len(summary['batches'])}_{uuid.uuid4().hex[:8]}"
    n_new = _write_batch(
        new_docs, chain.root, batch, summary["params"],
        _read_hot(spark, chain.root, summary),
    )
    chain.commit_batch(batch, {"n_docs": n_new})
    return _open(index_dir)[1]


def exact_delta_from_index(index: dict, new_docs: DataFrame) -> DataFrame:
    """``exact_dedup_delta`` wired from a loaded index (params from the
    build, so a caller can't accidentally mismatch universes)."""
    p = index["manifest"]["params"]
    return exact_dedup_delta(new_docs, index["fps"], p["id_col"], p["text_col"])


def lsh_delta_from_index(
    index: dict,
    new_docs: DataFrame,
    old_docs: DataFrame,
    threshold: float = 0.4,
) -> DataFrame:
    """``minhash_lsh_delta`` wired from a loaded index (params from the
    build)."""
    p = index["manifest"]["params"]
    return minhash_lsh_delta(
        new_docs,
        index["sigs"],
        old_docs,
        id_col=p["id_col"],
        text_col=p["text_col"],
        n=p["n"],
        k=p["k"],
        bands=p["bands"],
        threshold=threshold,
        hot=index["hot"],
    )
