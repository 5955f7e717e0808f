"""Curation pass: what a training-data pipeline emits after
extraction (the q36 capstone, as an importable plan).

Survivors are documents that (a) clear the quality threshold, (b) are
the canonical copy of their exact-duplicate group, and (c) are not the
higher id of a verified near-duplicate pair. Near-dup pairs come from
the banded MinHash-LSH scale path (``operators.dedup.minhash_lsh_pairs``)
— candidates only, never the all-pairs shingle self-join
(``ngram_jaccard_pairs`` is the correctness baseline, not the plan to
run on a corpus).

Scale notes (10^12 docs): ONE narrow ``(id, lang, text)`` projection of
the source table is persisted (MEMORY_AND_DISK — spills, never OOMs)
and threaded through every leg, so the wide source table is scanned
once per capstone plan — not once per leg (quality, exact-dedup
fingerprint, LSH shingles, contamination shingles, granules all read
from the cached projection; plan-asserted in
``tests/test_plans.py``). Exact dedup is a partial-aggregating
``groupBy(fp)`` + join-back — hot duplicate groups collapse map-side
and the join is AQE-skew-splittable (the window-over-fp shape was
removed in round 5: a window funnels a 10^8-row duplicate group
through one task with no remedy). One shingle explode is persisted
across the LSH signature/verify consumers; the near-dup loser set is
tiny relative to the corpus, so its anti-join broadcasts under AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ai_pdf_extraction_spark.operators.dedup import (
    contamination_flags,
    exact_dedup,
    granule_dedup,
    minhash_lsh_pairs,
)
from ai_pdf_extraction_spark.operators.text_analysis import quality_score, token_count
from ai_pdf_extraction_spark.plans.partitioning import (
    ensure_parallel,
    mark_parallel_balanced,
)
from ai_pdf_extraction_spark.plans.persist import persist


def _narrow_docs(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One persisted narrow ``(id, lang, text)`` projection feeding
    every curation leg.

    Why: the v2 capstone composes five consumers of ``(id, text)``
    (quality/tokens, fingerprint, 2 shingle explodes, granules); without
    this cache each leg re-scans the source table — at 100 TB that is
    five reads of the text column where one suffices. The projection is
    narrow (only the columns curation needs), and ``persist`` defaults
    to MEMORY_AND_DISK, so an oversized corpus spills instead of OOMing.

    The projection is also rebalanced ONCE here by
    ``partitioning.ensure_parallel`` and then explicitly marked
    (``partitioning.mark_parallel_balanced``) so the per-leg guards
    skip their own repartition shuffles. Its own persist slot, so it
    never evicts the shingle or granule relations it composes with.
    """
    lang = (
        F.col("lang")
        if "lang" in docs.columns
        else F.lit(None).cast("string").alias("lang")
    )
    narrow = ensure_parallel(docs.select(id_col, lang, text_col), id_col)
    return mark_parallel_balanced(persist("curate.docs", narrow))


def curated_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_threshold: float = 0.5,
    jaccard_threshold: float = 0.8,
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    _narrow: DataFrame | None = None,
) -> DataFrame:
    """One source scan (persisted narrow projection), one partial-agg
    fingerprint group-by, one LSH pass; survivors carry their quality
    score and token count. Output: (id, lang, quality, n_tokens).

    ``_narrow`` hands in the already-persisted projection when this
    plan runs as a leg of ``curated_corpus_v2`` — the composed capstone
    then owns the single cache slot for all of its legs."""
    narrow = _narrow if _narrow is not None else _narrow_docs(docs, id_col, text_col)
    scored = narrow.select(
        id_col,
        "lang",
        quality_score(text_col).alias("quality"),
        token_count(text_col).alias("n_tokens"),
    )
    canon = (
        exact_dedup(narrow, id_col=id_col, text_col=text_col)
        .filter(~F.col("is_dup"))
        .select(id_col)
    )
    near_losers = (
        minhash_lsh_pairs(
            narrow, id_col=id_col, text_col=text_col,
            n=n, k=k, bands=bands, threshold=jaccard_threshold,
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        scored.join(canon, id_col)
        .join(near_losers, id_col, "left_anti")
        .filter(F.col("quality") >= quality_threshold)
        .select(id_col, "lang", "quality", "n_tokens")
    )


def curated_corpus_v2(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    contamination_n: int = 13,
    _narrow: DataFrame | None = None,
    **knobs,
) -> DataFrame:
    """The FULL curation pass, composing every dedup/filter family the
    engine ships: quality ∧ exact-canonical ∧ ¬LSH-near-dup (the v1
    plan) ∧ ¬benchmark-contaminated, with corpus-level granule-dedup
    stats riding each survivor. Scale shapes compose unchanged — and
    all five legs read the ONE persisted narrow projection built here
    (the source table is scanned once; plan-asserted): the
    contamination shingle set broadcasts, granule winners partial-
    aggregate, the LSH loser set anti-joins — and the docs, shingle and
    granule persists live in separate cache slots so none evicts
    another. Output: (id, lang, quality, n_tokens, n_granules,
    n_kept)."""
    narrow = _narrow if _narrow is not None else _narrow_docs(docs, id_col, text_col)
    base = curated_corpus(
        docs, id_col=id_col, text_col=text_col, _narrow=narrow, **knobs
    )
    contaminated = (
        contamination_flags(
            narrow, benchmark, n=contamination_n, id_col=id_col, text_col=text_col
        )
        .filter(F.col("contaminated"))
        .select(id_col)
    )
    gran = granule_dedup(narrow, id_col=id_col, text_col=text_col).select(
        id_col, "n_granules", "n_kept"
    )
    return base.join(contaminated, id_col, "left_anti").join(gran, id_col)


def curated_corpus_v3(
    docs: DataFrame,
    benchmark: DataFrame,
    emb: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    contamination_n: int = 13,
    cos_threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    _narrow: DataFrame | None = None,
    **knobs,
) -> DataFrame:
    """v2 ∧ ¬embedding-near-dup-loser: the capstone extended with the
    SEMANTIC dedup family — paraphrased/templated near-duplicates that
    share almost no word shingles still collide in embedding space, so
    the higher id of each cosine-near-dup pair drops. The pair search
    is the sign-LSH-bucketed twin (``dedup.embedding_near_dup_pairs_lsh``,
    q64) — within-bucket BLAS only, never the all-pairs product, so
    every leg of v3 remains scale-safe. ``emb`` is the (vec_id,
    embedding) relation keyed like the docs ids. Output: v2's columns.
    """
    from ai_pdf_extraction_spark.operators.dedup import (
        embedding_near_dup_pairs_lsh,
    )

    base = curated_corpus_v2(
        docs, benchmark, id_col=id_col, text_col=text_col,
        contamination_n=contamination_n, _narrow=_narrow, **knobs,
    )
    emb_losers = (
        embedding_near_dup_pairs_lsh(
            emb, id_col=vec_id_col, vec_col=vec_col,
            threshold=cos_threshold, n_planes=n_planes, dim=dim,
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return base.join(emb_losers, id_col, "left_anti")


def curated_corpus_v4(
    docs: DataFrame,
    benchmark: DataFrame,
    emb: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_k: int = 8,
    _narrow: DataFrame | None = None,
    **knobs,
) -> DataFrame:
    """v3 + the substring family: survivors get their duplicated SPANS
    removed (``operators.span_dedup`` — Lee et al. substring dedup at
    word-gram granularity, computed WITHIN the surviving set so a span
    whose only other copy was already curated away is kept). The doc
    set is exactly v3's; the text leg adds per-survivor
    (n_words, n_removed, span_md5) where span_md5 hashes the
    byte-exact surviving text (the q54 dedup_md5 convention keeps the
    contract row narrow). Every prior leg's scale shape is unchanged;
    the span leg adds one partial-agg groupBy over gram hashes and a
    narrow reconstruction.

    The span leg reads the SAME persisted narrow projection as every
    other leg (built here, handed down through v3→v2 via ``_narrow``)
    — the single-source-scan invariant of the capstone family holds
    for v4 too (review r7: joining the raw ``docs`` here silently
    reintroduced a second full text-column scan)."""
    from ai_pdf_extraction_spark.operators.span_dedup import span_dedup

    narrow = _narrow if _narrow is not None else _narrow_docs(docs, id_col, text_col)
    # v3 feeds BOTH the survivor semi-join and the final join — persist
    # or the whole five-leg capstone plan executes twice
    base = persist(
        "curate.v4_base",
        curated_corpus_v3(
            docs, benchmark, emb, id_col=id_col, text_col=text_col,
            _narrow=narrow, **knobs,
        ),
    )
    # the semi join preserves the balanced narrow projection's
    # partitioning (broadcast probe side) — mark it so the span leg's
    # parallelism guard doesn't re-shuffle the survivor texts
    survivors = mark_parallel_balanced(
        narrow.join(base.select(id_col), id_col, "left_semi")
    )
    sp = span_dedup(survivors, id_col=id_col, text_col=text_col, k=span_k)
    span_cols = sp.select(
        id_col,
        "n_words",
        "n_removed",
        F.md5("surviving_text").alias("span_md5"),
    )
    return base.join(span_cols, id_col)


def curated_corpus_v5(
    docs: DataFrame,
    benchmark: DataFrame,
    emb: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lm_payload: dict | None = None,
    **knobs,
) -> DataFrame:
    """v4 + the model-based quality family: CCNet LM-perplexity
    bucketing (``operators.lm``) drops the ``tail`` tercile — the
    gibberish/boilerplate the rule-based Gopher leg cannot see (rules
    catch FORM, the LM catches unpredictable CONTENT). Survivors carry
    ``ppl_bucket`` for mixture weighting downstream (CCNet trains on
    head+middle and keeps the bucket as a conditioning signal).

    Composition keeps every invariant: the LM leg reads the SAME
    persisted narrow projection as the other six legs (single source
    scan), its scoring plan is explode → broadcast model joins →
    partial agg (never a window), and the final filter is an inner
    join against v4's survivor set — scoring work for curated-away
    docs vanishes at the join, and ``empty`` docs (no tokens) were
    already gone at the quality leg."""
    from ai_pdf_extraction_spark.operators.lm import lm_perplexity

    narrow = _narrow_docs(docs, id_col, text_col)
    base = curated_corpus_v4(
        docs, benchmark, emb, id_col=id_col, text_col=text_col,
        _narrow=narrow, **knobs,
    )
    lm = (
        lm_perplexity(narrow, id_col=id_col, payload=lm_payload)
        .filter(F.col("ppl_bucket").isin("head", "middle"))
        .select(id_col, "ppl_bucket")
    )
    return base.join(lm, id_col)
