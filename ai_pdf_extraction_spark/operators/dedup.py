"""Deduplication operators for training-data curation at 100 TB scale.

Four families, each a ``queries()`` entry with a DuckDB oracle (except
simhash, whose 64-bit JVM hash has no DuckDB twin — rows-only check):

* **exact** — content-fingerprint groupBy; scale path: one shuffle on
  a 32-byte key, AQE-coalesced.
* **n-gram Jaccard** — word-shingle explode + self-equi-join on the
  shingle; the join key is the shingle hash, so Zipfian shingles are
  the skew risk → common shingles are dropped by a document-frequency
  cap before the join (classic stopword-shingle pruning).
* **MinHash + LSH** — k md5-permutation minima per doc, banded into
  LSH buckets; candidate pairs = same band bucket, verified by real
  Jaccard. Scale path: cost is O(docs·k) + bucket joins — never the
  all-pairs product.
* **SimHash** — 64-bit xxhash64 token sketch; Hamming-ball candidates
  via 4×16-bit band equality (pigeonhole: distance ≤3 ⟹ ≥1 band equal).
* **clustering** — connected components over the pair graph via
  iterative min-label propagation (``neardup_clusters``), the step that
  turns pairs into keep/drop decisions.

All shingling/hashing is built-in Column expressions — no per-row
Python UDFs; the embedding pair search runs its block-grid BLAS inner
loop as Arrow-batched ``applyInPandas`` tasks (vectorized numpy),
never row-at-a-time Python.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ai_pdf_extraction_spark.operators.text_analysis import fingerprint
from ai_pdf_extraction_spark.plans.partitioning import ensure_parallel
from ai_pdf_extraction_spark.plans.persist import persist
from ai_pdf_extraction_spark.worker import prepare_worker

# Shingles appearing in more docs than this are dropped before any
# join — a handful of ubiquitous (stopword-ish) shingles would
# otherwise create a quadratic hot key in the self-join at web scale.
# Jaccard is then measured over the *rare-shingle universe*: sizes and
# shared counts both exclude capped shingles, so numerator and
# denominator agree.  The DuckDB oracles embed the same constant.
DEFAULT_MAX_SHINGLE_DF = 1000

# The two all-pairs CORRECTNESS BASELINES (ngram_jaccard_pairs,
# embedding_near_dup_pairs) refuse corpora above this size: their
# docstrings have always designated the bucketed twins
# (minhash_lsh_pairs; LSH/IVF pre-filter) as the plans to run at scale,
# and a guard is the cheap enforcement — a silent quadratic plan on a
# 10^8-doc corpus is an outage, not a slow query (verdict r5 #7). The
# one-count() job the guard costs is trivial next to the quadratic work
# it gates; pass max_docs=None to accept the quadratic cost knowingly.
ALL_PAIRS_MAX_DOCS = 100_000

# Above this many docs the all-pairs Jaccard baseline switches from the
# flat shingle self-join to the exact prefix-filtered plan (Bayardo et
# al., "Scaling Up All Pairs Similarity Search", WWW'07): candidate
# pairs are generated only from each doc's rarest-first shingle PREFIX
# (length n − ⌈t·n⌉ + 1), then verified exactly. The crossover is
# empirical (r8, measured): below it the self-join's two stages beat
# the prefix plan's six small ones (sf0.1, 5k docs: 0.6 s vs 2.0 s
# noop); above it the Σc(s)² pair mass dominates and the prefix cut
# wins (50k docs, 1.3·10^8 pair mass: 64 s vs 31 s noop, min-of-3).
# Doc count is the probe the guard already pays for; it is a proxy for
# pair mass, and the guard caps how far the proxy can be off.
PREFIX_FILTER_MIN_DOCS = 20_000


def _guard_all_pairs(
    df: DataFrame, max_docs: int | None, op: str, scale_twin: str
) -> int | None:
    # limit(max+1).count(), NOT count(): the guard must stay cheap on
    # the very corpora it refuses — a full count of a 10^12-row table
    # just to say "too big" would itself be a major job; the limit
    # short-circuits the scan as soon as max_docs+1 rows exist.
    # Returns the probed doc count (exact for admitted corpora) so the
    # caller can pick a plan by scale without a second count job.
    if max_docs is None:
        return None
    n = df.limit(max_docs + 1).count()
    if n > max_docs:
        raise ValueError(
            f"{op} is an all-pairs correctness baseline and refuses "
            f">{max_docs} docs (max_docs={max_docs}); run {scale_twin} "
            "at corpus scale, or pass max_docs=None to force the "
            "quadratic plan"
        )
    return n


def _df_capped(sh: DataFrame, max_shingle_df: int | None) -> DataFrame:
    """Drop shingles whose document frequency exceeds the cap. ``sh``
    is distinct per (doc, shingle), so count(*) per shingle = DF.

    Joined as an ANTI join against the HOT set (DF > cap) rather than
    an inner join against the rare set: under Zipf the hot set is tiny
    relative to the relation, so AQE converts the anti join to a
    broadcast at runtime; the rare set is nearly the whole vocabulary
    and would always shuffle.

    The RAW explode is persisted first: it feeds BOTH sides of the
    anti join (the probe stream and the hot-set group-by), and
    unpersisted the split+transform+explode subtree executes twice —
    measured ~2× on the shingle leg's materialization. Same
    MEMORY_AND_DISK spill story as every other shingle persist."""
    if max_shingle_df is None:
        return sh
    # raw (pre-cap) slot, separate from the capped shingle slot so
    # persisting the capped result doesn't evict the raw relation
    # mid-materialization
    sh = persist("dedup.raw_shingles", sh)
    return sh.join(hot_shingle_set(sh, max_shingle_df), "shingle", "left_anti")


def hot_shingle_set(sh: DataFrame, max_shingle_df: int) -> DataFrame:
    """Shingles with DF > cap over a distinct (doc, shingle) relation —
    THE cap rule, in one place: the batch path (``_df_capped``) and the
    frozen index universe (``dedup_index.hot_shingles``) both call it,
    so a future edit (e.g. > vs >=) cannot silently unfreeze the
    batch/delta universe equivalence."""
    return (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df_"))
        .filter(F.col("df_") > max_shingle_df)
        .select("shingle")
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document canonical assignment: every doc maps to the
    smallest id sharing its fingerprint. Output: (doc_id,
    canonical_id, group_size, is_dup).

    Scale shape: ``groupBy(fp).agg(min(id), count(*))`` + join back on
    the fingerprint — NOT a window over ``fp``. Exact duplicates at
    crawl scale are exactly the hot keys this operator exists to find
    (parked domains, error pages: a 10^8-row duplicate group), and a
    window ``partitionBy("fp")`` funnels every occurrence of the hot
    key through one task with no remedy (AQE skew splitting does not
    apply to window exchanges). The group-by instead partial-aggregates
    map-side — the 10^8-row group collapses to one row per input
    partition before its shuffle — and the join back on ``fp`` IS
    covered by AQE's skew-join splitting. Two exchanges instead of one,
    but both are hot-key-safe; the 1-shuffle window is only cheaper
    when no key is hot, which is not this operator's design point.

    NULL text coalesces to a sentinel fingerprint BEFORE the group-by:
    an inner join on a null key would silently DROP every null-text
    doc (the window form kept them), and a dedup pass must never lose
    doc ids — null-text docs form one exact-duplicate group, distinct
    from empty-text docs (md5 of ""). The sentinel cannot collide with
    any md5 hex digest (wrong length/alphabet); the q20 oracle
    coalesces identically."""
    fp = docs.select(
        F.col(id_col),
        F.coalesce(fingerprint(text_col), F.lit("null-text")).alias("fp"),
    )
    groups = fp.groupBy("fp").agg(
        F.min(id_col).alias("canonical_id"),
        F.count("*").alias("group_size"),
    )
    return (
        fp.join(groups, "fp")
        .select(id_col, "canonical_id", "group_size")
        .withColumn("is_dup", F.col(id_col) != F.col("canonical_id"))
    )


def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / Dolma
    dedupe-against-eval pass, public method): flag training docs that
    share ≥ ``min_hits`` word n-grams with any benchmark item. The
    benchmark relation is small by definition (eval sets, ~10^4-10^6
    shingles) → its distinct shingles BROADCAST; the docs side is one
    narrow shingle explode + map-side hash probe — no shuffle of doc
    text, no all-pairs, scales to 10^12 docs. Default n=13 matches the
    GPT-3 filter. Output: (id, n_hits, contaminated)."""
    doc_sh = _word_shingles(docs, id_col, text_col, n)
    bench_sh = (
        _word_shingles(benchmark, bench_id_col, text_col, n)
        .select("shingle")
        .distinct()
    )
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def granule_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = ". ",
) -> DataFrame:
    """Corpus-level EXACT granule dedup — the C4/Dolma paragraph-dedup
    family (Lee et al. 2021's exact-substring dedup is the suffix-array
    generalization; this is the hash-granule form production pipelines
    actually run at crawl scale): split every doc on ``sep``, keep only
    the FIRST occurrence of each granule corpus-wide (ordered by
    (id, position) — deterministic), reassemble the survivors in
    original order. Output: (id, n_granules, n_kept, dedup_text).

    Scale shape: the first-occurrence winner per granule is a
    ``min(struct(id, pos))`` GROUP-BY — partial aggregation combines
    map-side, so a cookie banner repeated across 10^8 pages reduces to
    one row per partition BEFORE the shuffle (a window row_number over
    the granule would funnel every occurrence of the hot key through
    one task, and AQE's skew splitting does not apply to window
    exchanges). Then one shuffle back on the id for reassembly. Docs
    with zero non-empty granules stay in the output (n_granules=0) —
    a dedup pass must never lose doc ids. The granule projection is
    persisted across its two consumers (the stats leg and the winners
    leg) so the text scan + split runs once."""
    docs = ensure_parallel(docs, id_col)
    # own slot so a composed plan (curate v2: LSH near-dup ∧ granule
    # stats) keeps both persists live instead of evicting the shingles
    base = persist(
        "dedup.granules",
        docs.select(
            F.col(id_col),
            F.filter(
                F.split(F.col(text_col), _re.escape(sep)),
                lambda x: F.length(x) > 0,
            ).alias("_granules"),
        ),
    )
    stats = base.select(id_col, F.size("_granules").alias("n_granules"))
    g = base.select(
        F.col(id_col), F.posexplode("_granules").alias("pos", "granule")
    )
    winners = (
        g.groupBy("granule")
        .agg(F.min(F.struct(id_col, "pos")).alias("w"))
        .select(
            F.col(f"w.{id_col}").alias(id_col),
            F.col("w.pos").alias("pos"),
            "granule",
        )
    )
    survivors = winners.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "granule"))),
                lambda s: s["granule"],
            ),
        ).alias("dedup_text"),
    )
    return stats.join(survivors, id_col, "left").select(
        id_col,
        "n_granules",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
    )


def _word_shingles(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle).

    Built entirely from array functions: split → sequence of start
    indices → transform to joined n-grams → explode. JVM-side only.

    The word array is PROJECTED first (its own select) so the transform
    lambda references a bound attribute: inlining ``split(...)`` into
    the lambda body makes Catalyst recompute the split per element (no
    CSE across HOF lambdas) — O(words²) work per doc, measured ~2×
    on the whole shingle leg. Multi-use of the non-cheap alias keeps
    CollapseProject from re-inlining it."""
    docs = ensure_parallel(docs, id_col)
    base = docs.select(
        F.col(id_col),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_words"),
    )
    words = F.col("_words")
    n_words = F.size(words)
    # guard: sequence(1, 0) would generate a DESCENDING [1, 0] —
    # docs shorter than n words have no shingles
    starts = F.when(
        n_words >= n, F.sequence(F.lit(1), n_words - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    shingles = F.transform(
        starts,
        lambda i: F.concat_ws(" ", *[F.element_at(words, i + j) for j in range(n)]),
    )
    return base.select(
        F.col(id_col), F.explode(F.array_distinct(shingles)).alias("shingle")
    )


def _verify_pairs_by_arrays(
    pairs: DataFrame, arrays: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard over candidate (id_a, id_b) pairs from a per-doc
    shingle-array relation ``arrays`` (id, ``_shs`` array, ``n_shingles``):
    two id-keyed probes + ``array_intersect``. ``arrays`` rows must be
    distinct per shingle so |intersect| equals the shared count; array
    ORDER is irrelevant. The ONE site for the round-4 ≥-threshold emit
    rule — shared by the LSH verify path and the prefix-filtered
    all-pairs plan so the lockstep rounding semantics cannot fork."""
    a = arrays.select(
        F.col(id_col).alias("id_a"),
        F.col("_shs").alias("_sa"),
        F.col("n_shingles").alias("na"),
    )
    b = arrays.select(
        F.col(id_col).alias("id_b"),
        F.col("_shs").alias("_sb"),
        F.col("n_shingles").alias("nb"),
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("shared", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.4,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    max_docs: int | None = ALL_PAIRS_MAX_DOCS,
    prefix_min_docs: int = PREFIX_FILTER_MIN_DOCS,
) -> DataFrame:
    """All pairs with n-gram Jaccard ≥ threshold over the rare-shingle
    universe (DF ≤ ``max_shingle_df``). Output: (id_a, id_b, jaccard)
    with id_a < id_b, jaccard rounded to 4.

    This is the all-pairs CORRECTNESS BASELINE — quadratic in
    shared-shingle pairs — and it refuses corpora above ``max_docs``
    (see ``ALL_PAIRS_MAX_DOCS``): ``minhash_lsh_pairs`` is the plan to
    run at scale. The LSH paths verify their bucket candidates with
    ``verify_candidates``, which is linear in candidates and has no
    guard. From ``prefix_min_docs`` docs up, candidate pairs are
    generated by the exact Bayardo prefix filter instead of the flat
    self-join (identical output, ~2× at 5·10^4 docs — see
    ``PREFIX_FILTER_MIN_DOCS``); pass ``prefix_min_docs=0`` to force
    that plan on a small corpus (tests do). With ``max_docs=None`` a
    ``limit(prefix_min_docs + 1).count()`` probe picks the plan.

    The DF cap is ON by default: at web scale a handful of ubiquitous
    shingles would otherwise create a quadratic hot key in the
    self-join (the same skew class the salted-host repartition handles
    for hosts). Sizes are computed AFTER the cap so Jaccard's
    numerator and denominator use the same shingle universe.
    """
    n_docs = _guard_all_pairs(
        docs, max_docs, "ngram_jaccard_pairs", "minhash_lsh_pairs"
    )
    if n_docs is None and prefix_min_docs > 0:
        # unguarded: probe only as far as the plan choice needs
        n_docs = docs.limit(prefix_min_docs + 1).count()
    # The explode feeds three consumers (sizes + both join sides):
    # materialize it once instead of re-running split/explode per use.
    sh = persist(
        "dedup.shingles",
        _df_capped(_word_shingles(docs, id_col, text_col, n), max_shingle_df),
    )
    if prefix_min_docs <= 0 or n_docs >= prefix_min_docs:
        # Exact prefix-filtered all-pairs (Bayardo et al., WWW'07;
        # see PREFIX_FILTER_MIN_DOCS for the crossover measurement).
        # Lemma: under ANY fixed total order on shingles, a pair with
        # J ≥ t shares its intersection's order-minimum shingle within
        # BOTH docs' first (n − ⌈t·n⌉ + 1) shingles — J ≥ t forces
        # |a∩b| ≥ t·|a| (union ≥ |a|), and if no intersection element
        # sat in a's prefix, all ≥ ⌈t·|a|⌉ of them would have to fit
        # in the ⌈t·|a|⌉ − 1 positions after it. So joining on prefix
        # shingles only generates every qualifying pair (candidates
        # are a superset; the exact Jaccard verify below re-filters).
        # Rarest-first order (by global DF, then shingle) puts DF-1
        # shingles in the prefixes, collapsing the candidate mass —
        # measured 9.5× fewer candidates than the full pair mass at
        # sf0.1 vs 5.1× for lexicographic order.
        #
        # PRUNING THRESHOLD: the emit filter accepts round4(J) ≥ t,
        # which half-away rounding satisfies for true J as low as
        # t − 5e-5 — so every pruning bound below uses t_eff =
        # t − 1e-4 (the q24 loose-cosine precedent: |round4(x) − x| ≤
        # 5e-5, margin doubled), NOT t itself; bounding with t would
        # drop a pair like shared 1601 / union 4003 at t = 0.4
        # (J = .39995 → round4 = .4, emitted by the self-join plan,
        # outside the t-pruned candidate set — review r8). The extra
        # 1e-9 absorbs float error in ⌈t_eff·n⌉; both relaxations only
        # ever LENGTHEN a prefix / keep more candidates, and plen is
        # clamped at 0 so a nonsense threshold > 1 yields the empty
        # result (as the self-join plan does) instead of a negative
        # slice length.
        t_eff = max(threshold - 1e-4, 0.0)
        dfc = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
        # per-doc sorted shingle arrays feed three consumers (prefix
        # explode + both verify sides), so they get their own slot
        arrays = persist(
            "dedup.pair_arrays",
            sh.join(dfc, "shingle")
            .groupBy(id_col)
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("_df", "shingle"))),
                    lambda s: s["shingle"],
                ).alias("_shs"),
                F.count("*").alias("n_shingles"),
            ),
        )
        n = F.col("n_shingles")
        plen = F.greatest(
            n - F.ceil(F.lit(t_eff) * n - F.lit(1e-9)) + 1, F.lit(0)
        )
        pe = arrays.select(
            F.col(id_col),
            F.col("n_shingles").alias("_n"),
            F.explode(F.slice("_shs", F.lit(1), plen)).alias("shingle"),
        )
        # size filter: J ≤ min(na,nb)/max(na,nb), so emission needs
        # min ≥ t_eff·max — prunes candidates before the distinct
        # pays for them
        cand = (
            pe.alias("a")
            .join(pe.alias("b"), "shingle")
            .filter(
                (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                & (F.col("a._n") >= F.lit(t_eff) * F.col("b._n") - F.lit(1e-9))
                & (F.col("b._n") >= F.lit(t_eff) * F.col("a._n") - F.lit(1e-9))
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct()
        )
        return _verify_pairs_by_arrays(cand, arrays, id_col, threshold)
    # Small-corpus all-pairs baseline: the JVM shingle self-join + pair
    # group-by, kept DELIBERATELY below the prefix-filter crossover
    # after measuring two pandas block-grid rewrites (r8): an
    # arrays-of-shingles grid hit 2-3× timing variance inside the full
    # bench (object-array Arrow transfer + per-task factorize are
    # allocation-hostile in long-lived workers), and a primitive
    # exploded-key grid paid an 8×-replica 21M-row group-shuffle into
    # Python that dwarfed the win. The self-join enumerates Σ c(s)²
    # pair rows but below the crossover that mass is cheaper than the
    # prefix plan's extra stages; the guard caps how far it can grow
    # (see the max_docs guard) — minhash_lsh_pairs is the scale plan.
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, "shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("nb"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    sh: DataFrame, id_col: str = "doc_id", k: int = 12
) -> DataFrame:
    """k-permutation MinHash signature per doc over a shingle relation
    (id, shingle) — the caller picks the universe (``_df_capped`` for a
    batch, the frozen hot set for the incremental index). Permutation i
    is ``min(md5(i || ':' || shingle))`` — md5 exists verbatim in
    DuckDB, making the whole signature oracle-checkable. Output:
    (id, h0..h{k-1})."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
        for i in range(k)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def band_buckets(
    sig: DataFrame, id_col: str = "doc_id", k: int = 12, bands: int = 4
) -> DataFrame:
    """Banded LSH bucket keys from a MinHash signature relation
    (``minhash_signatures`` layout: id + h0..h{k-1}): band b's key is
    ``md5(h_{b·r} | … | h_{b·r+r−1})`` prefixed with the band index,
    stacked into one (id, bucket) relation ready for the bucket
    equi-join. Shared by the batch LSH (``minhash_lsh_pairs``) and the
    incremental delta (``dedup_index``) so at-rest signatures and a
    fresh batch can never band differently."""
    rows_per_band = k // bands
    band_cols = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col), *band_cols)
    return banded.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.concat(F.lit(f"{b}#"), F.col(f"band{b}")) for b in range(bands)
            ])
        ).alias("bucket"),
    )


def bucket_candidates(
    new_b: DataFrame, old_b: DataFrame | None, id_col: str
) -> DataFrame:
    """Distinct LSH candidate pairs from ONE bucket equi-join: every
    ``new_b`` row (id, bucket) probes ``new_b ∪ old_b``, each side
    tagged. Output: (id_a, id_b, old_id), id_a < id_b; ``old_id`` is
    the pair's ``old_b`` member, NULL for a new×new pair.

    A new×new collision keeps only probe id < build id (each pair once,
    never a self-pair). Ids must be unique across the two sides (crawl
    ids are), so (probe id, build id) names the pair and the one
    ``distinct`` — on the probe id first, which keeps a probe side
    already hashed by id from re-shuffling — dedups pairs that collide
    in several bands before a new×old pair is ordered by least /
    greatest. With ``old_b=None`` (the batch plan) the tag is a
    constant false that the optimizer folds out of the join filter."""
    build = new_b.withColumn("_old", F.lit(False))
    if old_b is not None:
        build = build.unionByName(old_b.withColumn("_old", F.lit(True)))
    pairs = (
        new_b.alias("a")
        .join(build.alias("b"), "bucket")
        .filter(F.col("_old") | (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("_new"),
            F.col(f"b.{id_col}").alias("_other"),
            "_old",
        )
        .distinct()
    )
    return pairs.select(
        F.least("_new", "_other").alias("id_a"),
        F.greatest("_new", "_other").alias("id_b"),
        F.when(F.col("_old"), F.col("_other")).alias("old_id"),
    )


def verify_candidates(
    sh: DataFrame, candidates: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact n-gram Jaccard of LSH candidate pairs: the shingle relation
    ``sh`` (id, shingle — distinct per pair, already capped) scored
    over a candidate set (id_a, id_b, ...). Output: (id_a, id_b,
    jaccard) ≥ threshold. Linear in candidates, so unlike the
    all-pairs baseline it has no size guard.

    Per-doc shingle ARRAYS + ``array_intersect`` instead of an exploded
    (pair, shingle) match join: that shape shuffled |candidates|·
    |shingles per doc| intermediate rows through a second join and a
    pair group-by; this one aggregates the shingle relation ONCE to
    (id, set, size) and probes it twice by id (AQE skew-splittable — a
    hot doc in many candidate pairs is a join key, not a window). A
    pair with zero shared shingles carries jaccard 0 and drops at the
    threshold filter (every caller's threshold is > 0 — the registry
    pins 0.4/0.8). Array rows are doc-length-bounded — the
    granule/boilerplate collect_list precedent."""
    arrays = sh.groupBy(id_col).agg(
        F.collect_list("shingle").alias("_shs"),
        F.count("*").alias("n_shingles"),
    )
    return _verify_pairs_by_arrays(candidates, arrays, id_col, threshold)


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    threshold: float = 0.4,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Candidate pairs from banded-LSH bucket collisions, verified with
    true n-gram Jaccard. Output: (id_a, id_b, jaccard), id_a < id_b.

    With k=12, bands=4 (rows r=3) the LSH s-curve crosses ~0.5 at
    j≈0.55; candidates are a superset of real pairs near the threshold
    and the verify join removes false positives. Signatures, buckets,
    and verification all use one DF-capped shingle universe so the
    verified Jaccard matches ``ngram_jaccard_pairs`` exactly. The
    incremental twin (``dedup_index.minhash_lsh_delta``) runs the same
    signature → band → ``bucket_candidates`` → ``verify_candidates``
    steps with an index side.
    """
    # two consumers (signatures + verification): one explode
    sh = persist(
        "dedup.shingles",
        _df_capped(_word_shingles(docs, id_col, text_col, n), max_shingle_df),
    )
    stacked = band_buckets(minhash_signatures(sh, id_col, k), id_col, k, bands)
    # Verify ONLY the candidate pairs — never the all-pairs product;
    # this is the whole point of LSH at 10^12-doc scale.
    return verify_candidates(
        sh, bucket_candidates(stacked, None, id_col), id_col, threshold
    )


def neardup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.4,
    max_iter: int = 20,
    _pairs: DataFrame | None = None,
) -> DataFrame:
    """Connected components over the near-duplicate pair graph:
    every doc labeled with the smallest id reachable through pairs with
    Jaccard ≥ threshold. Output: (id, cluster_id, cluster_size,
    is_canonical).

    Iterative min-label propagation (the Hash-to-Min / label-prop
    family used for web-scale CC): each round joins the current labels
    across edges and keeps the per-node minimum; converges in
    O(component diameter) rounds — near-dup clusters are shallow, so
    a handful. Each round persists its frontier, fully materializes it
    via the convergence count (so the previous frontier can be
    unpersisted without tearing the lineage open), then drops the old
    one. Raises if ``max_iter`` rounds don't converge — silently
    non-minimal labels would ship wrong keep/drop decisions. Pairs
    default to LSH-verified MinHash (never the all-pairs product)."""
    pairs = (
        _pairs
        if _pairs is not None
        else minhash_lsh_pairs(docs, id_col, text_col, threshold=threshold)
    )
    fwd = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = docs.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).persist()
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.dst, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            .persist()
        )
        # full count (not limit(1)): materializes EVERY new_labels
        # partition into the cache before the old frontier is dropped —
        # a partial probe would leave uncached partitions whose lineage
        # chains back through every unpersisted round
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    else:
        edges.unpersist()
        labels.unpersist()
        raise RuntimeError(
            f"neardup_clusters did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter) — raise max_iter; "
            "labels would be silently non-minimal otherwise"
        )
    edges.unpersist()
    # the returned plan references the persisted labels, so the next
    # call evicts them; already persisted, the slot only tracks them
    persist("dedup.labels", labels)
    # cluster sizes via partial-aggregating groupBy + join back — the
    # exact_dedup rule: a giant near-dup cluster (boilerplate family at
    # crawl scale) is a hot label, a window over it funnels one task
    # with no AQE remedy, while the join back IS skew-splittable
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    out = labels.join(sizes, "label").select(
        F.col("node").alias(id_col),
        F.col("label").alias("cluster_id"),
        "cluster_size",
        (F.col("node") == F.col("label")).alias("is_canonical"),
    )
    return out


def _simhash_bits(
    docs: DataFrame, id_col: str, text_col: str, token_hash, bits: int
) -> DataFrame:
    """Shared SimHash scaffold: tokenize → explode → per-bit ±1 votes →
    majority bits. ``token_hash`` maps the ``word`` Column to an
    integer hash Column — the ONLY thing the 64-bit production sketch
    and its 16-bit oracle twin differ in, so tokenization can never
    drift between them. Output: (id, simhash long)."""
    words = F.explode(
        F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    ).alias("word")
    tok = ensure_parallel(docs, id_col).select(F.col(id_col), words)
    h = token_hash(F.col("word"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(bits)
    ]
    sums = tok.groupBy(id_col).agg(*bit_sums)
    sim = F.lit(0).cast("long")
    for i in range(bits):
        sim = sim + F.when(
            F.col(f"s{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
    return sums.select(F.col(id_col), sim.alias("simhash"))


def simhash_sketch(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per doc from xxhash64 token hashes (JVM-side bit
    arithmetic, no UDF). Oracle: a golden parquet from the independent
    pure-Python XXH64 twin (``oracle/xxh64.py``).
    Output: (id, simhash bigint, band0..band3 int)."""
    out = _simhash_bits(docs, id_col, text_col, F.xxhash64, bits)
    for band in range(4):
        out = out.withColumn(
            f"band{band}",
            F.shiftright(F.col("simhash"), band * 16).bitwiseAND(F.lit(0xFFFF)).cast("int"),
        )
    return out


def simhash16_sketch(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """16-bit SimHash from md5-derived token hashes — the
    oracle-checkable twin of ``simhash_sketch`` (md5 exists verbatim in
    DuckDB; xxhash64 does not); shares the full scaffold via
    ``_simhash_bits`` so only the hash can differ.
    Output: (id, simhash16 int)."""
    def h16(word):
        return F.conv(F.substring(F.md5(word), 1, 4), 16, 10).cast("int")

    return _simhash_bits(docs, id_col, text_col, h16, 16).select(
        F.col(id_col), F.col("simhash").cast("int").alias("simhash16")
    )


def _round_half_away_4(x):
    """Round to 4 half-AWAY-from-zero: np.round is banker's (half-even)
    but F.round and DuckDB round are half-away — cross-engine lockstep
    demands the same rule everywhere a cosine is emitted."""
    import numpy as np

    return np.sign(x) * np.floor(np.abs(x) * 10_000 + 0.5) / 10_000


def _block_pair_search(
    rel: DataFrame,
    threshold: float,
    n_blocks: int,
    extra_keys: list[str],
    expected_dim: int | None = None,
    probe_flag: str | None = None,
) -> DataFrame:
    """Block-grid quadratic cosine search over ``rel`` (columns:
    ``_id``, double-array ``v``, plus ``extra_keys``), WITHIN each
    ``extra_keys`` group: rows hash into ``n_blocks`` blocks, each row
    replicates to its ``n_blocks`` block-pairs (√-replication), and
    every (group, block_i, block_j) task computes one normalized BLAS
    ``X @ Y.T`` — per-task memory is (|group|/n_blocks)² regardless of
    group skew. Shared by the all-pairs baseline (no keys) and the
    sign-LSH twin (keys=["bucket"]) so the arithmetic (round-4
    half-away, zero-norm handling, tie rules) cannot drift.

    ``probe_flag`` names a boolean column marking PROBE rows (the
    incremental delta's new batch): only pairs touching a probe row
    are emitted, and a block-pair task with no probe row returns
    before any matmul — with the caller restricting ``rel`` to
    probe-touched groups, total work is ~|new|·|touched buckets|
    instead of Σ|bucket|²."""
    import numpy as np
    import pandas as pd

    blocked = rel.withColumn(
        "blk", F.pmod(F.xxhash64(F.col("_id")), F.lit(n_blocks)).cast("int")
    )
    # replicate each row to every block-pair (min(blk,o), max(blk,o))
    expanded = blocked.select(
        "_id",
        "v",
        "blk",
        *([probe_flag] if probe_flag else []),
        *extra_keys,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_blocks - 1)),
                lambda o: F.struct(
                    F.least(F.col("blk"), o).alias("ba"),
                    F.greatest(F.col("blk"), o).alias("bb"),
                ),
            )
        ).alias("bp"),
    )
    # NOTE: no dropDuplicates of the replication needed — for a fixed
    # blk the structs (least(blk,o), greatest(blk,o)) over o are
    # pairwise distinct, and deduplicating would shuffle the whole
    # vector-carrying relation a second time for nothing.

    out_schema = "id_a long, id_b long, cos double"

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        prepare_worker()
        ba = int(pdf["bp"].iloc[0]["ba"])
        bb = int(pdf["bp"].iloc[0]["bb"])
        ids = pdf["_id"].to_numpy()
        probe = pdf[probe_flag].to_numpy() if probe_flag else None
        if probe is not None and not probe.any():
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos": "float64"}
            )
        vecs = [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
        # validate per-row lengths BEFORE np.array stacks them: ragged
        # input would build a 1-D object array whose .shape[1] raises a
        # bare IndexError instead of the diagnostic below
        dims = sorted({v.shape[0] for v in vecs})
        if len(dims) > 1 or (
            expected_dim is not None and dims != [expected_dim]
        ):
            plane_note = (
                f", and the sign-LSH planes were built for "
                f"dim={expected_dim} (a mismatch null-poisons every "
                "bucket to 0 and degrades to the unguarded all-pairs "
                "product)"
                if expected_dim is not None
                else ""
            )
            raise ValueError(
                f"embedding dimensions {dims} != expected "
                f"{[expected_dim] if expected_dim is not None else dims[:1]}"
                " — vectors in one search must share one dimension"
                + plane_note
            )
        mat = np.array(vecs)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        unit = mat / norms[:, None]
        blks = pdf["blk"].to_numpy()
        # threshold BEFORE materializing id/pair arrays: matches are
        # sparse, so only the boolean mask is ever O(n·m). The LOOSE
        # raw-cosine cut (threshold − 1e-4) is a strict superset of
        # round4(raw) ≥ threshold (|round4(x) − x| ≤ 5e-5), so the
        # 6-temporary half-away rounding runs only on the sparse
        # candidate cells instead of the full O(n·m) matrix — the
        # exact filter on the rounded values below reproduces the
        # original semantics bit-for-bit.
        loose = threshold - 1e-4
        if ba == bb:
            raw = unit @ unit.T
            hit = np.triu(raw >= loose, k=1)
            if probe is not None:
                hit &= probe[:, None] | probe[None, :]
            ia, ib = np.nonzero(hit)
            c = _round_half_away_4(raw[ia, ib])
            ok = c >= threshold
            id_a, id_b, c = ids[ia[ok]], ids[ib[ok]], c[ok]
        else:
            ma, mb = blks == ba, blks == bb
            raw = unit[ma] @ unit[mb].T
            hit = raw >= loose
            if probe is not None:
                hit &= probe[ma][:, None] | probe[mb][None, :]
            ia, ib = np.nonzero(hit)
            c = _round_half_away_4(raw[ia, ib])
            ok = c >= threshold
            id_a, id_b, c = ids[ma][ia[ok]], ids[mb][ib[ok]], c[ok]
        lo = np.minimum(id_a, id_b)
        hi = np.maximum(id_a, id_b)
        keep = lo < hi  # drops self-pairs only (ids are unique)
        return pd.DataFrame({"id_a": lo[keep], "id_b": hi[keep], "cos": c[keep]})

    return (
        expanded.groupBy(*extra_keys, "bp")
        .applyInPandas(block_pairs, out_schema)
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_near_dup_pairs_lsh(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    n_blocks: int = 8,
) -> DataFrame:
    """Sign-LSH-bucketed embedding near-dup pairs — the SCALE TWIN that
    :func:`embedding_near_dup_pairs`'s docstring mandates at 10^12
    docs, now an operator instead of an instruction: vectors are
    assigned their hyperplane-sign bucket (``similarity.lsh_bucket``,
    deterministic plane literals shared verbatim with the DuckDB
    oracle), and the quadratic pair search runs ONLY within each
    bucket — through the SAME block grid as the baseline
    (``_block_pair_search`` keyed by (bucket, block-pair)), so a HOT
    bucket (embeddings cluster; sign buckets are Zipfian too) shards
    across (|bucket|/n_blocks)²-bounded tasks instead of funneling one
    task. Output: (id_a, id_b, cos), id_a < id_b, cos rounded 4 —
    exactly the baseline's pair set restricted to same-bucket pairs.

    Total work is Σ|bucket|² ≪ |corpus|² — n_planes trades recall
    against candidate mass, n_blocks bounds task memory. Recall (the
    LSH contract): a pair is found iff NO hyperplane separates it —
    P = Π(1 − θᵢ/π), high precisely for the near-dup angles this
    operator exists to find; pairs straddling a plane are missed
    (pinned in pytest alongside a recall measurement)."""
    from ai_pdf_extraction_spark.operators.similarity import lsh_bucket, lsh_planes

    # no ensure_parallel here (r8, measured): the block-grid shuffle
    # redistributes the work anyway, and a rebalance in front costs
    # more than the single-task bucketize it parallelizes (+2.3 s on
    # q64 at sf0.1, ~nothing saved at sf1.0)
    planes = lsh_planes(n_planes, dim)
    bucketed = emb.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).select("_id", "v", lsh_bucket("v", planes).alias("bucket"))
    # expected_dim FAILS LOUD on a mismatch (checked in the pair task
    # before any matmul): zip_with pads the shorter side with nulls, a
    # null poisons every plane dot to NULL, `NULL > 0` is false — so
    # wrong-dim vectors would all silently land in bucket 0 and the
    # "scale twin" would degrade to the unguarded |corpus|² product it
    # exists to avoid (review r6).
    return _block_pair_search(
        bucketed, threshold, n_blocks, ["bucket"], expected_dim=dim
    )


def embedding_near_dup_delta(
    new_emb: DataFrame,
    old_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    n_blocks: int = 8,
) -> DataFrame:
    """Incremental embedding near-dup: pairs touching a NEW embedding
    batch against the existing corpus — the semantic-family sibling of
    ``dedup_index.minhash_lsh_delta``. Ids must be globally unique
    across batches.

    No at-rest index files are needed here: sign-LSH buckets derive
    DETERMINISTICALLY from the committed plane literals
    (``similarity.lsh_planes``), so the old corpus' parquet IS the
    index — bucket assignment is one narrow projection over its scan.
    The incremental win is in the search shape: (1) old vectors in
    buckets no new vector landed in never replicate into the block
    grid (semi-join on the ≤2^n_planes-row touched-bucket set —
    broadcast by construction); (2) within touched buckets the shared
    ``_block_pair_search`` runs in probe mode — old×old pairs are
    never emitted and block-pair tasks with no new row return before
    any matmul. Output: (id_a, id_b, cos), id_a < id_b, at least one
    id from the new batch — exactly
    ``embedding_near_dup_pairs_lsh(old ∪ new)`` restricted to
    new-touching pairs (pinned in pytest).

    Dimension mismatches fail loud AT BUCKET ASSIGNMENT (JVM
    ``raise_error``), not in the pair task: a wrong-dim vector
    null-poisons every plane dot and lands in bucket 0, and in the
    delta the touched-bucket semi-join (or the probe-less early
    return) can drop such rows before the in-task ``expected_dim``
    check ever sees them — a re-embedded corpus queried at the wrong
    ``dim`` would silently return a near-empty pair set instead of
    raising like the batch twin (review r7)."""
    from ai_pdf_extraction_spark.operators.similarity import lsh_bucket, lsh_planes

    # no ensure_parallel (see embedding_near_dup_pairs_lsh)
    planes = lsh_planes(n_planes, dim)

    def bucketize(df: DataFrame, is_new: bool) -> DataFrame:
        side = "new" if is_new else "old"
        proj = df.select(
            F.col(id_col).alias("_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        )
        bucket = F.when(
            F.size("v") == dim, lsh_bucket("v", planes)
        ).otherwise(
            F.raise_error(
                F.format_string(
                    "embedding_near_dup_delta: %s-side vector %%s has "
                    "dim %%s, expected %d" % (side, dim),
                    F.col("_id").cast("string"),
                    F.size("v").cast("string"),
                )
            ).cast("long")
        )
        return proj.select(
            "_id",
            "v",
            bucket.alias("bucket"),
            F.lit(is_new).alias("_new"),
        )

    nb = bucketize(new_emb, True)
    ob = bucketize(old_emb, False)
    touched = nb.select("bucket").distinct()
    ob_touched = ob.join(F.broadcast(touched), "bucket", "left_semi")
    rel = nb.unionByName(ob_touched)
    return _block_pair_search(
        rel, threshold, n_blocks, ["bucket"], expected_dim=dim,
        probe_flag="_new",
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_blocks: int = 8,
    max_docs: int | None = ALL_PAIRS_MAX_DOCS,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs ≥ threshold. Output:
    (id_a, id_b, cos), id_a < id_b, cos rounded 4.

    Block-nested-loop with vectorized numpy/BLAS matmul: rows are
    hash-assigned to ``n_blocks`` blocks, each row is replicated to the
    ``n_blocks`` block-pairs it participates in (√-replication), and
    each (block_i, block_j) group computes one normalized ``X @ Y.T``
    inside ``applyInPandas``. Per-pair cost is a BLAS cell instead of a
    Catalyst higher-order-function fold — ~10-50× faster — and the
    block grid shards the quadratic work across the cluster with
    bounded per-task memory. The total work is still all-pairs, so the
    operator refuses corpora above ``max_docs`` (``ALL_PAIRS_MAX_DOCS``):
    at 10^12 docs run :func:`embedding_near_dup_pairs_lsh` — the
    bucketed composition, shipped as an operator (q64) rather than an
    instruction. Both route through :func:`_block_pair_search` (this
    one with no grouping key), so their arithmetic cannot drift."""
    _guard_all_pairs(
        emb, max_docs, "embedding_near_dup_pairs", "embedding_near_dup_pairs_lsh"
    )
    rel = emb.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    return _block_pair_search(rel, threshold, n_blocks, [])
