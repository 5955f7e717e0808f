"""PII scrubbing and corpus-selection operators for training-data
curation.

The reference engine never redacts (its documents are user-supplied
business PDFs), but a web-scale training-data pipeline must: emails,
phone numbers, and IP addresses are the canonical redaction targets
(C4/Gopher/Dolma-style pre-processing). Everything here is pure
Column expressions — regexp only, whole-stage codegen, no Python —
and every regex sticks to the syntax subset shared by Java regex
(Spark) and RE2 (DuckDB) so the contract oracles can run the same
pattern verbatim.

Also here: deterministic hash-based stratified sampling (reproducible
corpus mixing — the md5-derived uniform is identical in both engines)
and token-budget selection (fill a per-language token budget from the
highest-quality docs first — a windowed cumulative sum).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ai_pdf_extraction_spark.plans.persist import persist

# Shared Java/RE2 syntax only: no lookaround, no backrefs.
EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
IP_RE = r"\b(\d{1,3}\.){3}\d{1,3}\b"
# conservative: 8+ digit runs with separators, optional leading +.
# Separator class is SPACE (not \s): tabs/newlines end a phone, so two
# unrelated numbers on adjacent lines ("…2020\n2021 was…") are never
# merged and redacted as one.
PHONE_RE = r"\+?\d[\d ().\-]{7,}\d"

# Scrub order matters and is part of the contract: emails first (the
# local part would otherwise feed the phone pattern), then IPs (dotted
# quads are a subset of the phone pattern), then phones.
_SCRUB_STEPS = (
    (EMAIL_RE, "<EMAIL>"),
    (IP_RE, "<IP>"),
    (PHONE_RE, "<PHONE>"),
)


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


_COUNT_NAMES = {EMAIL_RE: "n_emails", IP_RE: "n_ips", PHONE_RE: "n_phones"}


def pii_counts(col: Column | str = "text") -> dict[str, Column]:
    """Match counts per PII class. Each class is counted on the text
    with all EARLIER scrub steps applied, so the classes are disjoint
    (an IP would otherwise also count as a phone) — derived from
    ``_SCRUB_STEPS`` so counts can never desync from the scrub order."""
    c = _c(col)
    out: dict[str, Column] = {}
    for pattern, token in _SCRUB_STEPS:
        out[_COUNT_NAMES[pattern]] = F.regexp_count(c, F.lit(pattern))
        c = F.regexp_replace(c, pattern, token)
    return out


def scrub_pii(col: Column | str = "text") -> Column:
    """Redact emails → ``<EMAIL>``, IPs → ``<IP>``, phone-like digit
    runs → ``<PHONE>``, in that order."""
    c = _c(col)
    for pattern, token in _SCRUB_STEPS:
        c = F.regexp_replace(c, pattern, token)
    return c


def stratified_hash_sample(
    docs: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling for corpus mixing: keep a row
    iff ``md5(stratum ':' id)``'s first 4 hex digits, as a uniform in
    [0,1), fall below the stratum's rate. Reproducible across engines
    and runs (no RNG state), stable under repartitioning — the property
    a 10^12-doc mixing job needs so retries/resumes pick identical
    rows. One narrow filter; no shuffle."""
    # null-safe stratum key: concat_ws SKIPS nulls while the SQL
    # oracle's '||' null-propagates — coalesce in BOTH engines so a
    # null stratum deterministically samples at default_rate
    stratum = F.coalesce(F.col(strata_col), F.lit("__null__"))
    u = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", stratum, F.col(id_col))), 1, 4),
            16,
            10,
        ).cast("double")
        / F.lit(65536.0)
    )
    rate = F.lit(default_rate)
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == stratum, F.lit(float(r))).otherwise(rate)
    return docs.filter(u < rate)


def token_budget_selection(
    docs: DataFrame,
    budget_per_stratum: int,
    strata_col: str = "lang",
    quality_col: str = "quality",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fill a per-stratum token budget from the highest-quality docs
    first: rank docs by (quality desc, id) within each stratum and keep
    rows while the running token sum (inclusive) stays ≤ budget.

    One shuffle (the window partition); at web scale the stratum count
    is small and each stratum's sort is the classic top-k-by-score
    pattern. Output keeps the running total for auditability."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(strata_col)
        .orderBy(F.desc(quality_col), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.withColumn("cum_tokens", F.sum(tokens_col).over(w))
        .filter(F.col("cum_tokens") <= budget_per_stratum)
        .select(id_col, strata_col, quality_col, tokens_col, "cum_tokens")
    )


def sequence_pack(
    docs: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    n_shards: int = 64,
) -> DataFrame:
    """Training-sequence packing layout: concatenate every document's
    tokens in one deterministic global order and chunk the stream into
    fixed ``seq_len`` sequences (the standard GPT-style pack — docs
    straddle chunk boundaries). Output per doc: (id, n_tokens,
    start_offset, end_offset, first_seq, last_seq, n_seqs) — enough
    for a writer to place every doc without re-tokenizing.

    The global running sum is the scale hazard: a single unpartitioned
    window funnels the whole corpus through one task. This is the
    two-phase form (the ``salted_join`` sibling): docs hash into
    ``n_shards`` by id, the within-shard window runs partitioned, and
    the per-shard totals — an ``n_shards``-row relation — carry the
    cross-shard bases through one tiny window and a broadcast join.
    The global order is (shard, id): arbitrary but stable, which is
    all a packer needs. Zero-token docs occupy no stream positions
    (n_seqs = 0).

    The narrow (id, tokens, shard) projection feeds BOTH the
    within-shard window and the per-shard totals groupBy — it is
    persisted here, or the upstream plan (for q74 that is the exact-BPE
    pandas UDF over the whole corpus, the most expensive kernel in the
    repo) executes twice (review r7). Chunk indices use integer ``div``
    — ``floor(x / n)`` is double division in Spark, which rounds the
    long→double conversion of offsets past 2^53 and can misplace a doc
    near a chunk boundary at the 10^12-doc scale this layout targets;
    ``div`` on longs is exact (the DuckDB oracle's ``//``)."""
    from pyspark.sql import Window

    # own slot so packing never evicts a capstone's shingle/granule/docs
    # persists
    d = persist(
        "scrub.pack",
        docs.select(
            id_col, tokens_col, (F.col(id_col) % n_shards).alias("_shard")
        ),
    )
    w_in = (
        Window.partitionBy("_shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = d.withColumn("_cum_in", F.sum(tokens_col).over(w_in))
    # n_shards rows: the one permissible unpartitioned window
    w_sh = Window.orderBy("_shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bases = (
        d.groupBy("_shard")
        .agg(F.sum(tokens_col).alias("_tot"))
        .withColumn("_base", F.coalesce(F.sum("_tot").over(w_sh), F.lit(0)))
        .select("_shard", "_base")
    )
    seq_len = int(seq_len)
    end = F.col("_base") + F.col("_cum_in")
    start = end - F.col(tokens_col)
    first = F.expr(f"_start div {seq_len}")
    last = F.when(
        F.col(tokens_col) > 0, F.expr(f"(_end - 1) div {seq_len}")
    ).otherwise(F.expr(f"_start div {seq_len}"))
    return (
        within.join(F.broadcast(bases), "_shard")
        .withColumn("_start", start.cast("long"))
        .withColumn("_end", end.cast("long"))
        .select(
            id_col,
            F.col(tokens_col).cast("long").alias("n_tokens"),
            F.col("_start").alias("start_offset"),
            F.col("_end").alias("end_offset"),
            first.alias("first_seq"),
            last.alias("last_seq"),
            F.when(F.col(tokens_col) > 0, last - first + 1)
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_seqs"),
        )
    )


def mixture_sample(
    docs: DataFrame,
    weights: dict[str, int],
    total_budget: int,
    max_epochs: int = 4,
    source_col: str = "source",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    n_shards: int = 64,
) -> DataFrame:
    """Source-weighted data-mixture builder — the per-domain sampling
    step every LLM training pipeline runs between curation and packing
    (The Pile §2.1 arXiv:2101.00027, LLaMA tbl-1 arXiv:2302.13971:
    each source gets a token share of the total budget, small
    high-value sources are repeated for multiple epochs, large sources
    are truncated).

    ``weights`` are INTEGER parts (not floats): each source's target
    is ``total_budget * w div sum(w)`` computed in exact integer
    arithmetic, so Spark, DuckDB, and a retry of either pick identical
    rows — the reproducibility property a 10^12-token mixture needs.
    Sources absent from ``weights`` are dropped; a source whose corpus
    is smaller than its target is repeated up to ``max_epochs`` whole
    copies (ceil division, never a fractional epoch count).

    Selection order within a source is ``(epoch, shard, md5(epoch ':'
    id), id)`` — every epoch re-permutes the docs (the hash is
    epoch-keyed), epochs fill in order so the cut lands inside the
    LAST epoch, and rows are kept while the running inclusive token
    sum stays ≤ target (the ``token_budget_selection`` rule).

    Scale shape: the narrow (id, source, tokens) projection is
    persisted (it feeds both the per-source totals and the replicate
    leg — the q74 double-scan lesson); per-source totals partial-agg
    to a sources-row relation; the epoch fan-out is a broadcast join +
    ``sequence`` explode; and the running sum is the two-phase sharded
    form from ``sequence_pack`` — within-(source, epoch, shard)
    windows plus one tiny bases window over |sources|·epochs·shards
    rows — so a source holding half the corpus never funnels through
    one task. Per-doc token counts are the caller's column (whitespace
    counts in q77; ``token_count_bpe_exact`` upstream for exact
    budgets, the q72 pattern).

    The reference engine has no corpus mixing (single-tenant uploads,
    `app/backend/routers/batches.py` ingests whatever arrives); this
    is part of the training-data surface the rebuild adds."""
    from pyspark.sql import SparkSession, Window

    if not weights or min(weights.values()) < 0 or total_budget < 0:
        raise ValueError("weights must be non-negative ints, budget >= 0")
    sum_w = sum(weights.values())
    if sum_w == 0:
        raise ValueError("at least one positive weight required")
    targets = [
        (s, (total_budget * w) // sum_w) for s, w in sorted(weights.items())
    ]

    spark = docs.sparkSession
    assert isinstance(spark, SparkSession)
    d = persist(
        "scrub.mixture",
        docs.select(
            F.col(id_col).alias("_id"),
            F.col(source_col).alias("_src"),
            F.col(tokens_col).cast("long").alias("_tok"),
        ).filter(
            (F.col("_tok") > 0)
            & F.col("_src").isin([s for s, _ in targets])
        ),
    )
    tgt = spark.createDataFrame(targets, "_src string, _target long")
    epochs = (
        d.groupBy("_src")
        .agg(F.sum("_tok").alias("_avail"))
        .join(F.broadcast(tgt), "_src")
        .select(
            "_src",
            "_target",
            F.least(
                F.lit(int(max_epochs)),
                F.expr("(_target + _avail - 1) div _avail"),
            ).alias("_n_epochs"),
        )
        .filter(F.col("_n_epochs") > 0)
    )
    rep = (
        d.join(F.broadcast(epochs), "_src")
        .select(
            "_id",
            "_src",
            "_tok",
            "_target",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("_n_epochs") - 1)
            ).alias("_epoch"),
        )
        .withColumn("_shard", F.col("_id") % n_shards)
        .withColumn(
            "_h", F.md5(F.concat_ws(":", F.col("_epoch"), F.col("_id")))
        )
    )
    w_in = (
        Window.partitionBy("_src", "_epoch", "_shard")
        .orderBy("_h", "_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = rep.withColumn("_cum_in", F.sum("_tok").over(w_in))
    # |sources|*epochs*shards rows: the one permissible tiny window
    w_base = (
        Window.partitionBy("_src")
        .orderBy("_epoch", "_shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = (
        rep.groupBy("_src", "_epoch", "_shard")
        .agg(F.sum("_tok").alias("_t"))
        .withColumn("_base", F.coalesce(F.sum("_t").over(w_base), F.lit(0)))
        .select("_src", "_epoch", "_shard", "_base")
    )
    return (
        within.join(F.broadcast(bases), ["_src", "_epoch", "_shard"])
        .withColumn("_cum", F.col("_base") + F.col("_cum_in"))
        .filter(F.col("_cum") <= F.col("_target"))
        .select(
            F.col("_id").alias(id_col),
            F.col("_src").alias(source_col),
            F.col("_epoch").cast("long").alias("epoch"),
            F.col("_tok").alias(tokens_col),
            F.col("_cum").cast("long").alias("cum_source_tokens"),
        )
    )


def cluster_balanced_sample(
    emb: DataFrame,
    centroids: list[list[float]],
    per_cluster: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_shards: int = 64,
) -> DataFrame:
    """Semantic cluster-balanced sampling — cap every embedding-space
    domain at ``per_cluster`` docs so one dominant topic cannot swamp
    the training mixture (the clustered-curation move of SemDeDup,
    arXiv:2303.09540 §3, and the domain-balancing goal of DoReMi,
    arXiv:2305.10429, using k-means domains; the trained IVF coarse
    quantizer — ``similarity.train_ivf_centroids`` — IS the domain
    clusterer, reused verbatim).

    Output per kept doc: ``(id, cluster, pick_rank, cluster_size)`` —
    rank and size stay in the row for auditability (how full was the
    cap, how big was the domain).

    Deterministic selection inside a cluster follows the mixture-
    builder rule: global order ``(shard, md5(id), id)`` where ``shard
    = id % n_shards`` — arbitrary but stable, reproducible across
    engines and retries. The rank is computed in the two-phase sharded
    form (``sequence_pack``'s shape): within-(cluster, shard) windows
    plus one tiny bases window over ≤ k·n_shards rows, so a cluster
    holding half the corpus never funnels through a single task.
    Assignment is a pure Column argmin (JVM-side, centroid literals
    ride the plan); the narrow (id, cluster, shard, h) projection is
    persisted — it feeds both the rank leg and the bases leg.
    """
    from pyspark.sql import Window

    from ai_pdf_extraction_spark.operators.similarity import ivf_assign

    d = persist(
        "scrub.cluster_sample",
        emb.select(
            F.col(id_col).alias("_id"),
            ivf_assign(vec_col, centroids).alias("cluster"),
            (F.col(id_col) % n_shards).alias("_shard"),
            F.md5(F.col(id_col).cast("string")).alias("_h"),
        ),
    )
    w_in = Window.partitionBy("cluster", "_shard").orderBy("_h", "_id")
    within = d.withColumn("_rk_in", F.row_number().over(w_in))
    # ≤ |centroids| * n_shards rows: the one permissible tiny window
    w_base = (
        Window.partitionBy("cluster")
        .orderBy("_shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    shard_counts = d.groupBy("cluster", "_shard").agg(
        F.count("*").alias("_n")
    )
    bases = shard_counts.select(
        "cluster",
        "_shard",
        F.coalesce(F.sum("_n").over(w_base), F.lit(0)).alias("_base"),
        F.sum("_n").over(Window.partitionBy("cluster")).alias("cluster_size"),
    )
    return (
        within.join(F.broadcast(bases), ["cluster", "_shard"])
        .withColumn("pick_rank", (F.col("_base") + F.col("_rk_in")).cast("long"))
        .filter(F.col("pick_rank") <= per_cluster)
        .select(
            F.col("_id").alias(id_col),
            F.col("cluster").cast("int").alias("cluster"),
            "pick_rank",
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
    )
