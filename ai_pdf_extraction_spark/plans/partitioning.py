"""Partitioning & skew handling (north_rule: url-hash bucketed
partitioning, salted repartition of skewed hosts).

Design-scale rationale (10^12 docs): the output table is partitioned
by ``bucket = pmod(xxhash64(url), n_buckets)`` — the Spark analogue of
Iceberg's ``bucket(N, url)`` transform (reference's sha256 dedup key,
``routers/batches.py:381-382``, generalized into the partition key per
SURVEY.md §4 X7). Buckets are the unit of checkpointing/resume, and a
filter on ``bucket`` prunes partitions natively.

Host skew: Common-Crawl hosts are Zipfian — one host can hold a large
slice of a crawl. Any host-keyed shuffle (metrics groupBy, host-level
dedup) must salt: ``(host, pmod(xxhash64(url), n_salts))`` spreads one
hot host over ``n_salts`` reducers, then a second, tiny aggregation
recombines. AQE skew-join splitting covers *joins*, not custom
repartitions, hence the explicit salt (SURVEY.md §4 custom-work (b)).

Partition balance: ``ensure_parallel`` is the one rule for fanning a
narrow scan out ahead of per-row-heavy work, and
``mark_parallel_balanced`` the one way to skip it. Ahead of a
bucket-partitioned write, whatever the input's width, rows are placed
by ``cluster_by_bucket`` instead: each bucket lands in as few tasks as
the balance bound allows, so a commit writes about one file per bucket
rather than one per bucket per task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_N_BUCKETS = 64
DEFAULT_N_SALTS = 16


def _contains_map(dt: T.DataType) -> bool:
    """True iff the type tree contains a MapType node (xxhash64 rejects
    maps wherever they nest: top-level, struct field, array element)."""
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _contains_map(dt.elementType)
    return False


def url_host(col: str = "url"):
    """Extract the host from a url column — JVM-side regex, no UDF.
    The host stops at '/', '?' OR '#' (review r5: a path-less url like
    ``https://a.com?session=42`` must not splinter one host into a
    pseudo-host per query string) and the scheme matches
    case-insensitively (``HTTPS://`` pages are the same host)."""
    return F.regexp_extract(
        F.col(col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1
    )


def url_bucket(col: str = "url", n_buckets: int = DEFAULT_N_BUCKETS):
    """Deterministic url-hash bucket (Iceberg bucket-transform analogue)."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int")


def salt(col: str = "url", n_salts: int = DEFAULT_N_SALTS):
    """Per-row salt, hashed with a SEED DISTINCT from url_bucket's:
    unseeded, salt ≡ bucket mod n_salts whenever n_salts divides
    n_buckets (it does by default), so within any one bucket — the
    resume/commit unit — every row carried the SAME salt and
    (host, salt) degenerated to (host): the hot-host funnel the salt
    exists to prevent (review r5)."""
    return F.pmod(
        F.xxhash64(F.col(col), F.lit("salt")), F.lit(n_salts)
    ).cast("int")


# Largest slot skew cluster_by_bucket accepts: the busiest partition
# holds at most this many times the mean number of (bucket, salt) slots.
MAX_SLOT_SKEW = 1.25


def bucket_salts(n_group: int, target: int) -> int:
    """Smallest salt count ``k`` (1 ≤ k ≤ target) that spreads
    ``n_group`` buckets × ``k`` salts over ``target`` partitions with
    slot skew ``ceil(g·k/target) / (g·k/target)`` ≤ ``MAX_SLOT_SKEW``.
    ``k = target`` always qualifies (every partition gets ``g`` slots)."""
    for k in range(1, target + 1):
        slots = n_group * k
        if -(-slots // target) * target <= MAX_SLOT_SKEW * slots:
            return k
    return target


def cluster_by_bucket(df: DataFrame, buckets, target: int) -> DataFrame:
    """Place the rows of ``df`` (its ``bucket`` column within the group
    ``buckets``) on ``target`` partitions so each bucket lands in ``k``
    tasks (:func:`bucket_salts`): a bucket-partitioned write then emits
    at most ``g·k`` files for a ``g``-bucket group instead of one per
    bucket per task. With ``target = g``, ``k = 1``: one task per bucket.

    Row -> partition ``rank(bucket in group) + g·salt(url, k)``, mod
    ``target``, placed directly by ``repartitionById``: no hash of the
    id, so no two slots collide onto one task unless the skew bound
    already counts them. The id is a pure function of the url, so a
    retried task rebuilds the same partitions without the sort a
    round-robin repartition needs for that."""
    group = sorted(buckets)
    k = bucket_salts(len(group), target)
    rank = F.array_position(F.array(*map(F.lit, group)), F.col("bucket")) - 1
    pid = rank + len(group) * salt(n_salts=k)
    return df.repartitionById(target, pid.cast("int"))


def with_partition_columns(
    df: DataFrame,
    n_buckets: int = DEFAULT_N_BUCKETS,
    n_salts: int = DEFAULT_N_SALTS,
) -> DataFrame:
    return (
        df.withColumn("host", url_host())
        .withColumn("bucket", url_bucket(n_buckets=n_buckets))
        .withColumn("salt", salt(n_salts=n_salts))
    )


def repartition_salted(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Repartition by (host, salt) so a skewed host spreads across
    ``n_salts`` tasks instead of hot-spotting one."""
    cols = [F.col("host"), F.col("salt")]
    if num_partitions:
        return df.repartition(num_partitions, *cols)
    return df.repartition(*cols)


def salted_join(
    skewed: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = DEFAULT_N_SALTS,
) -> DataFrame:
    """Skew-safe equi-join: the skewed fact side gets a salt (a
    DETERMINISTIC hash of the whole row), the dim side is exploded
    ×``n_salts``, and the join key becomes (key, salt) — one hot key
    spreads over ``n_salts`` reducers. AQE's skew-join split covers
    sort-merge joins after the fact; this handles it at plan time and
    also works for aggregations feeding the join. Dim side grows
    ×n_salts — only for genuinely small dims (the same precondition as
    broadcast).

    The salt is a pure function of the row so the shuffle key is
    stable across task re-execution: a nondeterministic disambiguator
    (monotonically_increasing_id, rand) would let recomputed rows hash
    to different salts than the lost originals after a fetch failure —
    the SPARK-23207 duplicate/loss hazard. The trade-off: rows that
    are FULL duplicates (every column equal) share a salt. A hot JOIN
    key still spreads — its rows differ in the other columns — and
    full-row duplicates are what exact dedup removes upstream; if a
    pathological all-columns-identical hot set matters, dedup first.
    """
    # hash only the HASHABLE columns: xxhash64 rejects MapType (and
    # map-nested types) at plan time, and the pipeline's own output
    # schema carries maps (field_confidences, tables) — review r5. The
    # join key always participates, so a hot key still spreads as long
    # as any hashable column varies across its rows. The check walks
    # the type tree for actual MapType nodes — a substring match on
    # simpleString() would also exclude any column whose nested struct
    # FIELD NAME contains "map" (sitemap_url, mapping), silently
    # shrinking salt entropy (advice r6).
    hashable = [
        f.name for f in skewed.schema.fields if not _contains_map(f.dataType)
    ]
    if key not in hashable:
        raise ValueError(f"join key {key!r} must be a hashable type")
    fact = skewed.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*hashable), F.lit(n_salts)).cast("int"),
    )
    exploded_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return fact.join(exploded_dim, [key, "_salt"]).drop("_salt")


def salted_host_counts(df: DataFrame) -> DataFrame:
    """Two-phase (salted) per-host aggregation: partial count per
    (host, salt), then the tiny recombine — the classic skew-safe
    groupBy. Output: (host, n_docs)."""
    partial = df.groupBy("host", "salt").agg(F.count("*").alias("partial_n"))
    return partial.groupBy("host").agg(F.sum("partial_n").alias("n_docs"))


# Attribute set by mark_parallel_balanced: the explicit (and only)
# channel for skipping ensure_parallel's repartition.
_BALANCED_ATTR = "_graft_parallel_balanced"


def mark_parallel_balanced(df: DataFrame) -> DataFrame:
    """Mark a DataFrame as ALREADY balanced so ``ensure_parallel``
    trusts it and skips its repartition. Only callers that just
    repartitioned (and typically persisted) the relation themselves may
    set this — the curation capstones' shared narrow projection is the
    canonical case: re-shuffling the already-balanced cached relation
    once per leg measurably dominated capstone wall time at local
    scale (r6). An explicit marker, NOT a cache-backed heuristic:
    persisting preserves the child's partitioning, so a cached
    byte-split parquet scan keeps its empty partitions and a
    "trust any cached input" rule would reintroduce the one-straggler
    outage this guard exists to prevent (review r6)."""
    setattr(df, _BALANCED_ATTR, True)
    return df


def ensure_parallel(docs: DataFrame, id_col: str) -> DataFrame:
    """CPU-heavy explodes must not inherit a skewed scan.

    A small corpus arrives as one parquet file → one task → one core;
    worse, byte-range splitting of a single-row-group file reports many
    partitions of which all but one are EMPTY (parquet only reads whole
    row groups), so the partition COUNT can lie. The guard therefore
    repartitions anything below 4× default parallelism — a shuffle of
    the raw docs is far cheaper than the explode/join work downstream.
    A real crawl (thousands of files, ≫4× parallelism partitions)
    skips this. Never repartitions DOWN: inputs already wider than the
    2× target keep their width (only empties get rebalanced). Inputs
    explicitly marked by :func:`mark_parallel_balanced` (the caller
    just repartitioned them itself) are trusted as-is."""
    if getattr(docs, _BALANCED_ATTR, False):
        return docs
    target = docs.sparkSession.sparkContext.defaultParallelism
    parts = docs.rdd.getNumPartitions()
    if parts >= target * 4:
        return docs
    return docs.repartition(max(target * 2, parts), F.col(id_col))
