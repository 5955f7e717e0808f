"""Host-level link-graph analytics — the ranking half of a crawl stack.

The reference pipeline scores documents individually (extraction
confidence, ``services/extraction.py``); a web-scale corpus builder
additionally ranks *hosts* by link structure (Common-Crawl publishes
exactly this: host-level centrality over the crawl's webgraph) so the
frontier scheduler and the mixture builder can prefer well-linked
origins. Nothing in the reference is graph-shaped, so this module is
a from-scratch Spark-first design; semantics follow Page et al. 1999
(the PageRank damping form) restricted to integer arithmetic.

Why integer arithmetic: a float PageRank sums double contributions in
partition order, which is not deterministic across runs, engines, or
cluster sizes — the same hazard the CCNet LM scorer (``operators/
lm.py``) avoids with integer-quantized log-probs. Here every rank is
an int64 in ``scale`` micro-units, every per-edge contribution is an
exact integer division (Spark ``div`` == DuckDB ``//`` for the
non-negative values involved), and every sum is exact int64 — so the
Spark plan, the DuckDB oracle, and a naive Python twin agree
bit-for-bit at any parallelism. The deliberate cost is truncation
dust: each edge division floors, so total mass shrinks by < 1 unit
per edge per iteration (bounded, documented, shared by all three
implementations).

Dangling convention: hosts with no out-links simply absorb mass
(their rank contributes nothing back). This is the simplest published
variant; both engines share it because it falls out of the same
"contributions = inner join through the edge list" shape.

Scale shape (the part that must survive 10^12 pages): the edge list
is the huge relation — it is aggregated to (src, dst, weight) once
(partial-agg groupBy), joined once with per-src out-weights, and
persisted; every iteration then shuffles only the *rank* relation
(one row per host, orders of magnitude smaller than the edges) into
the join and partial-aggs the contributions map-side before the
per-dst combine. Each round's frontier is persisted and fully
materialized before the previous round is dropped (the
``neardup_clusters`` lineage discipline) so the plan never chains
k rounds of lazy recomputation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ai_pdf_extraction_spark.plans.persist import persist

#: bump when the rank semantics (scale, damping form, dangling
#: convention, truncation rule) change — consumers pin against it
PAGERANK_VERSION = 1

# canonical host extraction lives with the other url Column work;
# re-exported here because the graph operators are its heaviest users
from ai_pdf_extraction_spark.operators.urls import host_of  # noqa: E402,F401


def host_edges(
    links: DataFrame,
    src_col: str = "src_url",
    dst_col: str = "dst_url",
    drop_self: bool = True,
) -> DataFrame:
    """Collapse a page-level link relation (one row per hyperlink)
    into the weighted host graph ``(src, dst, weight)``.

    Host extraction is pure Column work inside the scan; the collapse
    is a partial-agg ``groupBy`` (map-side combine absorbs the
    duplicate-edge mass before the shuffle — a 10^12-link crawl
    shuffles only the distinct host-pair cells). ``drop_self``
    removes intra-host navigation links, which would otherwise
    dominate every host's rank with its own boilerplate nav."""
    e = links.select(
        host_of(src_col).alias("src"), host_of(dst_col).alias("dst")
    )
    if drop_self:
        e = e.filter(F.col("src") != F.col("dst"))
    return e.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("weight")
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    scale: int = 1_000_000,
    damping_num: int = 85,
    damping_den: int = 100,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
    truncate_input_lineage: bool = False,
    materialize_every: int = 8,
) -> DataFrame:
    """Integer-arithmetic damped PageRank over a weighted edge list.

    Semantics (shared bit-for-bit by the DuckDB oracle and the Python
    twin in ``tests/test_graphs.py``)::

        nodes      = distinct(src) ∪ distinct(dst)
        W(u)       = Σ weight(u, *)                      (out-weight)
        r₀(v)      = scale
        contrib    = (r(u) · damping_num · weight(u,v))
                       div (damping_den · W(u))          (int64 floor)
        rₖ₊₁(v)    = (scale · (damping_den − damping_num))
                       div damping_den
                     + Σ_{u→v} contrib                   (0 if no in-links)

    Every quantity is a non-negative int64; ``div`` floors, so both
    engines agree exactly (ANSI Spark raises on overflow rather than
    wrapping — pick ``scale`` so ``max_rank · damping_num ·
    max_weight`` stays under 2^63; the default leaves ~6 orders of
    magnitude of headroom for realistic graphs).

    Output: ``(host, rank)`` with ``rank`` in ``scale`` micro-units.

    Scale shape: the edge relation is shuffled ONCE — out-weights are
    a partial-agg groupBy over it, the (edge ⋈ out-weight) build is
    persisted, and the per-iteration work joins the persisted edges
    with the tiny rank relation then partial-aggs contributions by
    ``dst``. Per-round frontiers follow the ``neardup_clusters``
    persist → materialize-by-count → unpersist-previous discipline so
    lineage stays bounded regardless of ``iterations`` — but only
    every ``materialize_every`` rounds: each materialization is a
    full scheduling round trip (persist + count job), pure fixed
    overhead when the rank relation is host-cardinality-small, while
    the lineage hazard it guards against (driver re-ANALYSIS of a
    k-round plan chain) only bites at tens of rounds. Short runs
    (the 3-iteration q84/q103 shape) therefore execute as ONE job
    over the chained plan — bit-identical results, the same
    per-round dataflow, three fewer barriers."""
    if iterations < 1:
        raise ValueError("pagerank: iterations must be >= 1")
    base = (scale * (damping_den - damping_num)) // damping_den

    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("long").alias("weight"),
    )
    if truncate_input_lineage:
        # Iterative consumers pay driver-side ANALYSIS of the input's
        # full logical plan on EVERY job — persist() caches data but
        # not plan size, so an edge relation derived from an expensive
        # extraction tree (q103: regex outlink extraction + staged
        # canonicalization) re-plans that whole subtree ~8× (measured:
        # 16 s → 3 s at sf0.1 with the cut). localCheckpoint eagerly
        # materializes the (host-cardinality, post-combine) relation
        # and replaces the lineage with a plain scan. Trade-off at
        # cluster scale: localCheckpoint partitions live on executors
        # (a lost executor fails the job instead of recomputing) —
        # acceptable for a small collapsed relation; callers needing
        # fault-tolerant truncation should write/re-read a parquet.
        e = e.localCheckpoint()
    outw = e.groupBy("src").agg(F.sum("weight").alias("wout"))
    # the ONE shuffle of the huge relation: edges ⋈ per-src out-weight,
    # persisted for reuse across all iterations
    ew = e.join(outw, "src").persist()
    nodes = (
        e.select(F.col("src").alias("host"))
        .union(e.select(F.col("dst").alias("host")))
        .distinct()
        .persist()
    )
    ranks = nodes.select(
        "host", F.lit(scale).cast("long").alias("rank")
    )
    prev_persisted: DataFrame | None = None
    for i in range(iterations):
        contribs = (
            ew.join(
                ranks.select(
                    F.col("host").alias("src"), F.col("rank").alias("r_src")
                ),
                "src",
            )
            .select(
                "dst",
                F.expr(
                    f"(r_src * {damping_num}L * weight)"
                    f" div ({damping_den}L * wout)"
                ).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        new_ranks = nodes.join(
            contribs, nodes.host == contribs.dst, "left"
        ).select(
            "host",
            (F.lit(base) + F.coalesce("c", F.lit(0)))
            .cast("long")
            .alias("rank"),
        )
        if (i + 1) % materialize_every == 0 and i + 1 < iterations:
            new_ranks = new_ranks.persist()
            # full count: materializes EVERY partition into the cache
            # before the previous frontier is dropped (a partial probe
            # would leave uncached partitions chaining back through
            # every unpersisted round)
            new_ranks.count()
            if prev_persisted is not None:
                prev_persisted.unpersist()
            prev_persisted = new_ranks
        ranks = new_ranks
    # materialize the final frontier WHILE the ew/nodes caches are
    # still live (the chained plan references ew once per round —
    # unpersisting first would recompute the edge join per reference),
    # then release the per-run caches; the next pagerank call evicts
    # this final relation via the slot (without it every call would
    # leak one cached host-cardinality relation for the session)
    final = persist("graphs.pagerank", ranks)
    final.count()
    if prev_persisted is not None:
        prev_persisted.unpersist()
    ew.unpersist()
    nodes.unpersist()
    return final


def link_degree_stats(edges: DataFrame) -> DataFrame:
    """Per-host degree summary over the weighted host graph:
    ``(host, out_hosts, out_weight, in_hosts, in_weight)`` — the
    dataset-card companion to :func:`pagerank` (Common Crawl's
    webgraph release ships exactly these marginals). Two partial-agg
    groupBys over the edge relation recombined with a full outer join
    on the tiny per-host cells — the edge list is never windowed."""
    out = edges.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).alias("out_hosts"),
        F.sum("weight").alias("out_weight"),
    )
    inn = edges.groupBy(F.col("dst").alias("host")).agg(
        F.count(F.lit(1)).alias("in_hosts"),
        F.sum("weight").alias("in_weight"),
    )
    z = F.lit(0).cast("long")
    return out.join(inn, "host", "full_outer").select(
        "host",
        F.coalesce("out_hosts", z).alias("out_hosts"),
        F.coalesce("out_weight", z).alias("out_weight"),
        F.coalesce("in_hosts", z).alias("in_hosts"),
        F.coalesce("in_weight", z).alias("in_weight"),
    )
