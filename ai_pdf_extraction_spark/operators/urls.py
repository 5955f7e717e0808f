"""URL canonicalization — the url-keyed half of crawl dedup.

The reference keys everything on ``source_file``/content hash
(``routers/batches.py:381``); a web pipeline additionally needs a
canonical url key before url-level dedup or bucketing. Pure Column
expressions with exact DuckDB-SQL twins (keep in lockstep with the
``q37`` oracle): lowercase scheme+host, drop fragments, strip
tracking params (``utm_*``, ``fbclid``, ``gclid``), drop default
ports, collapse duplicate slashes in the path, trim a trailing slash
from non-root paths.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ai_pdf_extraction_spark.plans.persist import persist


#: scheme://authority — THE url-structure regex pair (extract form in
#: :func:`host_of`, strip form in :func:`strip_authority`); every
#: operator shares these two helpers, keep in lockstep with the
#: oracle CTEs
_AUTHORITY_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*"


def host_of(col: Column | str) -> Column:
    """Extract the authority (host[:port]) from a url — shared by
    ``frontier_host_cap``, ``url_prefilter``, ``graphs`` and
    ``robots``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(
        c, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)", 1
    )


def strip_authority(col: Column | str) -> Column:
    """Everything after scheme://authority (path + query; empty string
    when the url is just the authority)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, _AUTHORITY_RE, "")


#: multi-label public suffixes (embedded deterministic subset of the
#: Mozilla Public Suffix List — the full list is fetched data, which
#: this sandbox cannot ship; callers with the real PSL pass their own
#: tuple). Includes two PRIVATE-section entries (github.io,
#: blogspot.com): per PSL semantics each subdomain there is an
#: independent registrant, exactly the grouping a crawl-budget or
#: host-reputation stage must respect.
MULTI_SUFFIXES = (
    "ac.uk",
    "co.uk",
    "gov.uk",
    "org.uk",
    "com.au",
    "net.au",
    "org.au",
    "co.jp",
    "ne.jp",
    "or.jp",
    "com.br",
    "com.cn",
    "com.mx",
    "co.in",
    "co.kr",
    "com.tr",
    "co.za",
    "com.ar",
    "github.io",
    "blogspot.com",
)


def registered_domain(
    col: Column | str,
    multi_suffixes: tuple[str, ...] = MULTI_SUFFIXES,
) -> Column:
    """Registered domain (eTLD+1) of a host — the grouping key for
    per-site stages that must not be fooled by subdomains
    (``blog.example.co.uk`` and ``www.example.co.uk`` are ONE site;
    ``a.github.io`` and ``b.github.io`` are TWO). Public-suffix logic
    over the embedded :data:`MULTI_SUFFIXES` subset: lowercase, strip
    a trailing ``:port``, then take the last TWO labels unless they
    form a listed multi-label suffix, in which case take three.
    Hosts with too few labels (a bare suffix, a single label, an IP
    kept verbatim) pass through whole. Pure Column work (split +
    slice on ≤a-handful of labels), zero shuffle; the DuckDB twin
    shares the suffix tuple via the q101 oracle."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.regexp_replace(F.lower(c), r":[0-9]+$", "")
    labels = F.split(h, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.slice(labels, F.greatest(n - 1, F.lit(1)), 2))
    last3 = F.concat_ws(".", F.slice(labels, F.greatest(n - 2, F.lit(1)), 3))
    return (
        # an IPv4 literal has no registrant hierarchy — truncating it
        # to the last two octets would pool unrelated servers into one
        # budget/reputation group (review r7)
        F.when(h.rlike(r"^[0-9]{1,3}(\.[0-9]{1,3}){3}$"), h)
        .when(n <= 2, h)
        .when(last2.isin(*multi_suffixes), last3)
        .otherwise(last2)
    )


def canonicalize_url(col: Column | str = "url") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    # 1. drop fragment
    u = F.regexp_replace(c, r"#.*$", "")
    # 2. strip tracking params INSIDE the query substring only (review
    #    r5: the old '&'-anywhere form corrupted urls carrying a
    #    literal '&' in the PATH when no '?' preceded it — the very
    #    hazard its comment claimed to avoid). Split on the first '?';
    #    within the query, '[?&]'-prefixed matches are always safe, a
    #    leading '&' left by stripping the first param promotes back
    #    to '?', and a trailing lone '?'/'&' drops.
    qpos2 = F.instr(u, "?")
    path2 = F.when(qpos2 > 0, F.substring(u, F.lit(1), qpos2 - 1)).otherwise(u)
    query2 = (
        F.when(qpos2 > 0, F.substring(u, qpos2, F.length(u)))
        .otherwise(F.lit(""))
    )
    query2 = F.regexp_replace(
        query2, r"(?i)[?&](?:utm_[a-z]+|fbclid|gclid)=[^&#]*", ""
    )
    query2 = F.regexp_replace(query2, r"^&", "?")
    query2 = F.regexp_replace(query2, r"[?&]$", "")
    u = F.concat(path2, query2)
    # 3. lowercase scheme://host (leave path/query case alone)
    head = F.lower(F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)", 1))
    tail = F.regexp_replace(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*", "")
    u = F.when(head == "", u).otherwise(F.concat(head, tail))
    # 4. default ports (capture-group form: DuckDB's RE2 oracle has no
    #    lookarounds, so keep these patterns lookaround-free)
    u = F.regexp_replace(u, r"^(https://[^/:?]+):443([/?]|$)", r"$1$2")
    u = F.regexp_replace(u, r"^(http://[^/:?]+):80([/?]|$)", r"$1$2")
    # 5. collapse duplicate slashes in the PATH only — the query string
    #    (e.g. a redirect-target param carrying its own url) must stay
    #    byte-identical
    qpos = F.instr(u, "?")
    path = F.when(qpos > 0, F.substring(u, F.lit(1), qpos - 1)).otherwise(u)
    query = F.when(qpos > 0, F.substring(u, qpos, F.length(u))).otherwise(F.lit(""))
    u = F.concat(F.regexp_replace(path, r"([^:/])//+", r"$1/"), query)
    # 6. trailing slash on a non-root path
    u = F.regexp_replace(u, r"(://[^/?]+/[^?]*[^/?])/($|\?)", r"$1$2")
    return u


def url_frontier_delta(
    new_urls: DataFrame,
    seen: DataFrame,
    url_col: str = "url",
    id_col: str = "event_id",
    seen_col: str = "canon_url",
    broadcast_new: bool = True,
) -> DataFrame:
    """Crawl-frontier construction — the incremental url-level twin of
    :func:`dedup_index.exact_dedup_delta`: canonicalize the new
    batch's discovered urls, collapse within-batch duplicates (first
    discoverer = min id wins), and probe the at-rest seen-set so
    already-crawled pages are never refetched. The reference rejects
    re-uploads by content hash at ingest (``routers/batches.py:381``);
    a crawler must make the same decision BEFORE fetching, which is
    exactly this url-keyed check.

    Output one row per distinct canonical url in the batch::

        (canon_url, first_id, n_discovered, in_seen, to_crawl)

    ``filter(to_crawl)`` is the frontier; ``in_seen`` rows are the
    refetch-suppressed hits. The caller appends the frontier's
    ``canon_url`` column to the seen-set after the crawl commits (the
    ``dedup_index`` append-then-atomically-commit discipline).

    ``seen`` must hold ONE row per canonical url (the at-rest seen-set
    is maintained that way — dedup at append time); the operator does
    NOT distinct a possibly-10^12-row relation on every batch.

    Scale shape: canonicalization is pure Column work inside the batch
    scan; the within-batch collapse is a partial-agg ``groupBy`` on
    the canon key; and with ``broadcast_new=True`` (the common case —
    a crawl batch is ≪ the historical seen-set) the probe runs as a
    broadcast LEFT-SEMI join on the SEEN side: the huge relation is
    scanned map-side against the broadcast batch keys and only the
    hits (≤ |batch|) come back to flag ``in_seen`` — the seen-set is
    never shuffled. ``broadcast_new=False`` falls back to a plain
    equi-join (AQE skew-safe) for batches too large to broadcast.
    """
    # staged canonicalizer: linear expression tree (the Column form is
    # textually exponential — see with_canonical_url), byte-identical
    batch = with_canonical_url(new_urls, url_col).select(
        F.col(id_col), "canon_url"
    )
    # the collapsed batch feeds BOTH the semi-join build side and the
    # final left join — persist or the batch scan + agg run twice
    groups = persist(
        "urls.frontier",
        batch.groupBy("canon_url").agg(
            F.min(id_col).alias("first_id"), F.count("*").alias("n_discovered")
        ),
    )
    seen_keys = seen.select(F.col(seen_col).alias("canon_url"))
    if broadcast_new:
        # LEFT SEMI with the batch keys as the broadcast build side:
        # a left-OUTER join could not broadcast `groups` (the preserved
        # side must stream), so flag membership via the tiny hit set
        hits = seen_keys.join(
            F.broadcast(groups.select("canon_url")), "canon_url", "leftsemi"
        ).withColumn("_seen", F.lit(True))
    else:
        hits = seen_keys.withColumn("_seen", F.lit(True))
    in_seen = F.coalesce("_seen", F.lit(False))
    return groups.join(hits, "canon_url", "left").select(
        "canon_url",
        "first_id",
        "n_discovered",
        in_seen.alias("in_seen"),
        (~in_seen).alias("to_crawl"),
    )


#: non-document asset extensions a text-extraction crawl skips before
#: fetching (C4/RefinedWeb-style URL prefiltering); pdf is NOT here —
#: it is a first-class document type in this pipeline
_ASSET_EXT_RE = (
    r"\.(jpg|jpeg|png|gif|webp|svg|ico|bmp|css|js|mjs|zip|gz|tgz|tar"
    r"|rar|7z|exe|dmg|apk|mp3|wav|ogg|mp4|avi|mov|mkv|webm|woff|woff2"
    r"|ttf|eot)$"
)


def url_prefilter(
    urls: DataFrame,
    url_col: str = "url",
    blocklist: list[str] | None = None,
    max_len: int = 2048,
    digit_limit: tuple[int, int] = (1, 2),
) -> DataFrame:
    """Pre-fetch URL quality gate (the C4 / RefinedWeb recipe's first
    stage, decided before any bytes move): flag urls a text-extraction
    crawl should not fetch. Output: input columns plus ``(host,
    is_asset, digit_heavy, too_long, blocked_domain, keep)``.

    * ``is_asset`` — the path ends in a non-document extension
      (images/styles/scripts/archives/media; see ``_ASSET_EXT_RE``).
    * ``digit_heavy`` — digits exceed the ``digit_limit = (p, q)``
      fraction of the path (default 1/2; session-id / tracking-id
      urls). Division-free: the ratio test is the exact integer
      cross-multiplication ``q·digits > p·len``, so both engines
      compare identically at any threshold.
    * ``too_long`` — ``length(url) > max_len``.
    * ``blocked_domain`` — the host or any of its registrable-suffix
      ancestors is in ``blocklist`` (entry ``example.com`` blocks
      ``a.b.example.com``). The suffix set is generated per host
      (≤ label-count entries) and probed against the blocklist as a
      literal array — pure Column work, NO join, the list ships in
      the plan like the IVF centroid literals. For blocklists too
      large to inline (10^5+ entries), explode the same suffix array
      and broadcast-semi-join it against a blocklist relation
      instead; the literal form is the common politeness-list case.

    Everything is exact string/integer work inside the scan — the
    filter composes with ``url_frontier_delta`` upstream of the fetch
    with zero extra shuffles. The suffix array is projected into a
    bound column BEFORE the element-wise ``transform`` (Catalyst does
    no CSE across HOF lambdas — an inlined split would re-split per
    label)."""
    u = F.col(url_col)
    after = strip_authority(u)
    qpos = F.instr(after, "?")
    path0 = F.when(
        qpos > 0, F.substring(after, F.lit(1), qpos - 1)
    ).otherwise(after)
    path = F.when(path0 == "", "/").otherwise(path0)
    with_parts = urls.withColumn("host", host_of(url_col)).withColumn(
        "_path", path
    ).withColumn("_labels", F.split("host", r"\."))
    n = F.size("_labels")
    sufs = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(
            F.slice("_labels", i, n - i + F.lit(1)), "."
        ),
    )
    if blocklist:
        blocked = F.arrays_overlap(
            sufs, F.array(*[F.lit(b) for b in sorted(set(blocklist))])
        )
    else:
        blocked = F.lit(False)
    dp, dq = digit_limit
    digits = F.length(F.regexp_replace("_path", r"[^0-9]", ""))
    flags = with_parts.select(
        # an input that already carries a host column (a re-gated
        # url_prefilter/robots_filter output) must not yield TWO host
        # columns — the recomputed one wins
        *[c for c in urls.columns if c != "host"],
        "host",
        F.lower(F.col("_path")).rlike(_ASSET_EXT_RE).alias("is_asset"),
        (digits * dq > F.length("_path") * dp).alias("digit_heavy"),
        (F.length(u) > max_len).alias("too_long"),
        blocked.alias("blocked_domain"),
    )
    return flags.withColumn(
        "keep",
        ~(
            F.col("is_asset")
            | F.col("digit_heavy")
            | F.col("too_long")
            | F.col("blocked_domain")
        ),
    )


def frontier_host_cap(
    frontier: DataFrame,
    per_host: int,
    url_col: str = "canon_url",
    id_col: str = "first_id",
    n_shards: int = 64,
    per_host_caps: DataFrame | None = None,
    politeness_key: Column | None = None,
) -> DataFrame:
    """Crawl politeness: cap the to-crawl frontier at ``per_host`` urls
    per host for this cycle (every crawler rate-limits per origin — a
    batch that schedules 10^6 urls against one host is a DoS, and the
    host's crawl-delay makes the tail worthless anyway; deferred urls
    simply resurface in a later cycle's probe because they were never
    appended to the seen-set).

    Input is :func:`url_frontier_delta`'s output (the ``to_crawl``
    flag and per-url discoverer id); output per kept url:
    ``(canon_url, host, first_id, pick_rank)``.

    ``per_host_caps`` optionally overrides the scalar cap per host
    (``(host, cap)``, e.g. :func:`robots.host_caps_from_delays` from
    Crawl-delay directives); hosts absent from it keep ``per_host``.

    ``politeness_key`` swaps the grouping expression (it still lands
    in the output's ``host`` column): pass
    ``registered_domain(host_of(url_col))`` to cap per SITE instead of
    per host — the subdomain-spam counter (a spammer with 10^3
    ``*.spam.example`` subdomains evades any per-host cap; the
    registered-domain cap holds the whole site to one budget).

    Selection is the deterministic (shard, md5(url), url) order within
    each host, ranked in the two-phase sharded form (the
    ``cluster_balanced_sample`` shape) — a mega-host with half the
    frontier never funnels through one task, which is exactly the
    skewed-host hazard the north rule's salted aggregation targets,
    on the frontier side. The narrow projection persists (rank leg +
    bases leg)."""
    from pyspark.sql import Window

    d = persist(
        "urls.host_cap",
        frontier.filter(F.col("to_crawl"))
        .select(
            F.col(url_col),
            F.col(id_col),
            (
                politeness_key
                if politeness_key is not None
                else host_of(url_col)
            ).alias("host"),
            (F.col(id_col) % n_shards).alias("_shard"),
            F.md5(url_col).alias("_h"),
        ),
    )
    w_in = Window.partitionBy("host", "_shard").orderBy("_h", url_col)
    within = d.withColumn("_rk_in", F.row_number().over(w_in))
    # ≤ |hosts| * n_shards rows: the one permissible tiny window
    w_base = (
        Window.partitionBy("host")
        .orderBy("_shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = (
        d.groupBy("host", "_shard")
        .agg(F.count("*").alias("_n"))
        .select(
            "host",
            "_shard",
            F.coalesce(F.sum("_n").over(w_base), F.lit(0)).alias("_base"),
        )
    )
    ranked = within.join(F.broadcast(bases), ["host", "_shard"]).withColumn(
        "pick_rank", (F.col("_base") + F.col("_rk_in")).cast("long")
    )
    if per_host_caps is not None:
        # per-host override (e.g. robots Crawl-delay via
        # host_caps_from_delays): broadcast (host, cap) — hosts absent
        # from it keep the scalar default
        ranked = ranked.join(
            F.broadcast(per_host_caps.select("host", "cap")), "host", "left"
        ).withColumn(
            "_cap", F.coalesce("cap", F.lit(per_host).cast("long"))
        )
    else:
        ranked = ranked.withColumn("_cap", F.lit(per_host).cast("long"))
    return ranked.filter(F.col("pick_rank") <= F.col("_cap")).select(
        url_col, "host", id_col, "pick_rank"
    )


#: XML predefined entities, decode order matters: ``&amp;`` LAST or
#: double-encoded text like ``&amp;lt;`` would decode twice
_XML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&amp;", "&"),
)


def parse_sitemaps(
    sitemaps: DataFrame,
    host_col: str = "host",
    xml_col: str = "sitemap_xml",
) -> DataFrame:
    """Extract ``<loc>`` urls from per-host sitemap XML bodies — the
    discovery half of the crawl stack (robots.txt is the admission
    half; sitemaps.org protocol). Output: one ``(host, url)`` row per
    ``<loc>`` entry, whitespace-trimmed and XML-entity-decoded (the
    five predefined entities, ``&amp;`` last so double-encoded text
    decodes once).

    Deliberate subset, documented like the robots wildcard downscope:
    ``<loc>`` values are matched wherever they appear — a sitemapindex
    file's ``<loc>`` entries (pointing at child sitemaps) surface in
    the same output and the CALLER routes them by suffix; CDATA
    sections and non-predefined entities are out of scope.

    Pure Column work inside the scan (regexp_extract_all + explode +
    literal replaces): a 10^8-host sitemap refresh is one
    embarrassingly-parallel pass, no shuffle at all."""
    locs = F.regexp_extract_all(
        F.col(xml_col), F.lit(r"<loc>[ \t\r\n\f]*(.*?)[ \t\r\n\f]*</loc>"), 1
    )
    out = sitemaps.select(
        F.col(host_col).alias("host"), F.explode(locs).alias("url")
    )
    # empty/whitespace-only <loc> (truncated feeds) would otherwise
    # emit ('host', '') rows — same filter as parse_sitemap_entries
    return out.select("host", _xml_decode("url").alias("url")).filter(
        F.col("url") != ""
    )


def _xml_decode(col: Column | str) -> Column:
    """Decode the five predefined XML entities (``&amp;`` last)."""
    dec = F.col(col) if isinstance(col, str) else col
    for ent, ch in _XML_ENTITIES:
        dec = F.replace(dec, F.lit(ent), F.lit(ch))
    return dec


def parse_sitemap_entries(
    sitemaps: DataFrame,
    host_col: str = "host",
    xml_col: str = "sitemap_xml",
) -> DataFrame:
    """Block-scoped sitemap parse: one ``(host, url, lastmod)`` row
    per ``<url>`` element, pairing each ``<loc>`` with ITS OWN
    sibling ``<lastmod>`` (the flat :func:`parse_sitemaps` cannot —
    it has no block boundary to associate them across). ``lastmod``
    is the raw W3C date/datetime TEXT (null when absent): sitemap
    dates are ISO-8601, so lexicographic comparison orders them
    correctly without timestamp parsing — the cross-engine-exact
    comparison :func:`sitemap_recrawl_delta` relies on.

    ``(?s)`` makes ``.`` span newlines (real sitemaps pretty-print
    inside ``<url>`` blocks) — the flag exists in both Java regex and
    RE2, keep the oracle in lockstep. Blocks without a ``<loc>``
    are dropped. Pure Column work, zero shuffle."""
    blocks = F.regexp_extract_all(
        F.col(xml_col), F.lit(r"(?s)<url>(.*?)</url>"), 1
    )
    b = sitemaps.select(
        F.col(host_col).alias("host"), F.explode(blocks).alias("_b")
    )
    loc = F.regexp_extract("_b", r"(?s)<loc>[ \t\r\n\f]*(.*?)[ \t\r\n\f]*</loc>", 1)
    lastmod = F.regexp_extract(
        "_b", r"(?s)<lastmod>[ \t\r\n\f]*(.*?)[ \t\r\n\f]*</lastmod>", 1
    )
    return (
        b.select(
            "host",
            _xml_decode(loc).alias("url"),
            F.nullif(lastmod, F.lit("")).alias("lastmod"),
        )
        .filter(F.col("url") != "")
    )


def sitemap_recrawl_delta(
    entries: DataFrame,
    crawled: DataFrame,
    url_col: str = "url",
    crawled_url_col: str = "canon_url",
    crawled_at_col: str = "crawled_at",
    broadcast_entries: bool = True,
) -> DataFrame:
    """Freshness-aware frontier: decide which sitemap-advertised urls
    need (re)fetching given the crawl history — the RECRAWL dimension
    the seen-set alone cannot express (seen = never again; a sitemap
    ``lastmod`` newer than the stored crawl time re-opens the url).

    ``entries`` is :func:`parse_sitemap_entries` output; ``crawled``
    is the at-rest history ``(canon_url, crawled_at)`` with ISO-8601
    text dates (one row per url). Output, one row per distinct
    canonical advertised url::

        (host, canon_url, lastmod, crawled_at, needs_fetch)

    ``needs_fetch`` = never crawled, OR ``lastmod`` present and
    lexicographically greater than ``crawled_at`` (ISO text compare —
    exact in both engines, no timestamp parsing). Urls advertised
    several times collapse to their MAX lastmod (partial agg).

    Scale shape (the q80 discipline with a carried VALUE): the
    advertised batch canonicalizes and collapses map-side, then the
    10^12-row crawl history is scanned against the BROADCAST batch
    keys via an inner hash join — only the hits (≤ |batch|, carrying
    ``crawled_at``) come back to the left join; the history is never
    shuffled. ``broadcast_entries=False`` falls back to a plain
    AQE equi-join for oversized batches."""
    canon = with_canonical_url(entries, url_col).groupBy(
        "host", "canon_url"
    ).agg(F.max("lastmod").alias("lastmod"))
    canon = persist("urls.recrawl", canon)
    hist = crawled.select(
        F.col(crawled_url_col).alias("canon_url"),
        F.col(crawled_at_col).alias("crawled_at"),
    )
    if broadcast_entries:
        # distinct: a url advertised by SEVERAL hosts' sitemaps has
        # one canon row per host — broadcasting the key twice would
        # duplicate the hit and fan the left join out to 2x2 rows
        hits = hist.join(
            F.broadcast(canon.select("canon_url").distinct()),
            "canon_url",
        )
    else:
        hits = hist
    out = canon.join(hits, "canon_url", "left")
    needs = F.col("crawled_at").isNull() | (
        F.col("lastmod").isNotNull()
        & (F.col("lastmod") > F.col("crawled_at"))
    )
    return out.select(
        "host", "canon_url", "lastmod", "crawled_at",
        needs.alias("needs_fetch"),
    )


def with_canonical_url(
    df: DataFrame, url_col: str = "url", out: str = "canon_url"
) -> DataFrame:
    """Staged-projection twin of :func:`canonicalize_url` — byte-
    identical output (the q37 contract pins both forms against the
    same DuckDB chain), linear plan size.

    Why it exists: the Column form's steps each reference their
    predecessor several times, so its expression TREE is textually
    exponential in the step count (~75+ inlined copies of the base
    expression; one call optimizes to ~20k plan characters, measured).
    Harmless for a lone projection, but every composed frontier plan
    (q80/q88/q90 and the jobs) re-embeds and recompiles it per stage.
    Here each step binds to an intermediate column in its own
    projection; Catalyst's CollapseProject keeps multi-use non-cheap
    intermediates bound instead of inlining them, so the optimized
    tree stays linear (~1.2k characters, 17× smaller). Intermediates
    are dropped before returning; all input columns pass through."""
    c = "_cu_"
    d = df.withColumn(c + "u1", F.regexp_replace(url_col, r"#.*$", ""))
    d = d.withColumn(c + "q", F.instr(c + "u1", "?"))
    d = d.withColumn(
        c + "p",
        F.when(
            F.col(c + "q") > 0,
            F.substring(c + "u1", F.lit(1), F.col(c + "q") - 1),
        ).otherwise(F.col(c + "u1")),
    )
    d = d.withColumn(
        c + "qs",
        F.when(
            F.col(c + "q") > 0,
            F.substring(c + "u1", F.col(c + "q"), F.length(c + "u1")),
        ).otherwise(F.lit("")),
    )
    d = d.withColumn(
        c + "qs",
        F.regexp_replace(
            c + "qs", r"(?i)[?&](?:utm_[a-z]+|fbclid|gclid)=[^&#]*", ""
        ),
    )
    d = d.withColumn(c + "qs", F.regexp_replace(c + "qs", r"^&", "?"))
    d = d.withColumn(c + "qs", F.regexp_replace(c + "qs", r"[?&]$", ""))
    d = d.withColumn(c + "u2", F.concat(c + "p", c + "qs"))
    d = d.withColumn(
        c + "h",
        F.lower(
            F.regexp_extract(
                c + "u2", r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)", 1
            )
        ),
    )
    d = d.withColumn(
        c + "t",
        F.regexp_replace(c + "u2", r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*", ""),
    )
    d = d.withColumn(
        c + "u3",
        F.when(F.col(c + "h") == "", F.col(c + "u2")).otherwise(
            F.concat(c + "h", c + "t")
        ),
    )
    d = d.withColumn(
        c + "u4",
        F.regexp_replace(
            c + "u3", r"^(https://[^/:?]+):443([/?]|$)", r"$1$2"
        ),
    )
    d = d.withColumn(
        c + "u4",
        F.regexp_replace(
            c + "u4", r"^(http://[^/:?]+):80([/?]|$)", r"$1$2"
        ),
    )
    d = d.withColumn(c + "q2", F.instr(c + "u4", "?"))
    d = d.withColumn(
        c + "pp",
        F.when(
            F.col(c + "q2") > 0,
            F.substring(c + "u4", F.lit(1), F.col(c + "q2") - 1),
        ).otherwise(F.col(c + "u4")),
    )
    d = d.withColumn(
        c + "qq",
        F.when(
            F.col(c + "q2") > 0,
            F.substring(c + "u4", F.col(c + "q2"), F.length(c + "u4")),
        ).otherwise(F.lit("")),
    )
    d = d.withColumn(
        c + "u5",
        F.concat(
            F.regexp_replace(c + "pp", r"([^:/])//+", r"$1/"), F.col(c + "qq")
        ),
    )
    d = d.withColumn(
        out,
        F.regexp_replace(
            c + "u5", r"(://[^/?]+/[^?]*[^/?])/($|\?)", r"$1$2"
        ),
    )
    return d.drop(*[f for f in d.columns if f.startswith(c)])


def frontier_priority_budget(
    frontier: DataFrame,
    host_ranks: DataFrame,
    budget: int,
    url_col: str = "canon_url",
    rank_col: str = "rank",
    broadcast_ranks: bool = True,
) -> DataFrame:
    """Centrality-prioritized crawl budgeting: given a cycle budget of
    ``budget`` fetches, schedule the frontier's ``to_crawl`` urls from
    the best-ranked hosts first (the OPIC/PageRank-ordered scheduling
    family — a crawler with finite capacity spends it on well-linked
    origins). ``host_ranks`` is a ``(host, rank)`` relation, e.g.
    :func:`graphs.pagerank` output; hosts absent from it rank 0
    (never-seen origins crawl last, after every known host).

    Output: ``(canon_url, host, host_rank)`` — the budget-many urls
    first in the total order (host_rank desc, md5(url), url). The
    order is total and exact-integer/byte-wise, so the selected SET is
    deterministic and both engines agree (no row_number column: a
    global sequence number would force a single-partition window; the
    set plus carried host_rank is the schedule).

    Scale shape: the rank join broadcasts (one row per RANKED host —
    politeness metadata scale; ``broadcast_ranks=False`` for
    webgraph-complete rank tables, AQE handles the equi-join), and the
    global top-``budget`` compiles to TakeOrderedAndProject — each
    partition keeps its local top-``budget`` and the driver merges
    heaps, no global sort, no funnel (plan-asserted in tests)."""
    f = frontier.filter(F.col("to_crawl")).withColumn(
        "host", host_of(url_col)
    )
    # keep the rank's OWN type: graphs.pagerank emits int64
    # micro-units, but any numeric (host, rank) relation is valid —
    # a long cast would truncate normalized double ranks to 0 and
    # silently destroy the prioritization
    rank_type = host_ranks.schema[rank_col].dataType
    r = host_ranks.select(
        F.col("host"), F.col(rank_col).alias("host_rank")
    )
    if broadcast_ranks:
        r = F.broadcast(r)
    return (
        f.join(r, "host", "left")
        .select(
            url_col,
            "host",
            F.coalesce("host_rank", F.lit(0).cast(rank_type)).alias(
                "host_rank"
            ),
        )
        .orderBy(
            F.col("host_rank").desc(), F.md5(url_col), F.col(url_col)
        )
        .limit(budget)
    )


def capture_delta(
    captures: DataFrame,
    url_col: str = "canon_url",
    ts_col: str = "ts",
    id_col: str = "event_id",
    digest_col: str = "digest",
) -> DataFrame:
    """Revisit collapse over a capture log — the Common-Crawl
    convention: a crawler fetches the same url across cycles; the
    corpus keeps ONE row per url (its latest capture) plus the
    change evidence a recrawl scheduler wants. For each url::

        (canon_url, n_captures, latest_ts, latest_id, digest,
         prev_digest, changed)

    ``prev_digest`` is the content digest of the capture immediately
    BEFORE the latest one (null for first-ever captures); ``changed``
    = first capture OR digest differs from it — the signal that
    separates genuinely-updated pages from byte-identical revisits
    (feed it to :func:`sitemap_recrawl_delta`-style freshness
    policies, or drop unchanged revisits before extraction). Order is
    total: (ts desc, id desc) — capture logs can carry duplicate
    timestamps.

    Scale shape: ONE hash shuffle on the url key; both window
    functions and the per-url count ride the same partitioning (url
    is corpus-cardinality — no funnel, and a two-phase max(struct)
    could find the latest capture without a sort but not the
    SECOND-latest; the key-partitioned window is the honest plan for
    rank-2 semantics)."""
    from pyspark.sql import Window

    w = Window.partitionBy(url_col).orderBy(
        F.col(ts_col).desc(), F.col(id_col).desc()
    )
    ranked = captures.select(
        F.col(url_col),
        F.col(ts_col).alias("latest_ts"),
        F.col(id_col).alias("latest_id"),
        F.col(digest_col).alias("digest"),
        F.row_number().over(w).alias("_rn"),
        F.lead(digest_col).over(w).alias("prev_digest"),
        F.count(F.lit(1))
        .over(Window.partitionBy(url_col))
        .alias("n_captures"),
    )
    return ranked.filter(F.col("_rn") == 1).select(
        url_col,
        "n_captures",
        "latest_ts",
        "latest_id",
        "digest",
        "prev_digest",
        (
            F.col("prev_digest").isNull()
            | (F.col("digest") != F.col("prev_digest"))
        ).alias("changed"),
    )


def resolve_redirects(
    fetches: DataFrame,
    redirects: DataFrame,
    url_col: str = "url",
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 5,
) -> DataFrame:
    """HTTP redirect-chain resolution — the missing link between the
    fetch log and every url-keyed stage: crawlers dedup/schedule by
    the FINAL url after 3xx chains (a page reachable through three
    hops is the same document), so the seen-set, capture collapse and
    canonical-collapse operators all want this in front of them.

    ``fetches``: one row per fetched url. ``redirects``: the 3xx
    subset as ``(src, dst)`` with ONE row per src (collapse refetches
    first — :func:`capture_delta` keyed on the redirect source is the
    natural producer; the operator does not distinct a possibly-huge
    relation per call, the seen-set rule).

    Output per fetched url: ``(start_url, final_url, n_hops,
    status)`` with status ``'ok'`` (terminal within the budget —
    ``n_hops`` 0 means it never redirected), ``'loop'`` (a hop target
    was already on this chain's path — the classic A→B→A
    misconfiguration), ``'too_many_hops'`` (still redirecting after
    ``max_hops`` — browsers give up the same way), or ``'dangling'``
    (the chain ends at a url absent from the fetch log — scheduled,
    not yet crawled).

    Scale shape: exactly ``max_hops`` bounded join rounds — each hop
    joins the walking relation against the redirect map on the
    current url (broadcast when the 3xx subset is small, hash join
    otherwise; terminal rows ride along with a null hit and cost
    nothing but the probe). The visited-path array is bounded by
    ``max_hops`` entries, so loop detection is O(hops) per row with
    no extra shuffle. The DuckDB oracle mirrors the same
    unconditional ``max_hops`` rounds as chained CTEs."""
    red = redirects.select(
        F.col(src_col).alias("_rsrc"), F.col(dst_col).alias("_rdst")
    )
    cur = fetches.select(
        F.col(url_col).alias("start_url"),
        F.col(url_col).alias("_cur"),
        F.lit(0).cast("long").alias("n_hops"),
        F.lit(False).alias("_looped"),
        F.array(F.col(url_col)).alias("_visited"),
    )
    for _ in range(max_hops):
        j = cur.join(red, cur["_cur"] == red["_rsrc"], "left")
        hit = F.col("_rdst").isNotNull()
        cur = j.select(
            "start_url",
            F.coalesce("_rdst", "_cur").alias("_cur"),
            F.when(hit, F.col("n_hops") + 1)
            .otherwise(F.col("n_hops"))
            .alias("n_hops"),
            (
                F.col("_looped")
                | (hit & F.array_contains("_visited", F.col("_rdst")))
            ).alias("_looped"),
            F.when(
                hit, F.concat("_visited", F.array(F.col("_rdst")))
            )
            .otherwise(F.col("_visited"))
            .alias("_visited"),
        )
    # terminal classification: still-redirecting probe + fetched probe
    pending = cur.join(red, cur["_cur"] == red["_rsrc"], "left").select(
        "start_url",
        F.col("_cur").alias("final_url"),
        "n_hops",
        "_looped",
        F.col("_rdst").isNotNull().alias("_pending"),
    )
    fetched = fetches.select(
        F.col(url_col).alias("final_url"),
        F.lit(True).alias("_fetched"),
    ).distinct()
    out = pending.join(fetched, "final_url", "left")
    return out.select(
        "start_url",
        "final_url",
        "n_hops",
        F.when(F.col("_looped"), F.lit("loop"))
        .when(F.col("_pending"), F.lit("too_many_hops"))
        .when(
            (F.col("n_hops") > 0) & F.col("_fetched").isNull(),
            F.lit("dangling"),
        )
        .otherwise(F.lit("ok"))
        .alias("status"),
    )


def url_templates(
    urls: DataFrame,
    url_col: str = "url",
    min_urls: int = 50,
) -> DataFrame:
    """Crawler-trap template mining (the Heritrix/Nutch counter to
    calendar pages and session-id link farms): urls reduce to a path
    TEMPLATE — long hex runs first (session ids / content hashes →
    ``{h}``; hex before digits or every hex run would be mangled into
    digit fragments), then digit runs → ``{d}`` — and a (host,
    template) with huge url fan-out is an infinite url space no
    politeness cap fixes (the cap fills with trap urls every cycle;
    the TEMPLATE must be deprioritized).

    Output: ``(host, template, n_urls, is_trap)`` with ``n_urls`` the
    DISTINCT url fan-out (an infinite space means many distinct urls;
    refetch counts would flag a popular single page) and ``is_trap``
    = fan-out ≥ ``min_urls``. One exact distinct-count aggregation at
    (host, template) cardinality — the two-phase expansion's first
    groupBy absorbs the trap's duplicate mass map-side, which is
    exactly the relation that is huge when it matters."""
    t = strip_authority(url_col)
    t = F.regexp_replace(t, r"(?i)[0-9a-f]{8,}", "{h}")
    t = F.regexp_replace(t, r"[0-9]+", "{d}")
    return (
        urls.select(
            host_of(url_col).alias("host"),
            t.alias("template"),
            F.col(url_col).alias("_u"),
        )
        .groupBy("host", "template")
        .agg(F.countDistinct("_u").alias("n_urls"))
        .withColumn("is_trap", F.col("n_urls") >= min_urls)
    )


def host_error_backoff(
    fetch_log: DataFrame,
    base_cap: int,
    host_col: str = "host",
    status_col: str = "status",
    error_min_status: int = 500,
) -> DataFrame:
    """Per-host error-rate backoff — the health half of politeness: a
    host answering 5xx is telling the crawler to slow down, so next
    cycle's cap scales by the HEALTHY fraction in exact integer math
    (``cap = base · (n − n_err) div n`` — bit-identical at any
    parallelism; an all-error host gets cap 0 and is skipped for the
    cycle, recovering automatically once probes succeed).

    Output ``(host, n_fetches, n_errors, cap)`` — feed ``cap`` to
    :func:`frontier_host_cap` via ``per_host_caps=`` (the Crawl-delay
    cap's shape; hosts absent from the log keep the scalar default).
    One partial-agg groupBy at host cardinality."""
    agg = fetch_log.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).alias("n_fetches"),
        F.sum(
            (F.col(status_col) >= error_min_status).cast("long")
        ).alias("n_errors"),
    )
    return agg.withColumn(
        "cap",
        F.expr(
            f"({base_cap}L * (n_fetches - n_errors)) div n_fetches"
        ),
    )


def trap_filter(
    frontier: DataFrame,
    traps: DataFrame,
    url_col: str = "canon_url",
) -> DataFrame:
    """Close the trap loop: frontier urls whose (host, template)
    matches a flagged trap (:func:`url_templates` output, filtered to
    ``is_trap``) are marked ``trap_hit`` — the caller drops or
    deprioritizes them BEFORE the politeness cap, otherwise every
    cycle's per-host budget fills with calendar/session urls and the
    real pages never schedule.

    Scale shape: the template is computed inside the frontier scan
    (same rewrite constants as the miner) and probed against the
    BROADCAST trap relation (trap templates are rare by definition —
    host-cardinality-ish); the frontier is never shuffled."""
    t = strip_authority(url_col)
    t = F.regexp_replace(t, r"(?i)[0-9a-f]{8,}", "{h}")
    t = F.regexp_replace(t, r"[0-9]+", "{d}")
    probe = traps.filter(F.col("is_trap")).select(
        F.col("host"), F.col("template"), F.lit(True).alias("_trap")
    )
    out = frontier.withColumn("_host", host_of(url_col)).withColumn(
        "_template", t
    )
    return (
        out.join(
            F.broadcast(probe),
            (out["_host"] == probe["host"])
            & (out["_template"] == probe["template"]),
            "left",
        )
        .withColumn("trap_hit", F.coalesce("_trap", F.lit(False)))
        .drop("host", "template", "_trap", "_host", "_template")
    )
