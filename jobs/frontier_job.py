"""spark-submit entrypoint for the crawl-frontier loop.

The production shape of ``operators/urls`` + ``sources/seen_urls``
(round-7): seed the at-rest seen-set from the already-crawled corpus
once, then per discovery batch probe it (canonicalize, collapse
within-batch dups, broadcast-semi against the seen side — the
historical set is never shuffled), emit the per-host-capped frontier,
and append the scheduled urls so the next cycle skips them. Deferred
urls (over the host cap) were never appended and resurface in the
next probe. Reference analogue: ingest-time duplicate rejection
(``routers/batches.py:381``) moved BEFORE the fetch.

Usage::

    python tools/make_pyfiles_zip.py /tmp/engine.zip
    # seed the seen-set from already-canonical urls
    spark-submit --master local[32] --py-files /tmp/engine.zip \
        jobs/frontier_job.py seed --urls <parquet with canon_url> \
        --seen <seen dir>
    # per discovery batch: probe, gate, cap, emit, append
    spark-submit ... jobs/frontier_job.py probe --new <parquet with \
        (event_id, url)> --seen <seen dir> --output <frontier dir> \
        # or: --pages <parquet with (doc_id, url, html)> to discover \
        # via extracted outlinks (the q107 crawl-loop closure) \
        [--per-host 1000] [--no-append] [--no-prefilter] \
        [--blocklist spam.net,ads.example] [--max-len 2048] \
        [--digit-limit 1/2] [--robots <parquet (host, robots_txt)>] \
        [--cycle-seconds 60]

``probe`` runs the full politeness chain (the q88 composition): the
seen-set delta, then the pre-fetch URL quality gate (``url_prefilter``
— disable with ``--no-prefilter``), then robots.txt admission when
``--robots`` is given, then the per-host cap. It writes the capped
frontier (canon_url, host, first_id, pick_rank) under ``--output``
and, unless ``--no-append``, appends the DECIDED urls to the seen-set
(one snapshot on the set's chain — a killed job leaves the set unchanged and
the re-run probe is idempotent). Decided = scheduled ∪ asset-flagged:
only url-INTRINSIC rejections are remembered for good (an asset url
never stops being an asset). Blocklist/length/digit-ratio rejections
are run-level CLI policy, and robots rejections are host policy —
both resurface at the next probe so a config or robots change is
picked up; cap deferrals resurface as capacity.

Same contract as the other jobs: public package API only, submits
unchanged to a real cluster.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    parser = argparse.ArgumentParser(description="crawl-frontier jobs")
    sub = parser.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("seed", help="seed the seen-set")
    s.add_argument("--urls", required=True, help="parquet with canon_url")
    s.add_argument("--seen", required=True)

    p = sub.add_parser("probe", help="probe a discovery batch")
    p.add_argument(
        "--new", help="parquet with (event_id, url) discovered urls"
    )
    p.add_argument(
        "--pages",
        help="parquet with (doc_id, url, html) fetched pages: discover "
        "urls by EXTRACTING outlinks (q107 shape) instead of --new",
    )
    p.add_argument("--seen", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--per-host", type=int, default=1000)
    p.add_argument(
        "--budget-key",
        choices=("host", "domain"),
        default="host",
        help="politeness grouping: per host, or per registered domain "
        "(eTLD+1 — the subdomain-spam counter; q104 shape). With "
        "'domain', --robots Crawl-delay caps keyed by host do not "
        "apply (different key space).",
    )
    p.add_argument("--no-append", action="store_true")
    p.add_argument(
        "--blocklist",
        default=None,
        help="comma-separated domain suffixes to reject pre-fetch",
    )
    p.add_argument("--max-len", type=int, default=2048)
    p.add_argument(
        "--digit-limit",
        default="1/2",
        help="digit-ratio threshold p/q for the URL quality gate",
    )
    p.add_argument(
        "--no-prefilter",
        action="store_true",
        help="skip the URL quality gate entirely",
    )
    p.add_argument(
        "--robots",
        default=None,
        help="parquet with (host, robots_txt) for admission checks",
    )
    p.add_argument(
        "--cycle-seconds",
        type=int,
        default=0,
        help="with --robots: scale each host's cap by its Crawl-delay "
        "(cap = min(per-host, cycle div delay); 0 disables)",
    )
    args = parser.parse_args()
    if args.cmd == "probe" and bool(args.new) == bool(args.pages):
        parser.error("probe needs exactly one of --new / --pages")
    if (
        args.cmd == "probe"
        and args.budget_key == "domain"
        and args.robots
        and args.cycle_seconds > 0
    ):
        # pure-CLI incompatibility: fail BEFORE building a session and
        # running the probe/gate chain (Crawl-delay caps are (host,
        # cap) rows; joined against eTLD+1 keys they would be a silent
        # no-op politeness floor)
        parser.error(
            "--budget-key domain cannot combine with --cycle-seconds "
            "host caps"
        )

    from pyspark.sql import functions as F

    from ai_pdf_extraction_spark.operators.robots import (
        host_caps_from_delays,
        parse_crawl_delays,
        parse_robots,
        prepare_robots_lines,
        robots_filter,
    )
    from ai_pdf_extraction_spark.operators.urls import (
        frontier_host_cap,
        url_prefilter,
    )
    from ai_pdf_extraction_spark.session import build_session
    from ai_pdf_extraction_spark.sources.seen_urls import (
        append_seen_set,
        frontier_from_seen_set,
        write_seen_set,
    )

    spark = build_session(app_name=f"frontier-{args.cmd}")
    if args.cmd == "seed":
        manifest = write_seen_set(spark.read.parquet(args.urls), args.seen)
        print(json.dumps({"n_urls": manifest["n_urls"]}))
    else:
        # the frontier fans into the gate legs + the cap projection —
        # persist once (the q88 lesson: an unpersisted fan-out re-runs
        # the probe plan per leg)
        if args.pages:
            # the crawl tick closed from extraction: fetched pages in,
            # outlink discoveries probed against the seen-set — the
            # discoverer doc_id rides the link row (no page join-back)
            from ai_pdf_extraction_spark.operators.links import (
                extract_outlinks,
            )

            batch = extract_outlinks(
                spark.read.parquet(args.pages), passthrough=("doc_id",)
            ).select(
                F.col("doc_id").alias("event_id"),
                F.col("dst_url").alias("url"),
            )
        else:
            batch = spark.read.parquet(args.new)
        fr = frontier_from_seen_set(spark, args.seen, batch).persist()
        summary = {}
        gated = fr
        has_prefilter = not args.no_prefilter
        if has_prefilter:
            dp, dq = (int(x) for x in args.digit_limit.split("/"))
            blocklist = (
                [s.strip() for s in args.blocklist.split(",") if s.strip()]
                if args.blocklist
                else None
            )
            gated = url_prefilter(
                gated,
                url_col="canon_url",
                blocklist=blocklist,
                max_len=args.max_len,
                digit_limit=(dp, dq),
            )
        caps = None
        if args.robots:
            robots_df = spark.read.parquet(args.robots)
            # both tails (rules + Crawl-delay) share one persisted
            # grouped-lines front half — otherwise each re-scans the
            # robots relation and re-runs the posexplode/window parse
            prepared = (
                prepare_robots_lines(robots_df)
                if args.cycle_seconds > 0
                else None
            )
            gated = robots_filter(
                gated,
                parse_robots(robots_df, prepared=prepared),
                url_col="canon_url",
            )
            if args.cycle_seconds > 0:
                # the SAME robots bodies carry the Crawl-delay floors:
                # scale each host's per-cycle cap by its delay
                caps = host_caps_from_delays(
                    parse_crawl_delays(robots_df, prepared=prepared),
                    cycle_seconds=args.cycle_seconds,
                    max_cap=args.per_host,
                )
        if gated is not fr:
            # the gated relation feeds the counts agg, the intrinsic-
            # rejection append leg, AND the cap — persist it too or
            # each action re-runs the gate joins
            gated = gated.persist()
        to_crawl = F.col("to_crawl")
        if has_prefilter:
            to_crawl = to_crawl & F.col("keep")
        if args.robots:
            to_crawl = to_crawl & F.col("robots_allowed")
        # one aggregation for every summary count — an action per key
        # would re-execute a gate leg each
        count_cols = []
        if has_prefilter:
            count_cols.append(
                F.sum(
                    (F.col("to_crawl") & ~F.col("keep")).cast("long")
                ).alias("prefiltered")
            )
            count_cols.append(
                F.sum(
                    (F.col("to_crawl") & F.col("is_asset")).cast("long")
                ).alias("assets")
            )
        if args.robots:
            rb_gate = F.col("to_crawl") & ~F.col("robots_allowed")
            if has_prefilter:
                rb_gate = (
                    F.col("to_crawl")
                    & F.col("keep")
                    & ~F.col("robots_allowed")
                )
            count_cols.append(
                F.sum(rb_gate.cast("long")).alias("robots_blocked")
            )
        if count_cols:
            summary.update(
                {
                    k: int(v)
                    for k, v in gated.agg(*count_cols)
                    .collect()[0]
                    .asDict()
                    .items()
                }
            )
        politeness_key = None
        if args.budget_key == "domain":
            from ai_pdf_extraction_spark.operators.urls import (
                host_of,
                registered_domain,
            )

            politeness_key = registered_domain(host_of("canon_url"))
        capped = frontier_host_cap(
            gated.withColumn("to_crawl", to_crawl),
            per_host=args.per_host,
            per_host_caps=caps,
            politeness_key=politeness_key,
        )
        capped.write.mode("overwrite").parquet(args.output)
        # counts read back the just-written parquet — recounting the
        # lazy plan would re-run the probe
        scheduled = spark.read.parquet(args.output)
        summary["scheduled"] = scheduled.count()
        if not args.no_append:
            decided = scheduled.select("canon_url")
            if has_prefilter:
                # ONLY url-intrinsic rejections are remembered for
                # good (an asset url never stops being an asset).
                # Blocklist/length/digit rejections are run-level CLI
                # policy — like robots verdicts, they must resurface
                # so a config change is picked up at the next probe.
                decided = decided.union(
                    gated.filter(
                        F.col("to_crawl") & F.col("is_asset")
                    ).select("canon_url")
                )
            manifest = append_seen_set(
                spark, args.seen, decided, assume_unseen=True
            )
            summary["seen_n_urls"] = manifest["n_urls"]
        print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
