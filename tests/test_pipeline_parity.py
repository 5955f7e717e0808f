"""End-to-end parity: Spark pipeline output must be byte-identical to
the single-process oracle goldens per url (BASELINE.json north_rule;
SURVEY.md §5 item 3). Also covers resume (§5 item 5) and skew salting
(§5 item 6)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_extraction_parity_byte_identical(spark, corpus_dir, tmp_path):
    from ai_pdf_extraction_spark.plans.pipeline import run_extraction
    from ai_pdf_extraction_spark.sources.snapshot_table import SnapshotTable

    out_root = str(tmp_path / "out")
    result = run_extraction(
        spark,
        os.path.join(corpus_dir, "pages.parquet"),
        out_root,
        run_id="parity-run",
        n_buckets=16,
    )
    assert result["docs"] == 300

    actual = SnapshotTable(out_root).read(spark)
    golden = spark.read.parquet(os.path.join(corpus_dir, "golden.parquet"))

    joined = actual.alias("a").join(golden.alias("g"), "url", "full_outer")
    total = joined.count()
    assert total == 300, "row mismatch between pipeline output and golden"

    matches = joined.filter(
        F.expr("a.extracted_text <=> g.extracted_text")
        & F.expr("a.parse_ok <=> g.parse_ok")
        & F.expr("a.spans <=> g.spans")
        & F.expr("a.warnings <=> g.warnings")
        & F.expr("a.content_type <=> g.content_type")
        & F.expr("a.confidence <=> g.confidence")
    ).count()
    assert matches == total, f"only {matches}/{total} rows byte-identical"


def test_resume_skips_committed_buckets(spark, corpus_dir, tmp_path):
    from ai_pdf_extraction_spark.plans.pipeline import run_extraction
    from ai_pdf_extraction_spark.sources.snapshot_table import SnapshotTable

    out_root = str(tmp_path / "resume_out")
    pages = os.path.join(corpus_dir, "pages.parquet")

    # Simulate a killed run: commit only the first 3 bucket groups.
    first = run_extraction(
        spark, pages, out_root, run_id="run-a", n_buckets=8, buckets_per_commit=1
    )
    assert first["committed"] == list(range(8))
    # Roll back to a crash state: drop the last 5 snapshot manifests.
    table = SnapshotTable(out_root)
    for name in sorted(os.listdir(table.manifest_dir))[3:]:
        os.remove(os.path.join(table.manifest_dir, name))
    assert table.committed_buckets() == {0, 1, 2}

    # Resume must process exactly the 5 un-committed buckets.
    second = run_extraction(spark, pages, out_root, run_id="run-b", n_buckets=8)
    assert second["skipped"] == [0, 1, 2]
    assert second["committed"] == [3, 4, 5, 6, 7]

    # Final table: every url exactly once, despite orphaned data files
    # from the "crashed" run (manifest filtering dedups by run for the
    # committed buckets; orphan buckets 3-7 of run-a are re-read only
    # if referenced — check global uniqueness on committed snapshots).
    final = table.read(spark).filter(
        F.col("run_id").isin(["run-a", "run-b"])
    )
    dupes = final.groupBy("url").count().filter("count > 1").count()
    assert dupes == 0
    assert final.count() == 300

    # Each commit's lineage metrics, counted while the commit was
    # written, equal a groupBy("bucket") over that commit's own rows.
    actual = {
        (r["commit_id"], r["bucket"]): (
            r["n_docs"], r["n_parse_fail"], r["sum_chars"], r["sum_spans"]
        )
        for r in final.groupBy("commit_id", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((~F.col("parse_ok")).cast("int")).alias("n_parse_fail"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("n_spans").alias("sum_spans"),
        )
        .collect()
    }
    recorded = {
        (snap["commit_id"], m["bucket"]): (
            m["n_docs"], m["n_parse_fail"], m["sum_chars"], m["sum_spans"]
        )
        for snap in table.snapshots()
        for m in snap["metrics"]
    }
    assert len(table.snapshots()) == 4
    assert recorded == actual


def test_commit_writes_one_file_per_bucket(
    spark, corpus_dir, pages_rows, tmp_path
):
    """Every input is placed by bucket, so a narrow input's commit
    writes one parquet file per bucket directory (a round-robin fan-out
    wrote one per bucket per task: 8 buckets x 8 tasks), a single-bucket
    commit at most k, the bucket's salt count, and a commit of g buckets
    over a wide input (one partition per WARC file) at most g·k files,
    not one per bucket per file."""
    import datetime
    import glob

    from ai_pdf_extraction_spark.plans.partitioning import bucket_salts
    from ai_pdf_extraction_spark.plans.pipeline import run_extraction
    from ai_pdf_extraction_spark.sources.snapshot_table import SnapshotTable
    from ai_pdf_extraction_spark.sources.warc import write_warc

    pages = os.path.join(corpus_dir, "pages.parquet")

    def files(root: str, pattern: str) -> list[str]:
        return glob.glob(os.path.join(SnapshotTable(root).data_dir, pattern))

    one = str(tmp_path / "one_commit")
    run_extraction(spark, pages, one, run_id="c", n_buckets=8)
    per_bucket = sorted(
        len(files(one, f"bucket={b}/commit_id=*/*.parquet")) for b in range(8)
    )
    assert per_bucket == [1] * 8

    many = str(tmp_path / "bucket_commits")
    run_extraction(spark, pages, many, run_id="g", n_buckets=4, buckets_per_commit=1)
    k = bucket_salts(1, 2 * spark.sparkContext.defaultParallelism)
    snaps = SnapshotTable(many).snapshots()
    assert len(snaps) == 4
    for snap in snaps:
        written = files(many, f"bucket=*/commit_id={snap['commit_id']}/*.parquet")
        assert 1 <= len(written) <= k, (snap["buckets"], len(written), k)

    par = spark.sparkContext.defaultParallelism
    n_files = 2 * par + 1
    rows = [
        {"url": r["url"],
         "warc_ts": r["warc_ts"].replace(tzinfo=datetime.timezone.utc),
         "html": r["html"]}
        for r in pages_rows
        if r["html"]
    ]
    wdir = tmp_path / "wide_warcs"
    wdir.mkdir()
    for i in range(n_files):
        write_warc(str(wdir / f"part-{i:03d}.warc.gz"), rows[i::n_files])
    wide = str(tmp_path / "wide")
    g = 2
    result = run_extraction(
        spark, str(wdir), wide, run_id="w", n_buckets=4,
        buckets_per_commit=g, input_format="warc",
    )
    assert result["docs"] == len(rows)
    k = bucket_salts(g, max(2 * par, n_files))
    snaps = SnapshotTable(wide).snapshots()
    assert len(snaps) == 2
    for snap in snaps:
        written = files(wide, f"bucket=*/commit_id={snap['commit_id']}/*.parquet")
        assert 1 <= len(written) <= g * k < n_files * g, (
            snap["buckets"], len(written), g * k
        )


def test_salted_host_counts_match_plain_groupby(spark, corpus_dir):
    from ai_pdf_extraction_spark.plans.partitioning import (
        salted_host_counts,
        with_partition_columns,
    )

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    df = with_partition_columns(pages.select("url"))
    salted = {r["host"]: r["n_docs"] for r in salted_host_counts(df).collect()}
    plain = {
        r["host"]: r["n"]
        for r in df.groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    assert salted == plain
    assert salted["big.example.com"] > 0.2 * 300


def test_salt_spreads_skewed_host(spark, corpus_dir):
    from ai_pdf_extraction_spark.plans.partitioning import with_partition_columns

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    df = with_partition_columns(pages.select("url"))
    skew_salts = (
        df.filter(F.col("host") == "big.example.com")
        .select("salt")
        .distinct()
        .count()
    )
    assert skew_salts >= 8, "skewed host must spread over most salt values"


def test_salted_repartition_balances_partitions(spark, corpus_dir):
    """SURVEY §5.6 skew-balance assertion, in deterministic row counts
    rather than flaky task times: repartitioning by host alone leaves
    one partition holding the skewed host's ~30% share; (host, salt)
    repartitioning caps the max partition near uniform."""
    from pyspark.sql import functions as F  # noqa: F811

    from ai_pdf_extraction_spark.plans.partitioning import (
        repartition_salted,
        with_partition_columns,
    )

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    df = with_partition_columns(pages.select("url"))
    n_parts = 16
    total = df.count()

    def max_share(frame) -> float:
        sizes = (
            frame.withColumn("p", F.spark_partition_id())
            .groupBy("p")
            .count()
            .collect()
        )
        return max(r["count"] for r in sizes) / total

    by_host = max_share(df.repartition(n_parts, F.col("host")))
    salted = max_share(repartition_salted(df, n_parts))
    assert by_host >= 0.25, "control: host-keyed shuffle must hot-spot"
    assert salted < by_host, (by_host, salted)
    assert salted <= 0.25, f"salted max partition share too high: {salted}"


def test_schema_evolution_across_commits(spark, corpus_dir, tmp_path):
    """Round-2→round-3 shape: a table whose first commit predates the
    `tables`/`n_pages` columns must read cleanly after a new-schema
    append — merge_schema=True surfaces the new columns as null on old
    rows (Iceberg add-column semantics), and the pre-evolution commit
    stays time-travelable."""
    from ai_pdf_extraction_spark.plans.pipeline import (
        extraction_plan,
    )
    from ai_pdf_extraction_spark.sources.snapshot_table import SnapshotTable

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    plan = extraction_plan(pages, run_id="evo", n_buckets=4)
    old_shape = plan.drop("tables", "n_pages").filter("bucket < 2")
    new_shape = plan.filter("bucket >= 2")

    tbl = SnapshotTable(str(tmp_path / "evo_out"))
    snap1 = tbl.append(old_shape, buckets=[0, 1], run_id="r2")
    tbl.append(new_shape, buckets=[2, 3], run_id="r3")

    merged = tbl.read(spark, merge_schema=True)
    assert "tables" in merged.columns and "n_pages" in merged.columns
    old_rows = merged.filter("bucket < 2")
    assert old_rows.count() > 0
    assert old_rows.filter("tables is not null or n_pages is not null").count() == 0
    assert merged.filter("bucket >= 2 and n_pages is not null").count() > 0
    # pre-evolution snapshot still readable as-of (which footer wins
    # schema inference is reader-ordering-dependent — assert rows only)
    as_of = tbl.read_at(spark, snap1["snapshot_id"])
    assert as_of.count() == old_rows.count()


def test_output_partition_pruning(spark, corpus_dir, tmp_path):
    """Reading one bucket must scan only that hive partition."""
    from ai_pdf_extraction_spark.plans.pipeline import run_extraction

    out_root = str(tmp_path / "prune_out")
    run_extraction(
        spark, os.path.join(corpus_dir, "pages.parquet"), out_root,
        run_id="prune", n_buckets=8,
    )
    df = spark.read.parquet(os.path.join(out_root, "data")).filter("bucket = 3")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan or "bucket#" in plan
    assert df.count() > 0


def test_snapshot_time_travel(spark, corpus_dir, tmp_path):
    from ai_pdf_extraction_spark.plans.pipeline import run_extraction
    from ai_pdf_extraction_spark.sources.snapshot_table import SnapshotTable

    out_root = str(tmp_path / "tt_out")
    run_extraction(
        spark, os.path.join(corpus_dir, "pages.parquet"), out_root,
        run_id="tt", n_buckets=4, buckets_per_commit=1,
    )
    table = SnapshotTable(out_root)
    snaps = table.snapshots()
    assert len(snaps) == 4
    # as-of the second snapshot only buckets 0-1 are visible
    old = table.read_at(spark, snaps[1]["snapshot_id"])
    assert set(r["bucket"] for r in old.select("bucket").distinct().collect()) == {0, 1}
    assert old.count() < table.read(spark).count()
    import pytest as _pytest

    with _pytest.raises(KeyError):
        table.read_at(spark, "nope")


def test_compaction_preserves_data_and_time_travel(
    spark, corpus_dir, tmp_path, monkeypatch
):
    import glob

    from ai_pdf_extraction_spark.plans.pipeline import run_extraction
    from ai_pdf_extraction_spark.sources.snapshot_table import SnapshotTable

    out_root = str(tmp_path / "compact_out")
    run_extraction(
        spark, os.path.join(corpus_dir, "pages.parquet"), out_root,
        run_id="c1", n_buckets=4, buckets_per_commit=1,
    )
    table = SnapshotTable(out_root)
    before = {r["url"]: r["extracted_text"] for r in table.read(spark).collect()}
    pre_snap = table.current_snapshot()["snapshot_id"]

    # the rewrite's row count is observed on the write, so no job
    # (no read of the new commit) runs after it
    sc = spark.sparkContext
    write = SnapshotTable.write

    def write_then_mark(self, df):
        commit_id = write(self, df)
        sc.setJobGroup("after_compaction_write", "nothing may run here")
        return commit_id

    monkeypatch.setattr(SnapshotTable, "write", write_then_mark)
    try:
        result = table.compact(spark)
        assert sc.statusTracker().getJobIdsForGroup("after_compaction_write") == []
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    monkeypatch.undo()
    assert result["compacted"] == 300
    assert len(result["replaces"]) == 4
    # rows placed by bucket rank: one task, so one file, per bucket
    new_dirs = glob.glob(
        os.path.join(table.data_dir, "*", f"commit_id={result['commit_id']}")
    )
    assert len(new_dirs) == 4
    for d in new_dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d

    # live read: identical rows, one commit dir per bucket
    after_df = table.read(spark)
    after = {r["url"]: r["extracted_text"] for r in after_df.collect()}
    assert after == before
    assert after_df.select("commit_id").distinct().count() == 1
    files_after_live = after_df.count()
    assert files_after_live == 300

    # time travel to the pre-compaction snapshot still sees old commits
    old = table.read_at(spark, pre_snap)
    assert old.count() == 300
    assert old.select("commit_id").distinct().count() == 4

    # a second compaction is a no-op-ish rewrite of one commit
    result2 = table.compact(spark)
    assert result2["replaces"] == [result["commit_id"]]
    assert table.read(spark).count() == 300


def test_orphan_and_superseded_data_stay_invisible(spark, tmp_path):
    """After two commits that carry counters, a compaction and a crashed
    write (data under a commit id no manifest names), readers list only
    the live commit's files and count only committed rows, and status
    summed over the manifests, with no Spark job, equals an aggregate
    over the committed rows."""
    from ai_pdf_extraction_spark.plans.metrics import batch_status
    from ai_pdf_extraction_spark.sources.snapshot_table import SnapshotTable

    def rows(lo: int, hi: int, first: int, n: int):
        """Urls lo..hi-1 over buckets first..first+n-1."""
        return spark.range(lo, hi).select(
            F.col("id").cast("string").alias("url"),
            (F.col("id") % 3 == 0).alias("parse_ok"),
            (first + F.col("id") % n).cast("int").alias("bucket"),
        )

    def counters(lo: int, hi: int, first: int, n: int) -> list[dict]:
        """The per-bucket counters a writer records for rows(lo, hi, ...)."""
        out: dict[int, dict] = {}
        for i in range(lo, hi):
            m = out.setdefault(first + i % n, {"bucket": first + i % n})
            m["n_docs"] = m.get("n_docs", 0) + 1
            m["n_parse_fail"] = m.get("n_parse_fail", 0) + int(i % 3 != 0)
        return list(out.values())

    table = SnapshotTable(str(tmp_path / "orphans"))
    for lo, hi, first, run_id in ((0, 40, 0, "a"), (40, 100, 2, "b")):
        table.append(
            rows(lo, hi, first, 2), buckets=[first, first + 1], run_id=run_id,
            metrics=counters(lo, hi, first, 2),
        )
    live_id = table.compact(spark)["commit_id"]
    orphan_id = table.write(rows(100, 1000, 0, 4))

    assert table.committed_commit_ids() == {live_id}
    df = table.read(spark)
    files = df.inputFiles()
    assert len(files) == 4
    assert all(f"/commit_id={live_id}/" in f for f in files), files
    assert orphan_id not in {r["commit_id"] for r in df.select("commit_id").collect()}
    assert df.count() == 100
    sc = spark.sparkContext
    sc.setJobGroup("batch_status_jobs", "status from the manifests")
    try:
        status = batch_status(spark, table, n_buckets=4)
        assert sc.statusTracker().getJobIdsForGroup("batch_status_jobs") == []
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    scanned = df.agg(
        F.count("*").alias("n_docs"),
        F.sum((~F.col("parse_ok")).cast("int")).alias("n_parse_fail"),
    ).first()
    assert (status["n_docs"], status["n_parse_fail"]) == tuple(scanned)
    assert status["n_docs"] == 100 and status["buckets_done"] == 4
    assert status["n_parse_fail"] == sum(1 for i in range(100) if i % 3)
    # the compaction recorded the replaced commits' counters, per bucket
    assert table.current_snapshot()["metrics"] == sorted(
        counters(0, 40, 0, 2) + counters(40, 100, 2, 2), key=lambda m: m["bucket"]
    )


def test_salted_join_matches_plain_join(spark, corpus_dir):
    from ai_pdf_extraction_spark.plans.partitioning import (
        salted_join,
        url_host,
        with_partition_columns,
    )

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    fact = pages.select("url", url_host().alias("host"))
    dim = fact.select("host").distinct().withColumn(
        "host_rank", F.length("host")
    )
    plain = fact.join(dim, "host").select("url", "host_rank")
    salted = salted_join(fact, dim, "host").select("url", "host_rank")
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_expire_superseded_commits(spark, corpus_dir, tmp_path):
    import glob

    from ai_pdf_extraction_spark.plans.pipeline import run_extraction
    from ai_pdf_extraction_spark.sources.snapshot_table import SnapshotTable

    out_root = str(tmp_path / "gc_out")
    run_extraction(
        spark, os.path.join(corpus_dir, "pages.parquet"), out_root,
        run_id="g1", n_buckets=4, buckets_per_commit=2,
    )
    table = SnapshotTable(out_root)
    table.compact(spark)
    n_dirs_before = len(glob.glob(os.path.join(table.data_dir, "*", "commit_id=*")))
    removed = table.expire_superseded()
    assert removed, "superseded commit dirs must be deleted"
    n_dirs_after = len(glob.glob(os.path.join(table.data_dir, "*", "commit_id=*")))
    assert n_dirs_after < n_dirs_before
    # live read unaffected
    assert table.read(spark).count() == 300
    # second expire is a no-op
    assert table.expire_superseded() == []


def test_schema_evolution_merge_read(spark, tmp_path):
    """A column added between runs must surface (null for old commits)
    with merge_schema — Iceberg add-column semantics."""
    from pyspark.sql import functions as F2

    from ai_pdf_extraction_spark.sources.snapshot_table import SnapshotTable

    table = SnapshotTable(str(tmp_path / "evolve"))
    v1 = spark.createDataFrame(
        [("u1", 0, True)], "url string, bucket int, parse_ok boolean"
    )
    table.append(v1, buckets=[0], run_id="old")
    v2 = spark.createDataFrame(
        [("u2", 1, True, 0.9)],
        "url string, bucket int, parse_ok boolean, confidence double",
    )
    table.append(v2, buckets=[1], run_id="new")

    merged = table.read(spark, merge_schema=True)
    assert "confidence" in merged.columns
    rows = {r["url"]: r for r in merged.collect()}
    assert rows["u1"]["confidence"] is None
    assert rows["u2"]["confidence"] == 0.9
    assert merged.count() == 2


def test_curated_corpus_without_lang_column(spark):
    """A docs relation with no `lang` column still curates — the narrow
    projection fills null lang instead of failing analysis (usability:
    not every corpus carries language metadata)."""
    from ai_pdf_extraction_spark.plans.curate import curated_corpus

    docs = spark.createDataFrame(
        [(i, f"some document body text number {i} with several words here")
         for i in range(30)],
        "doc_id long, text string",
    )
    out = curated_corpus(docs, quality_threshold=0.0).collect()
    assert len(out) == 30
    assert all(r["lang"] is None for r in out)


def test_curated_corpus_v4_span_leg(spark):
    """v4 = v3's doc set + span stats: same survivors, every survivor
    carries (n_words, n_removed, span_md5), and a doc whose only text
    is boilerplate shared with an earlier survivor loses that span —
    while the FIRST carrier keeps it (removal is computed WITHIN the
    surviving set, first occurrence wins)."""
    from ai_pdf_extraction_spark.plans.curate import (
        curated_corpus_v3,
        curated_corpus_v4,
    )
    from pyspark.sql import functions as F

    boiler = "standard license block repeated verbatim across corpus documents here"
    docs = spark.createDataFrame(
        [
            (
                i,
                "en",
                f"the unique body of document {i} and with that several more "
                f"plain filler words to pass the quality gate {boiler}",
            )
            for i in range(24)
        ],
        "doc_id long, lang string, text string",
    )
    bench = spark.createDataFrame(
        [(999, "entirely unrelated benchmark text nothing shared")],
        "bench_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, 0.5, 2.0]) for i in range(24)],
        "vec_id long, embedding array<float>",
    )
    kw = dict(contamination_n=13, cos_threshold=0.999, n_planes=4, dim=4,
              quality_threshold=0.0)
    v3 = curated_corpus_v3(docs, bench, emb, **kw)
    v4 = curated_corpus_v4(docs, bench, emb, span_k=8, **kw)
    v3_ids = {r["doc_id"] for r in v3.select("doc_id").collect()}
    rows = {r["doc_id"]: r for r in v4.collect()}
    assert set(rows) == v3_ids  # same survivors, span leg filters nothing
    assert all(r["span_md5"] is not None for r in rows.values())
    first = min(rows)
    assert rows[first]["n_removed"] == 0  # first carrier keeps the boiler
    others = [r for i, r in rows.items() if i != first]
    assert others and all(r["n_removed"] >= 8 for r in others)


def test_curated_corpus_v5_lm_leg(spark):
    """v5 = v4 ∩ {head, middle}: survivors are exactly v4's docs whose
    standalone lm_perplexity bucket is head/middle, each carrying the
    SAME bucket the standalone operator assigns — the LM leg composes,
    it does not recompute differently."""
    from ai_pdf_extraction_spark.operators.lm import lm_perplexity
    from ai_pdf_extraction_spark.plans.curate import (
        curated_corpus_v4,
        curated_corpus_v5,
    )

    docs = spark.createDataFrame(
        [
            (
                i,
                "en",
                f"the unique body of document {i} with several plain filler "
                "words to pass the quality gate",
            )
            for i in range(20)
        ]
        # gibberish docs: all-OOV tokens score at the oov floor -> tail
        + [
            (100 + i, "en", f"zzqx{i} vvrk qqpl mmwt bbgh nnjd kkfs xxcv "
             "zzqa vvrb qqpc mmwd bbge nnjf kkfg xxch")
            for i in range(4)
        ],
        "doc_id long, lang string, text string",
    )
    bench = spark.createDataFrame(
        [(999, "entirely unrelated benchmark text nothing shared")],
        "bench_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, 0.5, 2.0]) for i in range(24)],
        "vec_id long, embedding array<float>",
    )
    kw = dict(contamination_n=13, cos_threshold=0.999, n_planes=4, dim=4,
              quality_threshold=0.0)
    v4_ids = {
        r["doc_id"]
        for r in curated_corpus_v4(docs, bench, emb, **kw).collect()
    }
    standalone = {
        r["doc_id"]: r["ppl_bucket"] for r in lm_perplexity(docs).collect()
    }
    v5 = {
        r["doc_id"]: r["ppl_bucket"]
        for r in curated_corpus_v5(docs, bench, emb, **kw).collect()
    }
    expect = {
        i: b for i, b in standalone.items()
        if i in v4_ids and b in ("head", "middle")
    }
    assert v5 == expect
    # the LM leg actually filtered something: the planted gibberish
    # docs survive v4 (unique text, fine quality) but score tail
    dropped = v4_ids - set(v5)
    assert any(i >= 100 for i in dropped), (v4_ids, v5, standalone)


def test_empty_commit_groups_advance_watermark(spark, tmp_path):
    """A commit group with no rows writes no directory: it observes
    zeros, records no metrics, and still commits its buckets."""
    from ai_pdf_extraction_spark.corpus.generate import write_pages_parquet
    from ai_pdf_extraction_spark.plans.pipeline import run_extraction
    from ai_pdf_extraction_spark.sources.snapshot_table import SnapshotTable

    pages = str(tmp_path / "two.parquet")
    write_pages_parquet(pages, 2, seed=5)
    out = str(tmp_path / "sparse")
    res = run_extraction(spark, pages, out, run_id="s", n_buckets=16, buckets_per_commit=4)
    assert res["docs"] == 2 and res["committed"] == list(range(16))
    snaps = SnapshotTable(out).snapshots()
    assert len(snaps) == 4
    assert sum(not s["metrics"] for s in snaps) >= 2  # two docs fill ≤ 2 groups
    assert sum(m["n_docs"] for s in snaps for m in s["metrics"]) == 2


def test_truncated_document_keeps_every_kernel_warning(spark):
    """A document over MAX_DOC_BYTES is cut to the budget; its stored
    warnings are the kernel's warnings on the cut bytes, duplicates and
    order included, then the truncation warning."""
    import datetime

    from ai_pdf_extraction_spark.kernels import extract_document
    from ai_pdf_extraction_spark.plans.pipeline import (
        MAX_DOC_BYTES,
        extraction_plan,
    )
    from ai_pdf_extraction_spark.sources.warc import PAGES_SCHEMA

    bad = b"<< /Length 10 /Filter /FlateDecode >>\nstream\nnot-zlib!!\nendstream\n"
    pdf = b"%PDF-1.4\n" + bad + bad
    pdf += b" " * (MAX_DOC_BYTES + 10 - len(pdf))
    expected = extract_document(pdf[:MAX_DOC_BYTES]).warnings
    assert expected.count("pdf: FlateDecode stream failed to inflate") == 2

    pages = spark.createDataFrame(
        [("http://t.example/big.pdf", datetime.datetime(2024, 1, 1), pdf, None, "en")],
        PAGES_SCHEMA,
    )
    row = extraction_plan(pages, "trunc", n_buckets=4).collect()[0]
    assert row["warnings"] == expected + [
        f"input truncated at {MAX_DOC_BYTES} bytes"
    ]
