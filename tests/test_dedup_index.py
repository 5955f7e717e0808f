"""Incremental dedup against an at-rest index (operators/dedup_index).

The load-bearing property is BATCH EQUIVALENCE: a delta against an
index built on the old corpus must equal the whole-corpus batch
operator over old ∪ new, restricted to rows/pairs touching the new
batch — that is what makes "dedup each crawl without re-shuffling the
corpus" a correctness-preserving optimization rather than an
approximation. Plus the at-rest lifecycle: append/commit/resume and
the fail-loud version gate (reference analogue: ingest-time hash-vs-DB
rejection, routers/batches.py:381-382)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from ai_pdf_extraction_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
from ai_pdf_extraction_spark.operators.dedup_index import (
    DEDUP_INDEX_VERSION,
    append_dedup_index,
    exact_dedup_delta,
    exact_delta_from_index,
    hot_shingles,
    index_fingerprints,
    index_signatures,
    load_dedup_index,
    lsh_delta_from_index,
    minhash_lsh_delta,
    write_dedup_index,
)

_WORDS = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima".split()


def _sentence(seed: int, mutate_at: int | None = None) -> str:
    """Deterministic 12-word sentence; ``mutate_at`` swaps one word to
    make a near-duplicate."""
    words = [_WORDS[(seed * 7 + i) % len(_WORDS)] + str((seed + i) % 5) for i in range(12)]
    if mutate_at is not None:
        words[mutate_at] = "zulu" + str(seed)
    return " ".join(words)


def _corpus(spark):
    """Three batches with planted cross-batch structure:
    - exact duplicates: old 10 ↔ new 110 (same text), old 11 ↔ new2 211
    - near duplicates: old 20 ↔ new 120 (one word changed)
    - within-new exact dup: 130 ↔ 131
    - null text in old and new (sentinel fingerprint group)"""
    rows = []
    for i in range(10):
        rows.append((i, _sentence(i)))          # old uniques 0..9
    rows.append((10, _sentence(50)))             # old half of exact dup
    rows.append((11, _sentence(51)))             # old half of exact dup w/ batch2
    rows.append((20, _sentence(60)))             # old half of near dup
    rows.append((30, None))                      # old null text
    old = rows[:]
    new = [(100 + i, _sentence(100 + i)) for i in range(5)]
    new.append((110, _sentence(50)))             # exact dup of old 10
    new.append((120, _sentence(60, mutate_at=6)))  # near dup of old 20
    new.append((130, _sentence(70)))
    new.append((131, _sentence(70)))             # within-new exact dup
    new.append((140, None))                      # new null text
    new2 = [(200 + i, _sentence(200 + i)) for i in range(3)]
    new2.append((211, _sentence(51)))            # exact dup of old 11
    schema = "doc_id long, text string"
    return (
        spark.createDataFrame(old, schema),
        spark.createDataFrame(new, schema),
        spark.createDataFrame(new2, schema),
    )


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_exact_delta_matches_batch_restriction(spark):
    old, new, _ = _corpus(spark)
    union = old.unionByName(new)
    batch = exact_dedup(union).join(
        new.select("doc_id"), "doc_id", "left_semi"
    )
    delta = exact_dedup_delta(new, index_fingerprints(old))
    cols = ["doc_id", "canonical_id", "group_size", "is_dup"]
    assert _rows(delta, cols) == _rows(batch, cols)
    by_id = {r["doc_id"]: r.asDict() for r in delta.collect()}
    # planted cross-batch dup: canonical is the OLD id, flagged in_index
    assert by_id[110]["canonical_id"] == 10 and by_id[110]["in_index"]
    assert by_id[110]["is_dup"] and by_id[110]["group_size"] == 2
    # within-new dup group: not in index, canonical = batch min
    assert by_id[131]["canonical_id"] == 130 and not by_id[131]["in_index"]
    assert not by_id[130]["is_dup"] and by_id[130]["group_size"] == 2
    # null-text docs share the sentinel group across batches
    assert by_id[140]["canonical_id"] == 30 and by_id[140]["in_index"]


def test_lsh_delta_matches_batch_restriction_uncapped(spark):
    old, new, _ = _corpus(spark)
    union = old.unionByName(new)
    batch = minhash_lsh_pairs(union, threshold=0.4, max_shingle_df=None)
    new_ids = {r["doc_id"] for r in new.collect()}
    batch_restricted = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in batch.collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    )
    sigs = index_signatures(old, hot=None)
    delta = minhash_lsh_delta(new, sigs, old, threshold=0.4, hot=None)
    got = sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in delta.collect())
    assert got == batch_restricted
    # non-vacuous: the planted exact dup collides in every band
    assert (10, 110, 1.0) in got and (130, 131, 1.0) in got


def test_index_roundtrip_append_delta_and_orphan_resume(spark, tmp_path):
    old, new, new2 = _corpus(spark)
    idx_dir = str(tmp_path / "idx")
    m0 = write_dedup_index(spark, old, idx_dir, max_shingle_df=None)
    # batch dirs are uniquely named per build/append (crash-safe rebuild)
    assert len(m0["batches"]) == 1 and m0["batches"][0].startswith("b0_")
    assert m0["n_docs"] == old.count()
    m1 = append_dedup_index(spark, idx_dir, new)
    assert [b[:3] for b in m1["batches"]] == ["b0_", "b1_"]
    assert m1["n_docs"] == old.count() + new.count()

    # an orphan directory from a crashed append is invisible to load
    orphan = tmp_path / "idx" / "fingerprints" / "b9"
    orphan.mkdir(parents=True)
    (orphan / "junk.parquet").write_bytes(b"not parquet")

    idx = load_dedup_index(spark, idx_dir)
    assert [b[:3] for b in idx["manifest"]["batches"]] == ["b0_", "b1_"]

    # delta of a THIRD batch against the appended index == batch over
    # all three, restricted to the third
    union_all = old.unionByName(new).unionByName(new2)
    batch = exact_dedup(union_all).join(
        new2.select("doc_id"), "doc_id", "left_semi"
    )
    delta = exact_delta_from_index(idx, new2)
    cols = ["doc_id", "canonical_id", "group_size", "is_dup"]
    assert _rows(delta, cols) == _rows(batch, cols)
    # 211 duplicates old 11 (stored in b0)
    by_id = {r["doc_id"]: r.asDict() for r in delta.collect()}
    assert by_id[211]["canonical_id"] == 11 and by_id[211]["in_index"]

    # LSH delta from the loaded index, batch-equivalent too
    lsh_batch = minhash_lsh_pairs(union_all, threshold=0.4, max_shingle_df=None)
    new2_ids = {r["doc_id"] for r in new2.collect()}
    expect = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in lsh_batch.collect()
        if r["id_a"] in new2_ids or r["id_b"] in new2_ids
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in lsh_delta_from_index(
            idx, new2, old.unionByName(new), threshold=0.4
        ).collect()
    )
    assert got == expect and (11, 211, 1.0) in got


def test_index_writes_count_while_they_run(spark, tmp_path, monkeypatch):
    """The committed doc, hot-shingle and url counts are observed on the
    writes of the index and of the seen-url set: a job group opened
    after the last parquet write of a build or an append sees no job
    (no read-back of what was written)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from ai_pdf_extraction_spark.sources.seen_urls import (
        append_seen_set,
        write_seen_set,
    )

    old, new, _ = _corpus(spark)
    urls = spark.createDataFrame([("u1",), ("u2",), ("u2",)], "canon_url string")
    more = spark.createDataFrame([("u2",), ("u3",)], "canon_url string")
    seen_dir = str(tmp_path / "seen")
    n_hot = hot_shingles(old, max_shingle_df=1).count()
    idx_dir = str(tmp_path / "idx")
    sc = spark.sparkContext
    write = DataFrameWriter.parquet
    groups = []

    def write_then_mark(self, path, *args, **kwargs):
        write(self, path, *args, **kwargs)
        groups.append(f"after_index_write_{len(groups)}")
        sc.setJobGroup(groups[-1], "nothing may run here")

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_mark)
    try:
        m0 = write_dedup_index(spark, old, idx_dir, max_shingle_df=1)
        assert sc.statusTracker().getJobIdsForGroup(groups[-1]) == []
        m1 = append_dedup_index(spark, idx_dir, new)
        assert sc.statusTracker().getJobIdsForGroup(groups[-1]) == []
        s0 = write_seen_set(urls, seen_dir)
        assert sc.statusTracker().getJobIdsForGroup(groups[-1]) == []
        s1 = append_seen_set(spark, seen_dir, more)
        assert sc.statusTracker().getJobIdsForGroup(groups[-1]) == []
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    monkeypatch.undo()
    assert n_hot > 0 and m0["n_hot_shingles"] == n_hot
    assert m0["n_docs"] == old.count()
    assert m1["n_docs"] == old.count() + new.count()
    assert s0["n_urls"] == 2 and s1["n_urls"] == 3


def _set_build_version(store_dir: str, version: int) -> None:
    """Rewrite the version the build snapshot of a store pinned."""
    path = os.path.join(store_dir, "_manifests", "snapshot-000000.json")
    with open(path) as f:
        snap = json.load(f)
    snap["properties"]["version"] = version
    with open(path, "w") as f:
        json.dump(snap, f)


def test_version_mismatch_fails_loud(spark, tmp_path):
    old, _, _ = _corpus(spark)
    idx_dir = str(tmp_path / "idx")
    write_dedup_index(spark, old, idx_dir)
    _set_build_version(idx_dir, DEDUP_INDEX_VERSION + 1)
    with pytest.raises(ValueError, match="version"):
        load_dedup_index(spark, idx_dir)
    with pytest.raises(ValueError, match="version"):
        append_dedup_index(spark, idx_dir, old)
    with pytest.raises(FileNotFoundError):
        load_dedup_index(spark, str(tmp_path / "no_index"))


@pytest.mark.parametrize("store", ["dedup_index", "seen_set"])
def test_append_during_another_append_is_kept(spark, tmp_path, monkeypatch, store):
    """An append that runs to completion while another append is
    writing its batch stays live: both batches are committed and the
    summed count is exact (a manifest rewritten from the first append's
    stale read dropped the second)."""
    import ai_pdf_extraction_spark.operators.dedup_index as index_mod
    import ai_pdf_extraction_spark.sources.seen_urls as seen_mod

    d = str(tmp_path / store)
    if store == "dedup_index":
        mod, key = index_mod, "n_docs"
        old, first, second = _corpus(spark)
        write_dedup_index(spark, old, d, max_shingle_df=None)
        expect = old.count() + first.count() + second.count()

        def append(rows):
            return append_dedup_index(spark, d, rows)

        def stored():
            return load_dedup_index(spark, d)["fps"].agg(F.sum("n_docs")).first()[0]
    else:
        mod, key = seen_mod, "n_urls"

        def urls(*us):
            return spark.createDataFrame([(u,) for u in us], "canon_url string")

        first, second = urls("http://b/1", "http://b/2"), urls("http://c/1")
        seen_mod.write_seen_set(urls("http://a/1"), d)
        expect = 4

        def append(rows):
            return seen_mod.append_seen_set(spark, d, rows)

        def stored():
            return seen_mod.load_seen_set(spark, d).count()

    write = mod._write_batch
    raced = []

    def write_then_race(*args, **kwargs):
        n = write(*args, **kwargs)
        if not raced:
            raced.append(None)  # the second append's write runs unraced
            raced[0] = append(second)
        return n

    monkeypatch.setattr(mod, "_write_batch", write_then_race)
    summary = append(first)
    assert raced[0]["batches"][1] in summary["batches"]
    assert [b[:3] for b in summary["batches"]] == ["b0_", "b1_", "b1_"]
    assert summary[key] == expect and stored() == expect


def test_frozen_universe_excludes_index_hot_shingles(spark):
    """With a DF cap, the universe is FROZEN at build: a shingle hot in
    the indexed corpus is dropped from NEW docs' signatures too, so an
    old-hot boilerplate phrase can't create candidates; a shingle that
    is hot only WITHIN the new batch still participates (documented
    drift vs a from-scratch batch run)."""
    boiler = "every page carries this exact cookie banner text line"
    old = spark.createDataFrame(
        [(i, f"{boiler} tail{i} tail{i+1} tail{i+2}") for i in range(6)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, f"{boiler} fresh one two"), (101, f"{boiler} fresh one two")],
        "doc_id long, text string",
    )
    hot = hot_shingles(old, max_shingle_df=3)
    hot_set = {r["shingle"] for r in hot.collect()}
    assert hot_set  # the boilerplate shingles are hot in the index
    sig_frozen = index_signatures(new, hot=hot)
    sig_raw = index_signatures(new, hot=None)
    frozen = {tuple(r) for r in sig_frozen.collect()}
    raw = {tuple(r) for r in sig_raw.collect()}
    assert frozen != raw  # the frozen universe actually changed the sigs
    # new docs still pair with each other through their non-hot shingles
    got = minhash_lsh_delta(
        new, index_signatures(old, hot=hot), old, threshold=0.4, hot=hot
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert (100, 101) in pairs


# ---------------------------------------------------------------------------
# at-rest seen-url set (the frontier's persistent half)
# ---------------------------------------------------------------------------


def test_seen_set_roundtrip_append_and_crawl_loop(spark, tmp_path):
    """Build → load (one row per url), overlap-safe append keeps the
    invariant, and the full crawl loop converges: after appending the
    frontier, re-probing the same batch finds nothing new."""
    import os

    from ai_pdf_extraction_spark.sources.seen_urls import (
        append_seen_set,
        frontier_from_seen_set,
        load_seen_set,
        write_seen_set,
    )

    d = str(tmp_path / "seen")
    base = spark.createDataFrame(
        [("http://a/1",), ("http://a/2",), ("http://a/2",)],
        "canon_url string",
    )
    m = write_seen_set(base, d)
    assert m["n_urls"] == 2  # build distincts
    assert load_seen_set(spark, d).count() == 2

    # overlap-safe append: only the genuinely new url lands
    m = append_seen_set(
        spark, d,
        spark.createDataFrame([("http://a/2",), ("http://b/9",)],
                              "canon_url string"),
    )
    assert m["n_urls"] == 3
    got = {r["canon_url"] for r in load_seen_set(spark, d).collect()}
    assert got == {"http://a/1", "http://a/2", "http://b/9"}
    # invariant: batch union is already distinct (no dedup on read)
    assert load_seen_set(spark, d).count() == 3

    # crawl loop: probe, append to_crawl (assume_unseen), re-probe
    batch = spark.createDataFrame(
        [(1, "http://a/1#frag"), (2, "http://c/new"), (3, "http://c/new")],
        "event_id long, url string",
    )
    fr = frontier_from_seen_set(spark, d, batch)
    to_crawl = fr.filter("to_crawl")
    assert {r["canon_url"] for r in to_crawl.collect()} == {"http://c/new"}
    append_seen_set(spark, d, to_crawl, assume_unseen=True)
    again = frontier_from_seen_set(spark, d, batch)
    assert again.filter("to_crawl").count() == 0
    assert again.filter("in_seen").count() == 2

    # crash-orphan: a batch dir with no manifest entry is invisible
    orphan = os.path.join(d, "b9_deadbeef")
    spark.createDataFrame([("http://x/ghost",)], "canon_url string") \
        .write.parquet(orphan)
    assert load_seen_set(spark, d).count() == 3 + 1  # c/new appended


def test_seen_set_version_mismatch_fails_loud(spark, tmp_path):
    import pytest as _pytest

    from ai_pdf_extraction_spark.sources.seen_urls import (
        load_seen_set,
        write_seen_set,
    )

    d = str(tmp_path / "seen2")
    write_seen_set(
        spark.createDataFrame([("u",)], "canon_url string"), d
    )
    _set_build_version(d, 999)
    with _pytest.raises(ValueError, match="version"):
        load_seen_set(spark, d)
