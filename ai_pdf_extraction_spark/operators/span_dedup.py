"""Substring-level (span) dedup and span-level decontamination.

Document-granularity dedup (:mod:`dedup`) drops or keeps WHOLE
documents; paragraph granule dedup (``granule_dedup``) needs ``'. '``
separators. Neither removes a duplicated char/token SPAN embedded in
otherwise-unique documents — boilerplate license blocks, templated
headers, cookie banners — the Lee et al. "Deduplicating Training Data
Makes Language Models Better" (arXiv:2107.06499) substring family.
Their suffix-array construction is inherently single-machine; this is
the bucketed, shuffle-friendly approximation a Spark cluster can run
at 10^12 docs:

* every **stride-1 k-word gram** of every document is hashed
  (``md5(lower(gram))`` — case-insensitive match, reproducible in
  DuckDB for the oracle);
* a gram occurrence is **duplicated** iff it is not the globally first
  occurrence of its hash, first = min ``struct(doc_id, start)`` — one
  partial-aggregating groupBy, the same hot-key-safe min(struct) shape
  as ``granule_dedup``; intra-document repeats count (Lee et al.
  remove those too);
* each duplicated occurrence marks its k-word span ``[start,
  start+k)`` removed; a document's removed word-index set is the union
  of its marked spans (overlaps merge for free at index granularity),
  so any duplicated run of m ≥ k words is removed END-TO-END
  (m−k+1 marked grams tile it);
* **surviving text** is the whitespace-normalized join of the
  unremoved words — single spaces, original casing. Runs shorter than
  k words never match (the Lee et al. minimum-match-length dial).

Scale notes: the gram relation is ~n_words rows per doc (narrow: id,
start, 32-byte hash); the only wide operation is the groupBy(hash),
which partial-aggregates map-side. Marked spans are a tiny fraction of
grams; the explode to word indices is k× on that fraction only. Text
reconstruction is per-row Column algebra over the already-projected
words array (no shuffle). Nothing is all-pairs; nothing collects.

Span-level decontamination (:func:`span_decontaminate`) reuses the
same span machinery with a different marking rule: a gram is marked
iff its hash appears in the (broadcast) benchmark gram set — the
span-surgical version of ``dedup.contamination_flags``, which can only
drop whole documents (the reference analogue of its doc-level flag:
ingest-time rejection, ``routers/batches.py:381``; production
pipelines excise the quoted benchmark span and keep the doc).

``span_dedup_py`` / ``span_decontaminate_py`` are independent
pure-Python twins (dict-in, dict-out; no Spark, no pandas) used by the
byte-identical parity pytest and any oracle runner.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ai_pdf_extraction_spark.plans.partitioning import ensure_parallel
from ai_pdf_extraction_spark.plans.persist import persist

DEFAULT_SPAN_K = 8  # words; Lee et al. use 50 BPE tokens ≈ 35 words —
# the synthetic contract corpus has short docs, so the operator default
# is small and callers at real scale pass their own.

# ONE explicit whitespace class for all three engines. \s is NOT
# portable here: Java \s and RE2 \s are ASCII but differ on \x0b, and
# Python \s is Unicode (splits U+00A0) — and Spark's trim strips only
# 0x20, so "text\n" would tokenize differently from the Python twin.
# Collapsing runs of this class to single spaces FIRST, then trimming
# and splitting on the literal space, makes Spark, DuckDB, and the
# twin byte-identical by construction (pinned on \t/\n/\x0b/U+00A0
# shapes in pytest).
WS_RE = r"[ \t\n\x0b\f\r]+"


def _words_col(text_col: str) -> Column:
    """Whitespace tokenization shared by every leg (see ``WS_RE``).
    Empty/null text yields zero words."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    t = F.trim(F.regexp_replace(c, WS_RE, " "))
    return F.when(t == "", F.array()).otherwise(F.split(t, " "))


def _gram_occurrences(
    words: DataFrame, id_col: str, k: int
) -> DataFrame:
    """(id, start, g): md5 of each lowercased stride-1 k-word gram.
    ``words`` must already carry a projected (attribute, not
    expression) ``w`` array column — the HOF lambda below slices it per
    element, and an inlined expression would recompute per element
    (no CSE across HOF lambdas; see CLAUDE.md)."""
    n = F.size("w")
    # unhex: the 32-char hex digest is only ever a grouping/join key —
    # the 16-byte binary form halves the persisted/shuffled key bytes
    # (injective transform, identical grouping)
    grams = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.unhex(
            F.md5(F.lower(F.concat_ws(" ", F.slice(F.col("w"), i + 1, k))))
        ),
    )
    return (
        words.filter(n >= k)
        .select(id_col, F.posexplode(grams).alias("start", "g"))
    )


def _remove_spans(
    words: DataFrame, marked: DataFrame, id_col: str, k: int
) -> DataFrame:
    """Shared reconstruction: ``marked`` is (id, start) duplicated gram
    occurrences; output is (id, n_words, n_removed, surviving_text).
    Overlapping spans merge at word-index granularity (distinct)."""
    removed = (
        marked.select(
            id_col,
            F.explode(F.sequence("start", F.col("start") + k - 1)).alias("idx"),
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("idx")).alias("removed_idx"))
    )
    joined = words.join(removed, id_col, "left").select(
        id_col,
        F.col("w"),
        F.coalesce("removed_idx", F.array().cast("array<int>")).alias("removed_idx"),
    )
    surviving = F.filter(
        F.col("w"), lambda x, i: ~F.array_contains(F.col("removed_idx"), i)
    )
    return joined.select(
        id_col,
        F.size("w").alias("n_words"),
        F.size("removed_idx").alias("n_removed"),
        F.concat_ws(" ", surviving).alias("surviving_text"),
    )


def span_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_SPAN_K,
) -> DataFrame:
    """Cross-document duplicated-span removal (module doc). Output one
    row per input doc: (id, n_words, n_removed, surviving_text)."""
    docs = ensure_parallel(docs, id_col)
    # the projected words feed the gram stream AND the final
    # reconstruction join (slot shared with span_decontaminate)
    words = persist(
        "span_dedup.words", docs.select(id_col, _words_col(text_col).alias("w"))
    )
    # occ feeds two consumers (the groupBy below and the join back) —
    # without the persist the O(n_words) md5 explode runs twice
    occ = persist("span_dedup.occurrences", _gram_occurrences(words, id_col, k))
    firsts = occ.groupBy("g").agg(
        F.min(F.struct(id_col, "start")).alias("first")
    )
    marked = (
        occ.join(firsts, "g")
        .filter(
            (F.col(id_col) != F.col(f"first.{id_col}"))
            | (F.col("start") != F.col("first.start"))
        )
        .select(id_col, "start")
    )
    return _remove_spans(words, marked, id_col, k)


def span_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    k: int = DEFAULT_SPAN_K,
) -> DataFrame:
    """Span-level benchmark decontamination: excise (not drop) every
    doc span whose k-word gram appears in the benchmark set. The
    benchmark gram relation is eval-set-small by definition →
    broadcast; the docs side is a map-side semi probe of the gram
    stream — no doc-text shuffle, same scale shape as
    ``contamination_flags``. Output: (id, n_words, n_removed,
    surviving_text)."""
    docs = ensure_parallel(docs, id_col)
    words = persist(
        "span_dedup.words", docs.select(id_col, _words_col(text_col).alias("w"))
    )
    bench_words = benchmark.select(
        bench_id_col, _words_col(text_col).alias("w")
    )
    bench_grams = (
        _gram_occurrences(bench_words, bench_id_col, k)
        .select("g")
        .distinct()
    )
    occ = _gram_occurrences(words, id_col, k)
    marked = occ.join(F.broadcast(bench_grams), "g", "left_semi").select(
        id_col, "start"
    )
    return _remove_spans(words, marked, id_col, k)


# ---------------------------------------------------------------------------
# independent pure-Python twins (parity pytest / oracle runners)
# ---------------------------------------------------------------------------


_PY_WS = re.compile(WS_RE)


def _py_words(text: str | None) -> list[str]:
    t = _PY_WS.sub(" ", text or "").strip(" ")
    return t.split(" ") if t else []


def _py_grams(words: list[str], k: int) -> list[str]:
    return [
        hashlib.md5(" ".join(words[i : i + k]).lower().encode()).hexdigest()
        for i in range(len(words) - k + 1)
    ]


def _py_surviving(words: list[str], starts: list[int], k: int):
    removed = set()
    for s in starts:
        removed.update(range(s, s + k))
    text = " ".join(w for i, w in enumerate(words) if i not in removed)
    return len(words), len(removed), text


def span_dedup_py(
    texts: dict[int, str | None], k: int = DEFAULT_SPAN_K
) -> dict[int, tuple[int, int, str]]:
    """Independent twin of :func:`span_dedup` — derived from the
    module-doc RULE, not from the Spark plan. {id: text} →
    {id: (n_words, n_removed, surviving_text)}."""
    words = {i: _py_words(t) for i, t in texts.items()}
    first: dict[str, tuple[int, int]] = {}
    for i in sorted(words):
        for s, g in enumerate(_py_grams(words[i], k)):
            if g not in first:
                first[g] = (i, s)
    out = {}
    for i in sorted(words):
        starts = [
            s
            for s, g in enumerate(_py_grams(words[i], k))
            if first[g] != (i, s)
        ]
        out[i] = _py_surviving(words[i], starts, k)
    return out


def span_decontaminate_py(
    texts: dict[int, str | None],
    bench_texts: dict[int, str | None],
    k: int = DEFAULT_SPAN_K,
) -> dict[int, tuple[int, int, str]]:
    """Independent twin of :func:`span_decontaminate`."""
    bench = {
        g
        for t in bench_texts.values()
        for g in _py_grams(_py_words(t), k)
    }
    out = {}
    for i, t in texts.items():
        words = _py_words(t)
        starts = [s for s, g in enumerate(_py_grams(words, k)) if g in bench]
        out[i] = _py_surviving(words, starts, k)
    return out
