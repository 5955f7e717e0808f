"""Distributed BPE tokenizer training (the corpus-scale half).

``tools/train_bpe.py`` trains the committed merge table by reading
every document on the driver — fine at sf0.001, impossible at 100 TB.
The public Sennrich algorithm (1508.07909 alg. 1) splits cleanly into
two very different-scale phases:

1. **word-frequency aggregation** — the only pass that touches the
   corpus. Pre-token explode → ``groupBy(word).count()``: partial-agg
   map-side, shuffle one row per word TYPE. A 100 TB crawl collapses
   to a vocabulary-bounded table (the Zipf head; ``min_freq`` prunes
   the hapax tail with a pushed HAVING when even the type table is
   large — the standard subword-nmt ``--min-frequency`` knob).
2. **the merge loop** — operates ONLY on that type table. Each round
   re-counts adjacent symbol pairs over ~10^5 rows; distributing it
   would shuffle kilobytes per round. It stays driver-side in the
   shared kernel (``kernels.bpe.train_bpe``): fed
   :func:`word_freq_table`'s rows, it reproduces the committed table
   bit-identically (pinned in pytest).

``bpe_pair_counts`` is the round-0 pair count as a PURE RELATIONAL
plan (character bigrams of the word-freq table, weighted by word
frequency) — the first merge decision of training, contract-checked
against DuckDB (q78). Later rounds need merged symbols (the kernel);
round 0 is the one every implementation must agree on exactly.

The reference engine never tokenizes (its LLM provider does —
``app/backend/services/extraction.py`` sends raw text); tokenizer
training is training-data-pipeline surface the rebuild adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ai_pdf_extraction_spark.kernels.bpe import BPE_TOKEN_PATTERN


def word_freq_table(
    docs: DataFrame,
    text_col: str = "text",
    min_freq: int = 1,
) -> DataFrame:
    """(word, freq) over the corpus — the single corpus-scale pass of
    BPE training. Explode → partial-agg groupBy; ``min_freq`` > 1
    prunes the hapax tail AFTER aggregation (a HAVING, not a WHERE —
    exactness of kept counts is unaffected)."""
    words = docs.select(
        F.explode(
            F.regexp_extract_all(text_col, F.lit(BPE_TOKEN_PATTERN), F.lit(0))
        ).alias("word")
    )
    freqs = words.groupBy("word").agg(F.count("*").alias("freq"))
    if min_freq > 1:
        freqs = freqs.filter(F.col("freq") >= min_freq)
    return freqs


def bpe_pair_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Round-0 BPE pair counts: adjacent CHARACTER pairs of every word
    type, weighted by word frequency, ranked by the training winner
    rule (highest count, ties → lexicographically smallest pair).
    Output: (left, right, pair_count, rnk); row 1 is the pair
    ``train_bpe`` merges first. Pairs that occur once never merge
    (the kernel's ``best[1] < 2`` stop) and are filtered.

    Shape: the corpus-scale explode feeds one partial-agg groupBy;
    character-pair splitting runs on the word-TYPE table (tiny), and
    the ranking window orders a ≤ |charset|² relation — the one
    permissible unpartitioned window."""
    from pyspark.sql import Window

    freqs = word_freq_table(docs, text_col)
    # length>=2 BEFORE sequence: Spark's sequence(1, 0) is the
    # DESCENDING [1, 0], not empty — a 1-char word must never reach it
    pairs = (
        freqs.filter(F.length("word") >= 2)
        .select(
            "freq",
            F.explode(
                F.sequence(F.lit(1), F.length("word") - 1)
            ).alias("i"),
            F.col("word"),
        )
        .select(
            # left/right are function names in DuckDB — _sym suffix
            F.col("word").substr(F.col("i"), F.lit(1)).alias("left_sym"),
            F.col("word").substr(F.col("i") + 1, F.lit(1)).alias("right_sym"),
            "freq",
        )
    )
    counted = (
        pairs.groupBy("left_sym", "right_sym")
        .agg(F.sum("freq").alias("pair_count"))
        .filter(F.col("pair_count") >= 2)
    )
    w = Window.orderBy(
        F.desc("pair_count"), F.asc("left_sym"), F.asc("right_sym")
    )
    return counted.withColumn("rnk", F.row_number().over(w).cast("long"))
