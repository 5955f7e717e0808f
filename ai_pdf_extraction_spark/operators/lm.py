"""CCNet-style n-gram LM perplexity scoring for corpus quality
bucketing (Wenzek et al. 2019, arXiv:1911.00359).

The production recipe: train a small language model on a clean
reference corpus, score every crawled document by perplexity, and
split the corpus into head/middle/tail quality buckets at the
reference distribution's terciles — low perplexity (the model finds
the text predictable) ⇒ head, gibberish/boilerplate ⇒ tail. CCNet
uses a KenLM 5-gram; this engine ships the same *shape* with an
interpolated word-bigram LM (Jelinek-Mercer smoothing — public
textbook algorithm, Chen & Goodman 1998) trained by
``tools/train_lm.py`` on the smallest-SF synthetic documents sample
and committed as INTEGER-QUANTIZED log10 probabilities
(``kernels/lm_model.json``), so scoring is exact int64 arithmetic —
bit-identical between the Spark plan, the DuckDB oracle, and the
naive Python twin (``oracle/lm_naive.py``).

The reference engine has no corpus-level quality model (its quality
signal is per-field LLM confidence, ``app/backend/services/
extraction.py``); this operator is part of the training-data-pipeline
surface the rebuild adds on top.

Scoring is PURE RELATIONAL Spark — no Python in the hot path:

1. one projection tokenizes each doc to an ascii word array
   (``regexp_extract_all`` + per-token ``lower``; the array is bound
   to a column BEFORE element-wise reuse — the no-CSE-across-HOF rule),
2. ``arrays_zip`` pairs each token with its predecessor (``<s>`` for
   the first) and explodes — no window, no shuffle of token rows,
3. two BROADCAST left joins look up the quantized bigram /
   backoff-unigram log-probs (the model relation is tiny by
   construction — vocab of the reference sample),
4. one partial-aggregating ``groupBy(doc)`` collapses token rows
   map-side; only per-doc partial sums shuffle.

At 10^12 docs the token explode multiplies rows ~200× but never
leaves the map stage: explode → broadcast-hash-join → partial agg is
one pipelined task; shuffle volume stays one row per doc.

Bucket assignment never divides: ``head`` iff ``lm_q_sum >=
cut_head_q * n_tokens`` (integer cross-multiplication) — the
sum/count rationals are compared exactly, no double rounding to
drift between engines. Ties land in the BETTER bucket (``>=``).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_pdf_extraction_spark.plans.partitioning import ensure_parallel

# Bump when tokenization / smoothing / quantization semantics change;
# load refuses a mismatched model file (the PQ_CODES_VERSION rule).
LM_VERSION = 1

MODEL_RESOURCE = "lm_model.json"

# shared by Spark, DuckDB, the twin and the trainer: ascii-only token
# runs, lowercased PER TOKEN (ascii lower is identical everywhere;
# whole-string lower() of exotic unicode is engine-dependent)
TOKEN_RE = "[A-Za-z0-9]+"
BOS = "<s>"


def load_lm_payload() -> dict:
    from importlib import resources

    with resources.files("ai_pdf_extraction_spark.kernels").joinpath(
        MODEL_RESOURCE
    ).open("r") as f:
        return check_lm_model(json.load(f))


def check_lm_model(payload: dict) -> dict:
    if payload.get("version") != LM_VERSION:
        raise ValueError(
            f"lm_model.json version {payload.get('version')!r} != operator "
            f"LM_VERSION {LM_VERSION} — retrain with tools/train_lm.py "
            "(quantized scores across versions are not comparable)"
        )
    for key in ("bigrams", "backoff", "oov_q", "cut_head_q", "cut_mid_q"):
        if key not in payload:
            raise ValueError(f"lm_model.json missing {key!r}")
    return payload


def lm_model_relations(
    spark: SparkSession, payload: dict | None = None
) -> tuple[DataFrame, DataFrame, dict]:
    """The model as two tiny relations: (prev, w) → bi_q and
    w → back_q. Driver-side createDataFrame is fine — the model is
    the reference sample's vocabulary, thousands of rows, and both
    joins broadcast."""
    payload = check_lm_model(payload) if payload else load_lm_payload()
    bigram = spark.createDataFrame(
        [(v, w, int(q)) for v, w, q in payload["bigrams"]],
        "prev string, w string, bi_q long",
    )
    backoff = spark.createDataFrame(
        [(w, int(q)) for w, q in payload["backoff"]],
        "w string, back_q long",
    )
    return bigram, backoff, payload


def lm_perplexity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    payload: dict | None = None,
) -> DataFrame:
    """Per-doc LM score + CCNet quality bucket. Output: (id,
    n_tokens, lm_q_sum, ppl_bucket) where ``lm_q_sum`` is the exact
    int64 sum of quantized log10 token probabilities (more negative =
    higher perplexity) and ``ppl_bucket`` ∈ head/middle/tail/empty.

    ``payload`` overrides the committed model (tests pin the bucket
    boundary rule with a hand-built model)."""
    docs = ensure_parallel(docs, id_col)
    spark = docs.sparkSession
    bigram, backoff, payload = lm_model_relations(spark, payload)
    oov_q = int(payload["oov_q"])
    cut_head = int(payload["cut_head_q"])
    cut_mid = int(payload["cut_mid_q"])

    words = docs.select(
        F.col(id_col).alias("_id"),
        F.transform(
            F.regexp_extract_all(text_col, F.lit(TOKEN_RE), F.lit(0)),
            lambda t: F.lower(t),
        ).alias("ws"),
    )
    pairs = (
        words.filter(F.size("ws") > 0)
        .select(
            "_id",
            F.explode(
                F.arrays_zip(
                    F.concat(
                        F.array(F.lit(BOS)),
                        F.slice("ws", 1, F.size("ws") - 1),
                    ).alias("prev"),
                    F.col("ws").alias("w"),
                )
            ).alias("p"),
        )
        .select("_id", F.col("p.prev").alias("prev"), F.col("p.w").alias("w"))
    )
    scored = (
        pairs.join(F.broadcast(bigram), ["prev", "w"], "left")
        .join(F.broadcast(backoff), ["w"], "left")
        .select("_id", F.coalesce("bi_q", "back_q", F.lit(oov_q)).alias("q"))
    )
    agg = scored.groupBy("_id").agg(
        F.count("*").alias("n_tokens"), F.sum("q").alias("lm_q_sum")
    )
    return (
        docs.select(F.col(id_col).alias("_id"))
        .join(agg, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("lm_q_sum", F.lit(0)).cast("long").alias("lm_q_sum"),
            F.when(F.col("n_tokens").isNull(), F.lit("empty"))
            .when(
                F.col("lm_q_sum") >= F.lit(cut_head) * F.col("n_tokens"),
                F.lit("head"),
            )
            .when(
                F.col("lm_q_sum") >= F.lit(cut_mid) * F.col("n_tokens"),
                F.lit("middle"),
            )
            .otherwise(F.lit("tail"))
            .alias("ppl_bucket"),
        )
    )
