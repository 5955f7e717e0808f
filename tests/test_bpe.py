"""Exact merge-table BPE (kernels/bpe + oracle/bpe_naive twin).

Parity here is a REAL cross-check: the kernel merges all occurrences
of the chosen pair per pass (GPT-2 loop) while the twin merges one
leftmost occurrence per rescan — confluence of greedy lowest-rank BPE
says they must agree on every token, and the fuzz pins it."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from ai_pdf_extraction_spark.kernels.bpe import (
    BPE_TOKEN_PATTERN,
    BPE_VERSION,
    BpeTokenizer,
    encode_word,
    load_merges_payload,
    load_ranks,
    pre_tokenize,
    train_bpe,
)
from ai_pdf_extraction_spark.oracle.bpe_naive import naive_encode_word, naive_tokens


def test_pattern_literal_lockstep():
    """The kernel's pre-tokenizer literal must equal text_analysis's
    (q30 proxy) — they are separate literals to avoid a circular
    import, and drift would silently change what q68 counts."""
    from ai_pdf_extraction_spark.operators import text_analysis

    assert BPE_TOKEN_PATTERN == text_analysis.BPE_TOKEN_PATTERN


def test_committed_merges_load_and_version_gate():
    payload = load_merges_payload()
    assert payload["version"] == BPE_VERSION
    ranks = load_ranks(payload)
    assert len(ranks) == payload["n_merges"] >= 50
    with pytest.raises(ValueError, match="BPE_VERSION"):
        load_ranks({"version": BPE_VERSION + 1, "merges": []})


def test_training_is_deterministic_and_reconstructs():
    freqs = {"banana": 5, "bandana": 3, "ananas": 2, "x": 1}
    m1 = train_bpe(freqs, 10)
    m2 = train_bpe(dict(reversed(list(freqs.items()))), 10)
    assert m1 == m2  # dict order must not leak into the table
    ranks = {p: i for i, p in enumerate(m1)}
    for w in freqs:
        toks = encode_word(w, ranks)
        assert "".join(toks) == w  # tokens always reconstruct the word


def test_kernel_matches_naive_twin_fuzz():
    ranks = load_ranks()
    tok = BpeTokenizer(ranks)
    rng = random.Random(11)
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 .,!?@#"
    corpus_words = [
        "the", "fast", "key", "order", "sort", "table", "scan", "merge",
        "customer", "window", "vector", "unknownword", "spark",
    ]
    cases = [
        "", None, "the fast key", "12345", "@#!,..", "UPPER lower MiXeD",
        "  leading and trailing  ",
    ]
    for _ in range(200):
        n = rng.randint(0, 12)
        parts = [
            rng.choice(corpus_words)
            if rng.random() < 0.6
            else "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 10)))
            for _ in range(n)
        ]
        cases.append(" ".join(parts))
    for text in cases:
        assert tok.tokens(text) == naive_tokens(text, ranks), repr(text)
        assert tok.count(text) == len(naive_tokens(text, ranks))


def test_tokens_reconstruct_pretokens():
    """Concatenated BPE tokens must equal the pre-token stream — no
    byte is ever lost or invented by the merge loop."""
    ranks = load_ranks()
    tok = BpeTokenizer(ranks)
    for text in ["the customer window", "a1b2 c3!", "merge merge merge"]:
        assert "".join(tok.tokens(text)) == "".join(pre_tokenize(text))


def test_spark_operator_matches_kernel(spark):
    from ai_pdf_extraction_spark.operators.text_analysis import (
        token_count_bpe_exact,
    )

    texts = {
        0: "the fast key order sort table scan merge",
        1: "customer window vector unknownword 123",
        2: "",
        3: None,
        4: "spark spark spark spark",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", token_count_bpe_exact("text").alias("n")
        ).collect()
    }
    tok = BpeTokenizer()
    assert got == {i: tok.count(t) for i, t in texts.items()}


def test_naive_twin_single_word_shapes():
    """Edge shapes straight through the twin (the kernel fuzz covers
    the same inputs via parity)."""
    ranks = load_ranks()
    assert naive_encode_word("", ranks) == []
    assert naive_encode_word("q", ranks) == ["q"]
    # unknown chars never merge
    assert naive_encode_word("éé", ranks) == ["é", "é"]


def test_distributed_trainer_reproduces_committed_table(spark):
    """The Spark word-freq pass (``word_freq_table``) feeding the
    kernel merge loop over the SAME corpus must reproduce
    tools/train_bpe.py's committed table byte-identically — the
    corpus-scale pass is exchangeable with the driver-side count."""
    from ai_pdf_extraction_spark.kernels.bpe import (
        load_merges_payload,
        train_bpe,
    )
    from ai_pdf_extraction_spark.operators.bpe_train import word_freq_table

    payload = load_merges_payload()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    freqs = {r["word"]: r["freq"] for r in word_freq_table(docs).collect()}
    merges = train_bpe(freqs, payload["n_merges"])
    assert [list(p) for p in merges] == payload["merges"]


def test_pair_counts_round0_matches_kernel(spark):
    """q78's rnk=1 row IS the kernel's first merge decision, and every
    pair count equals a naive positional count."""
    from ai_pdf_extraction_spark.kernels.bpe import pre_tokenize, train_bpe
    from ai_pdf_extraction_spark.operators.bpe_train import bpe_pair_counts

    texts = [
        "the cat sat on the mat, the cat!",
        "banana bandana ananas",
        "aaa bbb aaa ccc?? 1234 12 12",
        None,
        "",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {
        (r["left_sym"], r["right_sym"]): (r["pair_count"], r["rnk"])
        for r in bpe_pair_counts(df).collect()
    }
    from collections import Counter

    freqs = Counter()
    for t in texts:
        freqs.update(pre_tokenize(t))
    naive = Counter()
    for w, f in freqs.items():
        for i in range(len(w) - 1):
            naive[(w[i], w[i + 1])] += f
    assert {p: c for p, c in naive.items() if c >= 2} == {
        p: c for p, (c, _r) in got.items()
    }
    first = min(got.items(), key=lambda kv: kv[1][1])[0]
    assert [first] == train_bpe(dict(freqs), 1)
