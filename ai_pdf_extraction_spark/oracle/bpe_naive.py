"""Independent naive BPE twin + golden writer for the q68/q72 oracles.

Deliberately a DIFFERENT implementation strategy from the kernel
(``kernels/bpe.py``): one merge at a time — find the single
lowest-rank adjacent pair, merge only its LEFTMOST occurrence, rescan.
No per-word cache, no all-occurrences pass. Greedy lowest-rank BPE is
confluent (a pair containing a merged symbol is always ranked after
its parts), so both strategies must produce identical token streams —
which makes pytest parity a real cross-check rather than a
shared-kernel tautology (the q23 xxh64 discipline; see
memory: the oracle must not share the kernel it checks).
"""

from __future__ import annotations

import re

from ai_pdf_extraction_spark.kernels.bpe import (
    BPE_TOKEN_PATTERN,
    load_merges_payload,
    load_ranks,
)

# Bump when the TWIN's semantics change — /tmp golden caches key on it.
TWIN_VERSION = 1


def naive_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    symbols = list(word)
    while True:
        best = None  # (rank, position)
        for i in range(len(symbols) - 1):
            r = ranks.get((symbols[i], symbols[i + 1]))
            if r is not None and (best is None or r < best[0]):
                best = (r, i)
        if best is None:
            return symbols
        i = best[1]
        symbols = symbols[:i] + [symbols[i] + symbols[i + 1]] + symbols[i + 2 :]


def naive_tokens(text: str | None, ranks: dict[tuple[str, str], int]) -> list[str]:
    out: list[str] = []
    for word in re.findall(BPE_TOKEN_PATTERN, text or ""):
        out.extend(naive_encode_word(word, ranks))
    return out


def write_bpe_golden(documents_parquet: str, out_path: str) -> int:
    """(doc_id, n_tokens_bpe) golden for a documents parquet, computed
    by the naive twin (pure pyarrow, no Spark)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ranks = load_ranks(load_merges_payload())
    tbl = pq.read_table(documents_parquet, columns=["doc_id", "text"])
    ids = tbl["doc_id"].to_pylist()
    counts = [len(naive_tokens(t, ranks)) for t in tbl["text"].to_pylist()]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "n_tokens_bpe": pa.array(counts, pa.int64()),
            }
        ),
        out_path,
    )
    return len(ids)
