"""Independent scorer twin + golden writer for the q69 trained-LID oracle.

Reimplements prediction straight from the model-file CONTRACT (module
doc of ``kernels/lid.py``): re-derives feature hashing from the spec
(md5 hex → int → mod), scores with plain Python loops over a
bucket-count dict built its own way, and argmaxes by explicit scan —
no code shared with ``LidModel.scores``/``predict`` beyond the loader
constants, so a kernel bug in counting, hashing, or tie-breaking
surfaces as a parity failure instead of propagating into the golden
(the q23/q68 twin discipline)."""

from __future__ import annotations

import hashlib
import re

from ai_pdf_extraction_spark.kernels.lid import (
    N_BUCKETS,
    UNKNOWN,
    check_model,
    load_model_payload,
)

TWIN_VERSION = 1


def naive_predict(text: str | None, payload: dict) -> str:
    t = (text or "").strip().lower()
    if not t:
        return UNKNOWN
    feats: list[str] = []
    padded = " " + t + " "
    feats.extend("3:" + padded[i : i + 3] for i in range(len(padded) - 2))
    feats.extend("w:" + w for w in re.split(r"\s+", t))
    buckets = [
        int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % N_BUCKETS
        for f in feats
    ]
    best_lang = None
    best_score = None
    for li, lang in enumerate(payload["langs"]):
        row = payload["weights_q"][li]
        score = payload["bias_q"][li]
        for b in buckets:  # one add per occurrence == count * weight
            score += row[b]
        if best_score is None or score > best_score:
            best_score = score
            best_lang = lang
    return best_lang


def write_lid_golden(
    documents_parquet: str, samples: list[str], out_path: str
) -> int:
    """(doc_id, lang_pred) golden computed by the naive twin over the
    q69 sample substitution — doc_id % (len(samples)+1) picks a
    snippet, the last residue keeps the doc's real text (the q52/q59
    cycling rule; the Spark query builds the identical expression)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    payload = check_model(load_model_payload())
    tbl = pq.read_table(documents_parquet, columns=["doc_id", "text"])
    ids = tbl["doc_id"].to_pylist()
    texts = tbl["text"].to_pylist()
    m = len(samples) + 1
    preds = [
        naive_predict(
            samples[i % m] if i % m < len(samples) else t, payload
        )
        for i, t in zip(ids, texts)
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "lang_pred": pa.array(preds, pa.string()),
            }
        ),
        out_path,
    )
    return len(ids)
