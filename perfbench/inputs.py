"""Seeded benchmark inputs, generated once per seed and cached under
``.bench_cache/inputs`` in the checkout.

Two input families:

* extraction: a ``write_pages_parquet`` corpus (32 part files), the
  same rows as gzipped WARC (8 files; written for traced runs only,
  which time the WARC reader), and the single-process kernel oracle (per-url digest of text, spans, ``parse_ok`` and warnings)
  computed by ``oracle.run_reference.extract_rows``;
* curation: ``documents``/``events``/``embeddings`` tables in the shape
  of the sf testdata (TESTDATA.md: 30-word vocabulary with 5% planted
  near-duplicates; event ids the seed samples, since the crawl queries
  derive urls from them; unit embeddings with planted neighbours) at
  sf0.01 size, 2,500 events excepted, plus each query's DuckDB
  ``oracle_sql()`` result.

Every writer is atomic (temp path + rename; ``write_pages_parquet``
does its own), so an interrupted run never leaves a half-written input
that a later run would trust.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
import uuid

EXTRACT_DOCS = 1000
EXTRACT_FILES = 32
WARC_FILES = 8
WARM_DOCS = 64
CURATE_DOCS = 500
CURATE_EVENTS = 2_500
CURATE_EVENT_IDS = 10_000
CURATE_VECTORS = 500
# bump when anything this module writes changes shape
INPUTS_VERSION = 4
KEEP_SEEDS = 3

_VOCAB = (
    "a agg batch big column customer data dup filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window fast"
).split()
_VOCAB.remove("dup")  # reserved for the planted near-duplicate marker
_LANGS = ("en", "en", "de", "es", "fr", "zh")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _atomic_dir(path: str, build) -> str:
    """Run ``build(tmp_dir)`` and rename the result onto ``path``."""
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    try:
        build(tmp)
        os.rename(tmp, path)
    except OSError:
        if not os.path.isdir(path):
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def row_digest(text, spans, parse_ok, warnings) -> str:
    """Digest of the per-url fields the oracle pins byte-for-byte."""
    payload = json.dumps(
        [text, [list(s) for s in spans or []], bool(parse_ok), list(warnings or [])],
        ensure_ascii=False,
    )
    return hashlib.md5(payload.encode("utf-8")).hexdigest()


def _evict_old(inputs_root: str, keep: str) -> None:
    """Keep the KEEP_SEEDS most recently used input sets."""
    entries = [
        os.path.join(inputs_root, n)
        for n in os.listdir(inputs_root)
        if n.startswith("seed-") and ".tmp-" not in n
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[KEEP_SEEDS:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)


def seed_dir(cache: str, seed: int) -> str:
    from ai_pdf_extraction_spark.corpus.generate import CORPUS_VERSION
    from ai_pdf_extraction_spark.kernels import KERNEL_VERSION

    root = os.path.join(cache, "inputs")
    os.makedirs(root, exist_ok=True)
    path = os.path.join(
        root,
        f"seed-{seed}-c{CORPUS_VERSION}-k{KERNEL_VERSION}-i{INPUTS_VERSION}",
    )
    os.makedirs(path, exist_ok=True)
    os.utime(path)
    _evict_old(root, path)
    return path


# -- extraction ---------------------------------------------------------------


def warm_corpus(cache: str) -> str:
    """Fixed tiny corpus for the set-up warm-up (seed-independent)."""
    from ai_pdf_extraction_spark.corpus import write_pages_parquet
    from ai_pdf_extraction_spark.corpus.generate import CORPUS_VERSION

    path = os.path.join(cache, "inputs", f"warm-c{CORPUS_VERSION}-{WARM_DOCS}")
    if not os.path.isdir(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        write_pages_parquet(path, WARM_DOCS, seed=7, n_files=4)
    return path


def extraction_inputs(sdir: str, seed: int, warc: bool) -> dict:
    """Pages parquet dir, oracle digests and (with ``warc``) the WARC
    dir for ``seed``."""
    from ai_pdf_extraction_spark.corpus import write_pages_parquet
    from ai_pdf_extraction_spark.corpus.generate import generate_pages
    from ai_pdf_extraction_spark.sources.warc import write_warc

    pages_dir = os.path.join(sdir, "pages")
    warc_dir = os.path.join(sdir, "warc")
    oracle_path = os.path.join(sdir, "extract_oracle.json")
    rows: list[dict] = []

    def _rows() -> list[dict]:
        if not rows:
            rows.extend(generate_pages(EXTRACT_DOCS, seed=seed))
        return rows

    if not os.path.isdir(pages_dir):
        write_pages_parquet(pages_dir, EXTRACT_DOCS, seed=seed, n_files=EXTRACT_FILES)
    if warc:
        # the same rows as Common-Crawl-style WARC, fewer and larger files
        def _warc(tmp: str) -> None:
            per = (EXTRACT_DOCS + WARC_FILES - 1) // WARC_FILES
            for i in range(WARC_FILES):
                chunk = _rows()[i * per : (i + 1) * per]
                if chunk:
                    write_warc(os.path.join(tmp, f"part-{i:05d}.warc.gz"), chunk)

        _atomic_dir(warc_dir, _warc)
    if not os.path.exists(oracle_path):
        oracle = {
            "digests": kernel_pass(_rows())["digests"],
            "input_docs": len(_rows()),
            "input_bytes": sum(len(r["html"]) for r in _rows()),
        }
        tmp = f"{oracle_path}.tmp-{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(oracle, fh)
        os.replace(tmp, oracle_path)
    with open(oracle_path) as fh:
        oracle = json.load(fh)
    return {"pages": pages_dir, "warc": warc_dir, **oracle}


def kernel_pass(rows: list[dict]) -> dict:
    """The single-process oracle pass, timed per content class."""
    from ai_pdf_extraction_spark.oracle.run_reference import extract_rows

    digests: dict[str, str] = {}
    secs = {"html": 0.0, "pdf": 0.0, "other": 0.0}
    docs = {"html": 0, "pdf": 0, "other": 0}
    parse_fail = 0
    for row in rows:
        t0 = time.perf_counter()
        (gold,) = extract_rows([row])
        dt = time.perf_counter() - t0
        kind = gold["content_type"] if gold["content_type"] in ("html", "pdf") else "other"
        secs[kind] += dt
        docs[kind] += 1
        parse_fail += not gold["parse_ok"]
        digests[row["url"]] = row_digest(
            gold["extracted_text"], gold["spans"], gold["parse_ok"], gold["warnings"]
        )
    return {"digests": digests, "secs": secs, "docs": docs, "parse_fail": parse_fail}


def read_pages(pages_dir: str) -> list[dict]:
    import pyarrow.parquet as pq

    rows: list[dict] = []
    for name in sorted(os.listdir(pages_dir)):
        rows.extend(
            pq.read_table(os.path.join(pages_dir, name), columns=["url", "html"]).to_pylist()
        )
    return rows


# -- curation -----------------------------------------------------------------


def _documents(rng: random.Random, n: int):
    import pyarrow as pa

    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # planted near-duplicate: an earlier doc plus one marker word
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 100))))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([rng.choice(_LANGS) for _ in range(n)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _events(rng: random.Random, n: int):
    from datetime import datetime, timedelta

    import pyarrow as pa

    t0 = datetime(2024, 1, 1)
    offsets = sorted(rng.uniform(0, 30 * 86400) for _ in range(n))
    # the crawl queries derive urls and hosts from event_id arithmetic,
    # so the seed picks which ids exist
    ids = sorted(rng.sample(range(CURATE_EVENT_IDS), n))
    return pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array([t0 + timedelta(seconds=s) for s in offsets], pa.timestamp("us")),
            "user_id": pa.array([rng.randrange(1500) for _ in range(n)], pa.int64()),
            "event_type": pa.array([rng.choice(_EVENT_TYPES) for _ in range(n)], pa.string()),
            "value": pa.array([round(rng.uniform(0, 560), 2) for _ in range(n)], pa.float64()),
            "props": pa.array([f'{{"k": {rng.randrange(100)}}}' for _ in range(n)], pa.string()),
        }
    )


def _embeddings(rng: random.Random, n: int, dim: int = 64):
    import numpy as np
    import pyarrow as pa

    gen = np.random.default_rng(rng.randrange(2**32))
    vecs = gen.standard_normal((n, dim))
    # ~5% planted neighbours, so the cosine near-dup leg is non-vacuous
    for i in range(1, n):
        if gen.random() < 0.05:
            vecs[i] = vecs[gen.integers(i)] + 0.3 * gen.standard_normal(dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(vecs.astype("float32").tolist(), pa.list_(pa.float32())),
            "label": pa.array(gen.integers(0, 10, n).astype("int32")),
        }
    )


def curation_tables(sdir: str, seed: int) -> str:
    """The seed's sf0.01-shaped tables (one parquet file each)."""
    import pyarrow.parquet as pq

    def _build(tmp: str) -> None:
        rng = random.Random(seed * 1_000_003 + 17)
        pq.write_table(_documents(rng, CURATE_DOCS), os.path.join(tmp, "documents.parquet"))
        pq.write_table(_events(rng, CURATE_EVENTS), os.path.join(tmp, "events.parquet"))
        pq.write_table(_embeddings(rng, CURATE_VECTORS), os.path.join(tmp, "embeddings.parquet"))

    return _atomic_dir(os.path.join(sdir, "sf"), _build)


def _lm_model_parquets_in(cache_dir: str):
    """Checkout-local export of the committed bigram LM for the DuckDB
    oracle: the same two relations ``__spark_entry__`` exports, written
    under the benchmark cache instead of a fixed system path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ai_pdf_extraction_spark.operators.lm import load_lm_payload

    payload = load_lm_payload()
    digest = hashlib.md5(json.dumps(payload, sort_keys=True).encode()).hexdigest()[:12]
    bi_path = os.path.join(cache_dir, f"lm_{digest}_bigrams.parquet")
    back_path = os.path.join(cache_dir, f"lm_{digest}_backoff.parquet")
    if not (os.path.exists(bi_path) and os.path.exists(back_path)):
        bi, back = payload["bigrams"], payload["backoff"]
        pq.write_table(
            pa.table(
                {
                    "v": [r[0] for r in bi],
                    "w": [r[1] for r in bi],
                    "q": [int(r[2]) for r in bi],
                }
            ),
            bi_path,
        )
        pq.write_table(
            pa.table({"w": [r[0] for r in back], "q": [int(r[1]) for r in back]}),
            back_path,
        )
    return bi_path, back_path, payload


def oracle_sql_for(cache: str, sf_dir: str, names) -> dict[str, str]:
    """``oracle_sql()`` entries for ``names`` over ``sf_dir``.

    ``oracle_sql()`` renders every query's oracle at call time, and
    some renderings materialize golden files at fixed system paths.
    None of those goldens belongs to ``names``, so their path helpers
    are replaced by placeholders for the duration of the call; the LM
    export the q79 oracle does read is written inside the cache."""
    import __spark_entry__ as entrymod

    os.environ["SPARK_GRAFT_CONTRACT_SF"] = sf_dir
    lm_dir = os.path.join(cache, "inputs")
    patches = {
        n: (lambda: "golden-not-materialized.parquet")
        for n in dir(entrymod)
        if n.endswith("_golden_path")
    }
    patches["_ensure_media_fixtures"] = lambda: (
        "fixture-not-materialized.parquet", "golden-not-materialized.parquet"
    )
    patches["_lm_model_parquets"] = lambda: _lm_model_parquets_in(lm_dir)
    saved = {n: getattr(entrymod, n) for n in patches}
    try:
        for n, fn in patches.items():
            setattr(entrymod, n, fn)
        sqls = entrymod.oracle_sql()
    finally:
        for n, fn in saved.items():
            setattr(entrymod, n, fn)
    return {n: sqls[n] for n in names}


def curation_oracle(cache: str, sdir: str, sf_dir: str, names) -> dict:
    """DuckDB oracle result per query (pandas), cached as parquet."""
    import pandas as pd

    out_dir = os.path.join(sdir, "curate_oracle")
    os.makedirs(out_dir, exist_ok=True)
    paths = {n: os.path.join(out_dir, f"{n}.parquet") for n in names}
    todo = [n for n in names if not os.path.exists(paths[n])]
    if todo:
        import duckdb

        sqls = oracle_sql_for(cache, sf_dir, todo)
        con = duckdb.connect()
        con.execute("set enable_progress_bar = false")
        for t in ("documents", "events", "embeddings"):
            con.execute(
                f"create view {t} as select * from "
                f"read_parquet('{os.path.join(sf_dir, t)}.parquet')"
            )
        for n in todo:
            tmp = f"{paths[n]}.tmp-{os.getpid()}"
            con.execute(sqls[n]).df().to_parquet(tmp)
            os.replace(tmp, paths[n])
        con.close()
    return {n: pd.read_parquet(paths[n]) for n in names}
