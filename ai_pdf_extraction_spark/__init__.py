"""PySpark-native main-content extraction engine.

A brand-new, Spark-first rebuild of the query/data-processing
capabilities of the reference document-extraction service
(``1M50RRY/ai-pdf-extraction``, studied read-only at
``/root/reference``). The reference turns document bytes into
structured per-document records (``app/backend/models.py:159-205``);
this engine does the same over Common-Crawl-style page tables
``(url, warc_ts, html binary, text, lang)`` with deterministic,
vectorized extraction kernels executed as pandas/Arrow batch UDFs —
zero per-row Python on the hot path.

Subpackages
-----------
kernels     pure-Python extraction kernels (HTML boilerplate strip,
            PDF layout analysis) shared verbatim by the pytest oracle
            and the pandas UDFs — byte-identical by construction.
corpus      deterministic synthetic page-corpus generator (seeded).
oracle      single-process golden-output writer.
operators   Spark operators: extraction UDFs, dedup family, similarity
            search, text analysis, multimodal plumbing.
sources     table loaders + Iceberg-or-parquet sink abstraction.
functions   scalar normalizers (currency/date/number/bool/percentage)
            and the validation-rule → Column compiler.
plans       end-to-end pipeline (incremental by resumable batch: a
            per-bucket snapshot watermark, SURVEY.md §2.9),
            partitioning/salting, checkpoint, metrics.
"""

__version__ = "0.1.0"
