"""The once-per-worker set-up every engine UDF calls
(``ai_pdf_extraction_spark.worker``): zip archives are re-read only
when they change, the import-time heap is frozen, and neither happens
in the driver."""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType


def _write_zip(path, *modules: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_zip_importers_reread_only_a_changed_archive(tmp_path, monkeypatch):
    from ai_pdf_extraction_spark.worker import reread_zips_on_change

    cls = zipimport.zipimporter
    # restored at teardown: the patch below must not outlive this test
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
    reads: list[str] = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory",
        lambda path: reads.append(path) or read_directory(path),
    )
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "zipped_mod_a")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zipped_mod_a").NAME == "zipped_mod_a"

        reread_zips_on_change()
        patched = cls.invalidate_caches
        reread_zips_on_change()
        assert cls.invalidate_caches is patched  # idempotent: no second wrap

        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, "zipped_mod_a", "zipped_mod_b")
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("zipped_mod_b").NAME == "zipped_mod_b"

        reads.clear()
        importlib.invalidate_caches()
        assert reads == []
    finally:
        for name in ("zipped_mod_a", "zipped_mod_b"):
            sys.modules.pop(name, None)


def test_prepare_worker_leaves_the_driver_unpatched(monkeypatch):
    from ai_pdf_extraction_spark import worker

    monkeypatch.setattr(worker, "_DONE", False)
    before = zipimport.zipimporter.invalidate_caches
    frozen = gc.get_freeze_count()
    worker.prepare_worker()
    assert zipimport.zipimporter.invalidate_caches is before
    assert not getattr(before, "rereads_on_change", False)
    assert gc.get_freeze_count() == frozen


@pandas_udf(StringType())
def _worker_state(ids: pd.Series) -> pd.Series:
    """pid, frozen object count and whether zip importers re-read only
    on change, in the Python worker that runs this batch."""
    patched = getattr(zipimport.zipimporter.invalidate_caches, "rereads_on_change", False)
    state = f"{os.getpid()},{gc.get_freeze_count()},{int(patched)}"
    return pd.Series([state] * len(ids))


def test_extraction_workers_are_reused_and_prepared(spark, corpus_dir):
    """Python workers outlive a job: the processes that ran one
    extraction still serve the next, patched and with a frozen heap.
    The probe runs 32 tasks on local[4] so it cycles through every
    pooled idle worker, not only the extraction's."""
    from ai_pdf_extraction_spark.plans.pipeline import extraction_plan

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))

    def extract_then_probe(run_id: str) -> set[tuple[int, int, int]]:
        extraction_plan(pages, run_id, n_buckets=4).write.format("noop").mode(
            "overwrite"
        ).save()
        probe = spark.range(0, 64, 1, 32).select(_worker_state("id").alias("s"))
        return {
            tuple(map(int, r["s"].split(",")))
            for r in probe.distinct().collect()
        }

    first = extract_then_probe("reuse_1")
    second = extract_then_probe("reuse_2")
    prepared = [
        {pid for pid, _, patched in states if patched} for states in (first, second)
    ]
    assert prepared[0], first
    assert prepared[0] & prepared[1], (first, second)
    for pid, frozen, patched in first | second:
        if patched:
            assert frozen > 0, (pid, frozen)
