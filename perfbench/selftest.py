"""Self-test of the extraction oracle check: commit a small table,
corrupt the text of one committed row on disk, and require that the
check reports exactly one wrong output (and zero before corruption).

    python3 perfbench/selftest.py

Run from the root of a checkout; exits 0 on success.
"""

from __future__ import annotations

import os
import shutil
import sys

import run

SEED = 5


def main() -> int:
    cpus = run._pin_host()
    import pyarrow.parquet as pq

    import inputs
    import workloads

    workdir = os.path.join(run.CACHE, "runs", f"selftest-{os.getpid()}")
    os.makedirs(workdir)
    spark = None
    try:
        work = workloads.Extraction(run.CACHE, SEED, workdir, trace=False)
        spark = run._session(cpus)
        root = work._stage()
        work._run(spark, root, "selftest")
        clean, _ = work.check(spark, root)

        from ai_pdf_extraction_spark.sources.snapshot_table import SnapshotTable

        table = SnapshotTable(root)
        (commit,) = table.committed_commit_ids()
        victim = next(
            os.path.join(d, f)
            for d, _, fs in sorted(os.walk(table.data_dir))
            if d.endswith(f"commit_id={commit}")
            for f in sorted(fs)
            if f.endswith(".parquet")
        )
        data = pq.read_table(victim)
        texts = data.column("extracted_text").to_pylist()
        texts[0] = (texts[0] or "") + " corrupted"
        data = data.set_column(
            data.schema.get_field_index("extracted_text"), "extracted_text", [texts]
        )
        os.unlink(victim)  # also drops Spark's stale .crc sibling below
        crc = os.path.join(os.path.dirname(victim), f".{os.path.basename(victim)}.crc")
        if os.path.exists(crc):
            os.unlink(crc)
        pq.write_table(data, victim)
        spark.catalog.clearCache()
        corrupted, detail = work.check(spark, root)
        print(f"selftest: before={clean} after={corrupted} ({detail}); "
              f"{inputs.EXTRACT_DOCS} docs")
        ok = clean == 0 and corrupted == 1
    finally:
        if spark is not None:
            run._shutdown(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    print("selftest: " + ("PASS" if ok else "FAIL"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
