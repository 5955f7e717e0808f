"""Extra benchmark tooling for optimization rounds (guide §1).

NOT the driver contract — ``bench.py`` is frozen for measurement.
This harness isolates single queries so optimization work can be
timed without the full-bench wall cost:

* ``--mode noop``  times ``df.write.format("noop")`` (computation
  only, no driver collect) — guide §1.4;
* ``--mode collect`` times ``.collect()`` exactly like bench.py (the
  driver-comparable number).

Usage::

    python bench_extra.py q63_schema_registry_apply [q67_span_dedup ...] \
        [--sf /root/testdata/sf1.0] [--trials 3] [--mode collect|noop|both] \
        [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("queries", nargs="+")
    p.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    p.add_argument("--trials", type=int, default=3)
    p.add_argument("--mode", choices=["collect", "noop", "both"], default="collect")
    p.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = p.parse_args()

    import __spark_entry__ as entrymod
    from ai_pdf_extraction_spark.session import build_session

    spark = build_session(
        app_name="bench_extra",
        master=f"local[{args.cpus}]",
        shuffle_partitions=max(args.cpus * 2, 16),
    )
    # same warm-up shape as bench.py: parquet footers + codegen paths
    spark.read.parquet(os.path.join(args.sf, "lineitem.parquet")).count()

    qs = entrymod.queries()
    out: dict[str, dict] = {}
    for name in args.queries:
        fn = qs[name]
        rec: dict[str, list[float]] = {}
        modes = ["collect", "noop"] if args.mode == "both" else [args.mode]
        for mode in modes:
            rec[mode] = []
            for _ in range(args.trials):
                spark.sparkContext.setJobDescription(f"{name}[{mode}]")
                t0 = time.monotonic()
                df = fn(spark, args.sf)
                if mode == "collect":
                    rows = df.collect()
                    del rows
                else:
                    df.write.format("noop").mode("overwrite").save()
                rec[mode].append(round(time.monotonic() - t0, 3))
                spark.sparkContext.setJobDescription(None)
        out[name] = rec
        print(json.dumps({name: rec}), flush=True)
    print("FINAL " + json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
