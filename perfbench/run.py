"""Benchmark entry point: one workload, closed loop, one client.

    python3 perfbench/run.py --workload extract_fresh --seed 1 --seconds 2 --trace 0

Run from the root of a checkout. Inputs derive from ``--seed`` and are
cached under ``.bench_cache/`` (inputs are never timed); everything the
run writes, Spark's scratch and temp files included, stays there. One
process drives ``local[nproc]``; each operation starts after the
previous one completes. A workload's ``warm_ops`` operations run
first and count as set-up; then timed ones, until ``--seconds`` have
passed and at least the workload's ``min_ops`` ran.

``--trace 0`` prints the end-to-end metrics, medians over the run's
timed operations. ``--trace 1`` runs the same loop with every operation
traced and the Spark event log on, then each layer's public calls, and
prints the per-layer metrics; its spans go to ``.bench_cache/traces/``. The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed``, ``metrics``. See
``perfbench/metrics.json`` for every metric's unit, direction, layer
and the end-to-end metric it is expected to move.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
CACHE = os.path.join(ROOT, ".bench_cache")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _pin_host() -> int:
    """Pin parallelism to this host and keep every scratch file inside
    the checkout (before pyspark or tempfile are first used)."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), BENCH_DIR]
    return cpus


def _session(cpus: int, event_log: str | None = None):
    from ai_pdf_extraction_spark.session import build_session

    conf = {
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
            }
        )
    return build_session(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        extra_conf=conf,
    )


def _setup(cpus: int, warm: str, event_log: str | None) -> tuple:
    """Build the session, then warm it up with a tiny extraction and a
    tiny query; returns (session, build seconds, warm-up seconds).

    Set-up happens once per process: a second SparkContext in the same
    process reuses module-level pandas UDFs whose cached Java function
    still points at the first context's accumulator server."""
    from pyspark.sql import functions as F

    from ai_pdf_extraction_spark.plans.pipeline import extraction_plan

    t0 = time.perf_counter()
    spark = _session(cpus, event_log)
    t1 = time.perf_counter()
    pages = spark.read.parquet(warm)
    extraction_plan(pages, run_id="warm").agg(F.sum("n_chars")).collect()
    pages.groupBy("lang").agg(F.count("*")).collect()
    return spark, t1 - t0, time.perf_counter() - t1


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _loop(op, min_ops: int, seconds: float, sampler, label: str = "operation") -> dict:
    """Closed loop of ``op(meter)`` for ``seconds`` and at least
    ``min_ops`` operations; per-operation wall, docs/s, CPU and peak
    RSS of the timed region, plus failure and oracle counts."""
    from observe import Meter

    loop = {"walls": [], "rates": [], "cpus": [], "peaks": [], "details": []}
    attempted = failed = wrong = 0
    start = time.perf_counter()
    while attempted < min_ops or time.perf_counter() - start < seconds:
        attempted += 1
        try:
            it = op(Meter(sampler))
        except Exception:
            failed += 1
            traceback.print_exc()
            continue
        print(f"perfbench: {label} {attempted}: wall {it.meter.wall_s:.3f}s "
              f"cpu {it.meter.cpu_s:.2f}s at {time.perf_counter() - start:.1f}s", file=sys.stderr)
        loop["walls"].append(it.meter.wall_s)
        loop["rates"].append(it.docs / it.meter.wall_s)
        loop["cpus"].append(it.meter.cpu_s)
        loop["peaks"].append(it.meter.peak_mb)
        wrong += it.wrong
        if it.wrong:
            loop["details"].append(it.detail)
    loop.update(attempted=attempted, failed=failed, wrong=wrong)
    return loop


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "ai_pdf_extraction_spark")) or not os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        _fail(f"no engine checkout at {ROOT}: ai_pdf_extraction_spark/ is missing")
    t_start = time.perf_counter()
    cpus = _pin_host()

    import inputs
    from observe import RssSampler
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    run_tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    workdir = os.path.join(CACHE, "runs", run_tag)
    os.makedirs(workdir)
    spark = None
    log_dir = os.path.join(CACHE, "eventlog", run_tag) if args.trace else None
    try:
        # inputs first: generated once per seed, never timed
        warm = inputs.warm_corpus(CACHE)
        work = WORKLOADS[args.workload](CACHE, args.seed, workdir, bool(args.trace))
        t_inputs = time.perf_counter()

        with RssSampler() as sampler:
            spark, build_s, warm_s = _setup(cpus, warm, log_dir)
            work.prepare(spark)
            warm_loop = _loop(
                lambda meter: work.iterate(spark, meter), work.warm_ops, 0, sampler,
                "warm-up operation",
            )
            warm_s += sum(warm_loop["walls"])
            if args.trace:
                metrics, loop = _traced(args, work, spark, sampler, run_tag, log_dir)
                metrics["session.build_s"] = _m(build_s, "s")
                metrics["session.warmup_s"] = _m(warm_s, "s")
            else:
                loop = _loop(
                    lambda meter: work.iterate(spark, meter), work.min_ops, args.seconds, sampler
                )
                if not loop["walls"]:
                    print("perfbench: every operation failed", file=sys.stderr)
                    return 1
                wall = statistics.median(loop["walls"])
                _record_untraced_wall(args, wall)
                metrics = {
                    "setup_s": _m(build_s + warm_s, "s"),
                    "docs_per_s": _m(statistics.median(loop["rates"]), "docs/s"),
                    "wall_s": _m(wall, "s"),
                    "cpu_s": _m(statistics.median(loop["cpus"]), "s"),
                }
        for key in ("attempted", "failed", "wrong", "details"):
            loop[key] += warm_loop[key]
        for d in loop["details"]:
            print(f"perfbench: wrong outputs: {d}", file=sys.stderr)
        print(
            f"perfbench: {args.workload} seed={args.seed} ops={loop['attempted']} "
            f"failed={loop['failed']} wrong_outputs={loop['wrong']} "
            f"failed_ops={loop['failed'] / loop['attempted']:.3f}; "
            f"inputs {t_inputs - t_start:.1f}s, set-up {build_s + warm_s:.1f}s, "
            f"total {time.perf_counter() - t_start:.1f}s"
        )
        result = {
            "correct": loop["wrong"] == 0,
            "attempted": loop["attempted"],
            "failed": loop["failed"],
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        if log_dir:
            shutil.rmtree(log_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _code_digest() -> str:
    """Digest of the checkout's Python sources (engine, tools, benchmark)."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for base in ("ai_pdf_extraction_spark", "tools", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(ROOT, base)):
            dirs.sort()
            paths.extend(os.path.join(d, f) for f in sorted(files) if f.endswith(".py"))
    for path in paths:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _walls_path(args) -> str:
    """Untraced walls of one workload, run length and code version."""
    key = f"{args.workload}-s{args.seconds:g}-{_code_digest()}"
    return os.path.join(CACHE, "untraced_walls", f"{key}.json")


def _untraced_walls(args) -> list[float]:
    try:
        with open(_walls_path(args)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return []


def _record_untraced_wall(args, wall: float) -> None:
    """Keep each untraced run's wall_s, for the tracing overhead."""
    path = _walls_path(args)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    walls = _untraced_walls(args) + [wall]
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(walls, fh)
    os.replace(tmp, path)


def _layer_self(tracer) -> dict[str, float]:
    """Self time per layer (span-name prefix); ``driver`` is the part
    of a ``run`` span that no child span covers."""
    layers: dict[str, float] = {}
    for name, secs in tracer.self_times().items():
        layer = name.split(".")[0] if name != "run" else "driver"
        layers[layer] = layers.get(layer, 0.0) + secs
    return layers


def _traced(args, work, spark, sampler, run_tag: str, log_dir: str) -> tuple[dict, dict]:
    """The untraced run's closed loop with every operation traced (its
    own spans and job tags), then each layer's calls; the event log has
    been on since set-up, and only jobs started inside a span are
    reduced.

    Per-operation figures are medians over the operations, like the
    end-to-end metrics; ``trace.wall_s`` is the traced run's wall_s and
    ``trace.overhead_s`` its excess over the median wall_s of the
    untraced runs of the same workload, run length and code recorded in
    this checkout (0 when there are none). Returns (per-layer metrics,
    loop counts)."""
    from observe import Meter, Tracer, read_event_log, reduce_event_log

    import workloads

    tracers = []

    def op(meter):
        tracer = Tracer(f"{run_tag}-op{len(tracers) + 1}", spark)
        it = work.trace_op(spark, tracer, meter)
        tracers.append(tracer)
        return it

    loop = _loop(op, work.min_ops, args.seconds, sampler)
    if not tracers:
        raise RuntimeError("every traced operation failed")
    lt = Tracer(f"{run_tag}-layers", spark)
    with Meter(sampler) as meter:
        out = work.trace_layers(spark, lt)
    spark.stop()  # flushes the event log
    events = read_event_log(log_dir)
    evs = []
    for t in tracers:
        (root,) = [s for s in t.spans if s["name"] == "run"]
        evs.append(reduce_event_log(events, t, (t.wall0 + root["start"], t.wall0 + root["end"])))
    ev_layers = reduce_event_log(events, lt, None)

    def med(values) -> float:
        return statistics.median(values)

    def sec(name: str) -> float:
        return med([t.seconds(name) for t in tracers]) + lt.seconds(name)

    op_layers = [_layer_self(t) for t in tracers]
    call_layers = _layer_self(lt)
    layers = {
        k: med([ol.get(k, 0.0) for ol in op_layers]) + call_layers.get(k, 0.0)
        for k in {*call_layers, *(k for ol in op_layers for k in ol)}
    }
    top = max(((k, v) for k, v in layers.items() if k != "driver"), key=lambda kv: kv[1])
    print(f"perfbench: traced {args.workload}: largest self time is layer {top[0]} ({top[1]:.3f}s); "
          f"driver (no span) {layers.get('driver', 0.0):.3f}s")
    trace_dir = os.path.join(CACHE, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, f"{run_tag}.json"), "w") as fh:
        json.dump([s for t in (*tracers, lt) for s in t.spans], fh, indent=1)

    traced_wall = med(loop["walls"])
    untraced = _untraced_walls(args)
    if not untraced:
        print("perfbench: no untraced run of this code recorded; trace.overhead_s reads 0",
              file=sys.stderr)
    ex = workloads.Extraction
    m = {
        "sources.scan_s": _m(sec("sources.scan"), "s"),
        "sources.warc_read_s": _m(sec("sources.warc_read"), "s"),
        "extract.noop_s": _m(sec("extract.noop"), "s"),
        "extract.python_bytes_sent": _m(ev_layers["py_sent"].get("extract.noop", 0), "bytes"),
        "extract.python_bytes_returned": _m(
            ev_layers["py_returned"].get("extract.noop", 0), "bytes"
        ),
        "pipeline.run_s": _m(sec("pipeline.run"), "s"),
        "pipeline.input_scans": _m(
            med([e["input_scans"].get("pipeline.run", 0) for e in evs]), "count"
        ),
        "pipeline.write_commit_s": _m(
            sec("pipeline.run") - sec("extract.noop") if isinstance(work, ex) else 0, "s"
        ),
        "table.committed_buckets_s": _m(sec("table.committed_buckets"), "s"),
        "table.read_count_s": _m(sec("table.read_count"), "s"),
        "metrics.batch_status_s": _m(sec("metrics.batch_status"), "s"),
        "metrics.lineage_s": _m(sec("metrics.lineage"), "s"),
        "spark.jobs": _m(med([e["jobs"] for e in evs]), "count"),
        "spark.stages": _m(med([e["stages"] for e in evs]), "count"),
        "spark.tasks": _m(med([e["tasks"] for e in evs]), "count"),
        "spark.task_s": _m(med([e["task_s"] for e in evs]), "s"),
        "spark.task_skew": _m(med([e["task_skew"] for e in evs]), "ratio"),
        "spark.shuffle_write_bytes": _m(med([e["shuffle_write_bytes"] for e in evs]), "bytes"),
        "spark.spill_bytes": _m(med([e["spill_bytes"] for e in evs]), "bytes"),
        "spark.driver_gap_s": _m(med([e["driver_gap_s"] for e in evs]), "s"),
        "trace.driver_s": _m(layers.get("driver", 0.0), "s"),
        "trace.wall_s": _m(traced_wall, "s"),
        "trace.overhead_s": _m(traced_wall - med(untraced) if untraced else 0.0, "s"),
    }
    for name in workloads.CURATE_QUERIES:
        m[f"query.{name}_s"] = _m(sec(f"query.{name}"), "s")
    for leg in ("narrow", "quality", "exact_dedup", "lsh_pairs", "contamination",
                "granule", "span", "lm"):
        m[f"curate.{leg}_s"] = _m(sec(f"curate.{leg}"), "s")
    for span in ("dedup_index.build", "dedup_index.probe", "urls.frontier", "urls.prefilter",
                 "robots.filter", "urls.hostcap", "graphs.links", "graphs.pagerank"):
        m[f"{span}_s"] = _m(sec(span), "s")
    for layer in LAYERS:
        m[f"self.{layer}_s"] = _m(layers.get(layer, 0.0), "s")
    for key in ("pipeline.commits", "table.snapshots", "table.data_files", "table.data_bytes",
                "kernels.html_s", "kernels.pdf_s", "kernels.other_s", "kernels.html_docs",
                "kernels.pdf_docs", "kernels.parse_fail", "sources.input_docs",
                "sources.input_bytes", "cache.live_before"):
        unit = "s" if key.endswith("_s") else ("bytes" if key.endswith("bytes") else "count")
        m[key] = _m(out.get(key, 0), unit)
    m["check.wrong_outputs"] = _m(loop["wrong"], "count")
    m["check.failed_ops"] = _m(loop["failed"] / loop["attempted"], "ratio")
    m["peak_rss_mb"] = _m(max(meter.peak_mb, *loop["peaks"]), "MB")
    return m, loop


# span-name prefixes that self time is reported for
LAYERS = (
    "sources", "kernels", "extract", "pipeline", "table", "metrics", "query",
    "curate", "dedup_index", "urls", "robots", "graphs",
)


if __name__ == "__main__":
    sys.exit(main())
