"""Benchmark of the extraction job, end to end and layer by layer.

    python3 perfbench/run.py --workload crawl_full --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. One driver process runs Spark at
``local[<cpus available>]`` over inputs generated from ``--seed``,
times the workload for ``--seconds`` seconds, checks every document
against the in-process ``xkit`` reference, and prints one JSON object
as the last line of standard output. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics and
writes the run's spans. See README.md for what each number means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

import sparkmetrics
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

SETUPS = 3  # session starts per run; setup_s is their median
WARM_ITERS = 2  # untimed iterations before the timed loop
MIN_ITERS = 2  # timed iterations, even when they outlast --seconds
HOST_PROBE_SEED, HOST_PROBE_DOCS = 42, 200


def clock() -> float:
    return time.perf_counter()


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _boot_workers(batches):
    from xkit.doc import extract_doc

    for b in batches:
        extract_doc(["html"], ["<p>warm</p>"], [None], [0])
        yield b


def warm_up(spark, width: int) -> None:
    """The set-up job: one task per core, so every Python worker boots
    and imports the extraction code before anything is timed."""
    spark.range(width, numPartitions=width).mapInArrow(_boot_workers, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway exits when its stdin closes
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def _traced_calls(spark, tracer):
    """(module, name, wrapper) for each library call the trace records.
    A wrapper also tags the Spark jobs launched inside the call."""
    import xhtmlkit_spark.operators.extract_stage as extract_stage
    import xhtmlkit_spark.operators.harvest_stage as harvest_stage
    import xhtmlkit_spark.operators.project_stage as project_stage
    import xhtmlkit_spark.plans.pipeline as pipeline
    import xhtmlkit_spark.sources.io as xio

    sc = spark.sparkContext

    def tag(name):
        prev = sc.getLocalProperty(sparkmetrics.CALL_PROP)
        sc.setLocalProperty(sparkmetrics.CALL_PROP, name)
        return lambda: sc.setLocalProperty(sparkmetrics.CALL_PROP, prev)

    targets = [
        (xio, "read_corpus"),
        (xio, "read_manifest"),
        (xio, "write_spans"),
        (xio, "append_manifest"),
        (pipeline, "run_pipeline"),
        (pipeline, "with_size_salt"),
        (pipeline, "extract_spans"),
        (extract_stage, "extract_spans"),
        (project_stage, "project_docs"),
        (harvest_stage, "harvest_all"),
    ]
    return [(m, a, tracer.wrap(a, getattr(m, a), on_enter=tag)) for m, a in targets]


def run(args) -> dict:
    import host
    import workloads
    from inputs import probe_corpus
    from xhtmlkit_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    wl = workloads.WORKLOADS[args.workload]
    width = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Python workers import the program (and this directory) from the
    # checkout; temp files stay in it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # the JVM would otherwise keep its perf-counter file and temp files in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + os.environ["TMPDIR"]

    meta: dict = {"workload": args.workload, "seed": args.seed, "width": width}
    t0 = clock()
    inputs = os.path.join(WORK, "inputs")
    corpus = workloads.Corpus(wl.make_inputs(inputs, args.seed, wl.n_docs))
    meta["inputs_s"] = clock() - t0
    t0 = clock()
    timed_ids = corpus.ids(wl.timed_parts())
    expected = wl.reference(corpus, width)
    meta["reference_s"] = clock() - t0
    timed_chars = sum(corpus.chars[d] for d in timed_ids)
    meta.update(docs=len(timed_ids), span_text_mb=timed_chars / 1e6)

    conf: dict = {}
    event_dir = os.path.join(run_dir, "events")
    if args.trace:
        os.makedirs(event_dir)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    def start_session():
        t0 = clock()
        session = get_spark(f"local[{width}]", extra_conf=conf)
        warm_up(session, width)
        setups.append(clock() - t0)
        return session

    setups: list = []
    spark = start_session()
    app_id = spark.sparkContext.applicationId
    # untimed iterations first: the JVM's first-use costs (class
    # loading, code generation) and most of its JIT compilation would
    # otherwise land in the timing
    t0 = clock()
    snapshot = os.path.join(run_dir, "snapshot")
    try:
        wl.prepare(spark, corpus, snapshot)
        for i in range(WARM_ITERS):
            warm_dir = os.path.join(run_dir, f"warm-{i}")
            wl.iterate(spark, corpus, snapshot, warm_dir, clock)
            shutil.rmtree(warm_dir, ignore_errors=True)
    except Exception:  # the timed loop counts the failure
        traceback.print_exc()
    meta["warm_s"] = clock() - t0

    tracer = tracing.Tracer(f"{args.workload}-{args.seed}")
    calls = _traced_calls(spark, tracer) if args.trace else []
    iters = []
    failed_total = 0
    rss = host.WorkerRss()
    rss.start()
    t_loop = clock()
    with tracing.patched(calls):
        while len(iters) < MIN_ITERS or clock() - t_loop < args.seconds:
            i = len(iters)
            it_dir = os.path.join(run_dir, f"iter-{i}")
            if args.trace:
                spark.sparkContext.setLocalProperty(sparkmetrics.ITER_PROP, str(i))
            t_it = clock()
            try:
                with tracer.span("iteration"):
                    r = wl.iterate(spark, corpus, snapshot, it_dir, clock)
                bad = wl.check(expected, corpus, r) if wl.writes else set()
            except Exception:  # a failed job still reports every metric
                traceback.print_exc()
                r, bad = {"wall": clock() - t_it, "result": None, "bytes_written": 0}, set(timed_ids)
            failed = min(len(bad), len(timed_ids))
            failed_total += failed
            r["failed"] = failed
            iters.append(r)
            shutil.rmtree(it_dir, ignore_errors=True)
    meta["loop_s"] = clock() - t_loop
    peak_rss_mb = rss.stop()

    if not wl.writes:
        # the timed jobs wrote to noop: collect the same plans once
        try:
            bad = wl.check(spark, expected, corpus)
        except Exception:
            traceback.print_exc()
            bad = set(timed_ids)
        for r in iters:
            r["failed"] = min(len(bad), len(timed_ids))
        failed_total = sum(r["failed"] for r in iters)

    # the remaining set-ups run after the timed loop, which then sees
    # the JVM state of a single session
    for _ in range(SETUPS - 1):
        spark.stop()
        spark = start_session()
    meta["setups_s"] = setups
    # the same documents every run and workload, so readings compare
    t0 = clock()
    probe = workloads.Corpus(probe_corpus(inputs, HOST_PROBE_SEED, HOST_PROBE_DOCS))
    meta["host_load_mb_per_s"] = host.host_load_mb_per_s(
        [probe.args(d) for d in probe.ids()], width
    )
    meta["host_probe_s"] = clock() - t0
    spark.stop()
    stop_jvm()

    attempted = len(timed_ids) * len(iters)
    rates = [(len(timed_ids) - r["failed"]) / r["wall"] for r in iters]
    out = {
        "correct": failed_total == 0,
        "attempted": attempted,
        "failed": failed_total,
    }
    if not args.trace:
        out["metrics"] = {
            "docs_per_s": (statistics.median(rates), "docs/s"),
            "mb_per_s": (statistics.median(timed_chars / 1e6 / r["wall"] for r in iters), "MB/s"),
            "setup_s": (statistics.median(setups), "s"),
            "docs_ok_ratio": (1.0 - failed_total / attempted, "ratio"),
            "peak_worker_rss_mb": (peak_rss_mb, "MB"),
        }
    else:
        out["metrics"] = layer_report(
            iters, tracer, os.path.join(event_dir, app_id), corpus, timed_chars, rates, args.seed
        )
        trace_path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.spans.jsonl")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        tracer.write(trace_path)
        meta["trace"] = os.path.relpath(trace_path, ROOT)
    meta["iterations"] = [round(r["wall"], 4) for r in iters]
    print(json.dumps({"run_metadata": meta}))
    shutil.rmtree(run_dir, ignore_errors=True)
    return out


# per-layer metric -> unit; BENCHMARK.json lists the same names
LAYER_UNITS = {
    "scan_ms": "ms",
    "bytes_read": "bytes",
    "scan_rows": "count",
    "shuffle_write_bytes": "bytes",
    "shuffle_write_ms": "ms",
    "shuffle_read_bytes": "bytes",
    "shuffle_fetch_wait_ms": "ms",
    "task_bytes_max_over_median": "ratio",
    "python_boot_ms": "ms",
    "python_init_ms": "ms",
    "python_total_ms": "ms",
    "python_data_sent_bytes": "bytes",
    "python_data_received_bytes": "bytes",
    "task_ms_p50": "ms",
    "task_ms_max": "ms",
    "kernel_self_ms": "ms",
    "tokenize_ms": "ms",
    "tokens": "count",
    "repair_ms": "ms",
    "events": "count",
    "extract_html_ms": "ms",
    "spans": "count",
    "extract_doc_ms": "ms",
    "doc_ms_p50": "ms",
    "doc_ms_p99": "ms",
    "doc_samples": "count",
    "extract_pdf_text_ms": "ms",
    "pdf_spans": "count",
    "pdf_ok_ratio": "ratio",
    "project_doc_ms": "ms",
    "harvest_ms": "ms",
    "write_files": "count",
    "write_bytes": "bytes",
    "write_rows": "count",
    "write_ms": "ms",
    "task_commit_ms": "ms",
    "job_commit_ms": "ms",
    "out_bytes_per_in_byte": "ratio",
    "manifest_read_ms": "ms",
    "manifest_append_ms": "ms",
    "parts_skipped": "count",
    "t_extract_write_s": "s",
    "t_metrics_s": "s",
    "gc_ms": "ms",
    "peak_execution_memory_bytes": "bytes",
    "traced_docs_per_s": "docs/s",
    "trace_overhead_pct": "%",
}


def layer_report(iters, tracer, event_log, corpus, timed_chars, rates, seed) -> dict:
    """Per-layer metrics of a traced run: Spark's figures and the span
    durations per timed iteration (median over iterations), plus the
    in-process split of the Python layers."""
    import inprocess

    spark_iters = sparkmetrics.iteration_metrics(sparkmetrics.read_event_log(event_log))
    roots = [s for s in tracer.spans if s.name == "iteration"]
    per_iter: list = []
    for i, r in enumerate(iters):
        sm = spark_iters.get(str(i), {})
        root = roots[i] if i < len(roots) else None
        spans = [s for s in tracer.spans if root and root.start_ns <= s.start_ns and s.end_ns <= root.end_ns]
        st = tracing.self_times_ns(spans)
        res = r["result"] or {}
        row = {k: sm.get(k, 0) for k in sparkmetrics.SPARK_METRICS}
        row.update(
            write_files=sm.get("write_spans.files", 0),
            write_bytes=sm.get("write_spans.bytes", 0),
            write_rows=sm.get("write_spans.rows", 0),
            write_ms=sm.get("write_spans.stage_jvm_ms", 0),
            task_commit_ms=sm.get("write_spans.task_commit_ms", 0),
            job_commit_ms=sm.get("write_spans.job_commit_ms", 0),
            out_bytes_per_in_byte=r["bytes_written"] / timed_chars,
            manifest_read_ms=st.get("read_manifest", {}).get("total_ns", 0) / 1e6,
            manifest_append_ms=st.get("append_manifest", {}).get("total_ns", 0) / 1e6,
            parts_skipped=res.get("skipped_parts", 0),
            t_extract_write_s=res.get("t_extract_write", 0),
            t_metrics_s=res.get("t_metrics", 0),
        )
        per_iter.append(row)
    metrics = {k: statistics.median(row[k] for row in per_iter) for k in per_iter[0]}
    metrics["traced_docs_per_s"] = statistics.median(rates)
    metrics.update(inprocess.layer_metrics(corpus, seed))
    return {k: (metrics[k], LAYER_UNITS[k]) for k in LAYER_UNITS}


def _on_sigterm(signum, _frame) -> None:
    """A run that is told to stop still stops what it started. It exits
    from here: unwinding would run PySpark's own clean-up, which can
    block on a JVM call that never returns."""
    import host

    host.wait_all(grace=0.0, timeout=5.0)
    os._exit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import workloads  # noqa: F401  (imports the program)
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    import host

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _on_sigterm)
    host.adopt_orphans()
    try:
        out = run(args)
    finally:
        left = host.stop_all()
        if left:
            print(f"perfbench: stopped {len(left)} leftover process(es)", file=sys.stderr)
    out["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
