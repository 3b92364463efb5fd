"""Self-tests for the benchmark's own code (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
import sparkmetrics  # noqa: E402
import workloads  # noqa: E402
from tracing import Span, Tracer, self_times_ns  # noqa: E402
from xkit.pdfmini import extract_pdf_text  # noqa: E402

_UI = "org.apache.spark.sql.execution.ui."


def _plan():
    def node(name, metrics, children=()):
        return {
            "nodeName": name,
            "metrics": [{"name": n, "accumulatorId": i, "metricType": "x"} for n, i in metrics],
            "children": list(children),
        }

    return node(
        "Execute InsertIntoHadoopFsRelationCommand",
        [("number of written files", 50), ("written output", 51), ("job commit time", 52)],
        [
            node(
                "MapInArrow",
                [
                    ("time to start Python workers", 10),
                    ("time to run Python workers", 11),
                    ("data sent to Python workers", 12),
                ],
                [node("Scan parquet ", [("scan time", 20), ("size of files read", 21)])],
            )
        ],
    )


def _task(stage, launch, finish, accums, read_bytes=0, gc=0, peak=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": launch,
            "Finish Time": finish,
            "Accumulables": [{"ID": i, "Update": str(v)} for i, v in accums],
        },
        "Task Metrics": {
            "Executor Run Time": finish - launch,
            "JVM GC Time": gc,
            "Peak Execution Memory": peak,
            "Shuffle Read Metrics": {"Local Bytes Read": read_bytes, "Fetch Wait Time": 1},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7, "Shuffle Write Time": 2_000_000},
        },
    }


def test_spark_metrics_from_canned_event_log():
    events = [
        {"Event": _UI + "SparkListenerSQLExecutionStart", "executionId": 3, "sparkPlanInfo": _plan()},
        {
            "Event": "SparkListenerJobStart",
            "Stage IDs": [1, 2],
            "Properties": {
                sparkmetrics.ITER_PROP: "0",
                sparkmetrics.CALL_PROP: "write_spans",
                "spark.sql.execution.id": "3",
            },
        },
        # an untagged job (set-up) must not count
        {"Event": "SparkListenerJobStart", "Stage IDs": [9], "Properties": {}},
        _task(1, 0, 40, [(20, 5), (21, 100)], gc=3, peak=10),
        _task(2, 100, 200, [(10, 30), (11, 90), (12, 1000)], read_bytes=400, gc=1, peak=30),
        _task(2, 100, 160, [(10, 2), (11, 50), (12, 600)], read_bytes=100),
        _task(2, 100, 130, [(11, 20), (12, 300)], read_bytes=200),
        _task(9, 0, 999, [(11, 10_000)]),
        {"Event": _UI + "SparkListenerDriverAccumUpdates", "executionId": 3, "accumUpdates": [[50, 16], [51, 4096], [52, 8]]},
    ]
    m = sparkmetrics.iteration_metrics(events)
    assert set(m) == {"0"}
    it = m["0"]
    assert it["scan_ms"] == 5 and it["bytes_read"] == 100
    assert it["python_boot_ms"] == 32
    assert it["python_total_ms"] == 160
    assert it["python_data_sent_bytes"] == 1900
    assert it["write_spans.files"] == 16
    assert it["write_spans.bytes"] == 4096
    assert it["write_spans.job_commit_ms"] == 8
    assert it["shuffle_read_bytes"] == 700
    assert it["shuffle_write_bytes"] == 28
    assert it["shuffle_write_ms"] == pytest.approx(8.0)
    assert it["gc_ms"] == 4
    assert it["peak_execution_memory_bytes"] == 30
    # the three Python-node tasks: 100, 60 and 30 ms; 400/100/200 bytes
    assert it["task_ms_p50"] == 60 and it["task_ms_max"] == 100
    assert it["task_bytes_max_over_median"] == pytest.approx(2.0)
    # executor time around the Python workers: (100-90) + (60-50) + (30-20)
    assert it["write_spans.stage_jvm_ms"] == 30


def test_self_time_from_nested_spans():
    spans = [
        Span(0, "root", 0, 100, None, "r"),
        Span(1, "child", 10, 30, 0, "r"),
        Span(2, "child", 50, 90, 0, "r"),
        Span(3, "leaf", 55, 65, 2, "r"),
        Span(4, "other_run_root", 0, 5, None, "r"),
    ]
    st = self_times_ns(spans)
    assert st["root"] == {"total_ns": 100, "self_ns": 40, "calls": 1}
    assert st["child"] == {"total_ns": 60, "self_ns": 50, "calls": 2}
    assert st["leaf"]["self_ns"] == 10


def test_tracer_records_parents_and_wraps():
    tracer = Tracer("t")
    calls = []
    f = tracer.wrap("f", lambda x: x + 1, on_enter=lambda name: lambda: calls.append(name))
    with tracer.span("outer") as outer:
        assert f(1) == 2
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["f"].parent == outer and by_name["outer"].parent is None
    assert calls == ["f"]


def test_compare_catches_one_planted_wrong_document():
    expected = {f"d{i}": [("text", f"t{i}", None, 0)] for i in range(50)}
    got = [(d, list(v)) for d, v in expected.items()]
    assert workloads.compare(expected, got) == set()
    got[17] = ("d17", [("text", "wrong", None, 0)])
    assert workloads.compare(expected, got) == {"d17"}
    # missing, duplicated and unexpected documents fail too
    assert workloads.compare(expected, got[1:] + [got[2], ("zz", [])]) == {"d0", "d2", "d17", "zz"}


def test_manifest_check_fails_every_document_of_a_wrong_part(tmp_path):
    class _Corpus:
        docs = {"a": (None, None, None, None, 0), "b": (None, None, None, None, 0), "c": (None, None, None, None, 1)}

    expected = {"a": [("text", "xy", None, 0)], "b": [], "c": [("media", None, "m", 0)]}
    rows = {"part": [0, 1], "n_docs": [2, 1], "n_spans": [1, 1], "n_chars": [2, 0]}
    pq.write_table(pa.table(rows), tmp_path / "m.parquet")
    crawl = workloads.Crawl()
    assert crawl._check_manifest(expected, _Corpus, str(tmp_path)) == set()
    rows["n_chars"] = [3, 0]
    pq.write_table(pa.table(rows), tmp_path / "m.parquet")
    assert crawl._check_manifest(expected, _Corpus, str(tmp_path)) == {"a", "b"}


def test_pdf_corpus_is_deterministic_and_extractable():
    a = [inputs.pdf_doc(5, i) for i in range(12)]
    assert a == [inputs.pdf_doc(5, i) for i in range(12)]
    assert a != [inputs.pdf_doc(6, i) for i in range(12)]
    for doc_id, spans, part in a:
        assert 0 <= part < 16
        pdfs = [s["text"] for s in spans if s["kind"] == "pdf"]
        assert 1 <= len(pdfs) <= 3
        assert all(extract_pdf_text(p) for p in pdfs)


def test_size_matching_follows_the_profile():
    pool = [5, 90, 1000, 40, 7, 300, 2000, 60]
    # each profile size takes the closest unused pool entry, largest first
    assert inputs.match_sizes(pool, [1500, 50, 50, 8]) == [3, 4, 6, 7]
    assert sorted(pool[i] for i in inputs.match_sizes(pool, [1, 1, 1])) == [5, 7, 40]


def test_every_pdf_kind_extracts():
    import random

    for name, make in inputs.PDF_KINDS.items():
        assert extract_pdf_text(make(random.Random(1))), name


def test_benchmark_json_names_the_metrics_run_py_reports():
    import json

    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    assert bench["command"] == ["python3", "perfbench/run.py"]


def test_stop_all_waits_for_orphaned_grandchildren():
    """A grandchild whose parent exits is adopted and waited for, even
    one that ignores SIGTERM."""
    import subprocess

    script = f"""
import os, subprocess, sys, time
sys.path.insert(0, {HERE!r})
import host
host.adopt_orphans()
middle = subprocess.Popen([sys.executable, "-c",
    "import signal, subprocess, sys; "
    "p = subprocess.Popen([sys.executable, '-c', "
    "'import signal, time; signal.signal(signal.SIGTERM, signal.SIG_IGN); time.sleep(60)'], "
    "stdout=subprocess.DEVNULL); "
    "print(p.pid)"], stdout=subprocess.PIPE, text=True)
grandchild = int(middle.communicate()[0])
time.sleep(0.2)
assert host.descendants(os.getpid()) == [grandchild]
print(host.stop_all(grace=0.1, timeout=0.5) == [grandchild], host.descendants(os.getpid()))
"""
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=60
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["True", "[]"]
