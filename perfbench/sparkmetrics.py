"""Per-layer Spark metrics, read back from the job's own event log.

The benchmark tags every job it launches with two local properties:
``perfbench.iter`` (the timed iteration) and ``perfbench.call`` (the
traced library call that launched it, e.g. ``write_spans``). Task-end
events carry Spark's task metrics and the SQL-metric accumulator
updates; the SQL plan events name the plan node each accumulator
belongs to. Together they give, per iteration, the scan, exchange,
Python-node, write and JVM figures without touching the program.

Units follow Spark: ``timing`` SQL metrics are ms, ``nsTiming`` ns,
``size`` bytes. In local mode every task runs in one JVM, so a task's
``JVM GC Time`` also counts pauses that overlapped other tasks.
"""

from __future__ import annotations

import json
import statistics

ITER_PROP = "perfbench.iter"
CALL_PROP = "perfbench.call"

_SQL_EXEC_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

_WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"
_PYTHON_NODE = "MapInArrow"

# (node-name prefix, SQL metric name) -> per-layer metric
_NODE_METRICS = {
    ("Scan parquet", "scan time"): "scan_ms",
    ("Scan parquet", "size of files read"): "bytes_read",
    ("Scan parquet", "number of output rows"): "scan_rows",
    (_PYTHON_NODE, "time to start Python workers"): "python_boot_ms",
    (_PYTHON_NODE, "time to initialize Python workers"): "python_init_ms",
    (_PYTHON_NODE, "time to run Python workers"): "python_total_ms",
    (_PYTHON_NODE, "data sent to Python workers"): "python_data_sent_bytes",
    (_PYTHON_NODE, "data returned from Python workers"): "python_data_received_bytes",
}
# write-node metrics, named by the call that launched the write
_WRITE_METRICS = {
    "number of written files": "files",
    "written output": "bytes",
    "number of output rows": "rows",
    "task commit time": "task_commit_ms",
    "job commit time": "job_commit_ms",
}

SPARK_METRICS = sorted(
    set(_NODE_METRICS.values())
    | {
        "shuffle_write_bytes",
        "shuffle_write_ms",
        "shuffle_read_bytes",
        "shuffle_fetch_wait_ms",
        "task_bytes_max_over_median",
        "task_ms_p50",
        "task_ms_max",
        "gc_ms",
        "peak_execution_memory_bytes",
    }
)


def read_event_log(path: str) -> list:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _walk_plan(node: dict, out: dict) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for child in node.get("children", ()):
        _walk_plan(child, out)


def _layer_of(node: str, metric: str, call: str | None):
    if node == _WRITE_NODE and metric in _WRITE_METRICS:
        return f"{call or 'write'}.{_WRITE_METRICS[metric]}"
    for (prefix, name), layer in _NODE_METRICS.items():
        if metric == name and node.startswith(prefix):
            return layer
    return None


def iteration_metrics(events: list) -> dict:
    """``{iteration tag: {metric: value}}`` over every tagged job.

    Write-node metrics are keyed ``<call>.<metric>`` (for example
    ``write_spans.files``, ``append_manifest.bytes``), so the data
    write and the manifest append stay apart. ``<call>.stage_jvm_ms``
    is the executor run time of the Python-node tasks minus their
    Python run time."""
    accs: dict = {}
    stage_tags: dict = {}
    exec_tags: dict = {}
    for e in events:
        kind = e["Event"]
        if kind in (_SQL_EXEC_START, _SQL_AQE_UPDATE):
            _walk_plan(e["sparkPlanInfo"], accs)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            it = props.get(ITER_PROP)
            if it is None:
                continue
            tags = (it, props.get(CALL_PROP))
            for sid in e["Stage IDs"]:
                stage_tags[sid] = tags
            if "spark.sql.execution.id" in props:
                exec_tags.setdefault(int(props["spark.sql.execution.id"]), tags)

    sums: dict = {}
    task_ms: dict = {}
    task_bytes: dict = {}

    def add(it, name, value):
        d = sums.setdefault(it, {})
        d[name] = d.get(name, 0) + value

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerTaskEnd":
            tags = stage_tags.get(e["Stage ID"])
            if tags is None or "Task Metrics" not in e:
                continue
            it, call = tags
            tm = e["Task Metrics"]
            info = e["Task Info"]
            sr = tm.get("Shuffle Read Metrics", {})
            sw = tm.get("Shuffle Write Metrics", {})
            read_bytes = sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
            add(it, "shuffle_read_bytes", read_bytes)
            add(it, "shuffle_fetch_wait_ms", sr.get("Fetch Wait Time", 0))
            add(it, "shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0))
            add(it, "shuffle_write_ms", sw.get("Shuffle Write Time", 0) / 1e6)
            add(it, "gc_ms", tm.get("JVM GC Time", 0))
            d = sums.setdefault(it, {})
            d["peak_execution_memory_bytes"] = max(
                d.get("peak_execution_memory_bytes", 0), tm.get("Peak Execution Memory", 0)
            )
            python_task = False
            python_run_ms = 0
            for acc in info.get("Accumulables", ()):
                node_metric = accs.get(acc["ID"])
                if node_metric is None or "Update" not in acc:
                    continue
                python_task |= node_metric[0] == _PYTHON_NODE
                layer = _layer_of(*node_metric, call)
                if layer:
                    add(it, layer, int(acc["Update"]))
                if layer == "python_total_ms":
                    python_run_ms += int(acc["Update"])
            if python_task:
                task_ms.setdefault(it, []).append(info["Finish Time"] - info["Launch Time"])
                task_bytes.setdefault(it, []).append(read_bytes)
                # the JVM side of the stage around the Python workers:
                # shuffle read, Arrow conversion and the sink
                add(it, f"{call}.stage_jvm_ms", tm.get("Executor Run Time", 0) - python_run_ms)
        elif kind == _DRIVER_ACCUMS:
            tags = exec_tags.get(e["executionId"])
            if tags is None:
                continue
            for acc_id, value in e["accumUpdates"]:
                node_metric = accs.get(acc_id)
                layer = node_metric and _layer_of(*node_metric, tags[1])
                if layer:
                    add(tags[0], layer, int(value))

    for it, d in sums.items():
        ms = task_ms.get(it)
        if ms:
            d["task_ms_p50"] = statistics.median(ms)
            d["task_ms_max"] = max(ms)
        nonzero = [b for b in task_bytes.get(it, ()) if b]
        if nonzero:
            d["task_bytes_max_over_median"] = max(nonzero) / statistics.median(nonzero)
    return sums
