"""Scan-metric collectors — the five independent measurement channels of the
reference (run_queries.py:165-548), all vanilla-Spark:

- M1 ``plan_scan_metrics``: Py4J walk of the executed physical plan, summing
  scan-node metrics (numFiles / filesSize / bytesRead aliases)
  (run_queries.py:165-200).
- M2 ``input_files_bytes``: upper bound from ``df.inputFiles()`` file sizes
  (run_queries.py:203-222).
- M3 ``probe_files``: ``SELECT DISTINCT input_file_name()`` re-query — the
  portable file-enumeration measurement (run_queries.py:225-248).
- M4 ``rest_metrics``: Spark UI REST poll with (stageId, taskId) dedup
  preferring SUCCESS / higher attempt (run_queries.py:251-369).
- M5 ``eventlog_metrics``: JSON event-log aggregation windowed on
  [t0, t1] and scoped to a job group (run_queries.py:372-548).

All collectors are best-effort like the reference: on any failure they
return what they have, never raise.  The engine's *native* and fully
deterministic channel is the pruner's own files_scanned/bytes_scanned
(table/pruning.py) — these five exist for parity and for measuring plain
Spark scans we don't manage.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from urllib.parse import urlsplit, urlunsplit

from lakehouse_sfc_spark.layout.stats import file_size


# --- M1: executed-plan walk -------------------------------------------------

_SCAN_TOKENS = ("scan", "filesource", "batchscan")
_FILE_KEYS = ("numFiles", "number of files read")
_BYTE_KEYS = ("filesSize", "size of files read", "bytesRead", "bytes read")


def _scala_seq(seq):
    for i in range(seq.size()):
        yield seq.apply(i)


def _scala_map_items(m):
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        yield kv._1(), kv._2()


def _walk_plan(node, visit, _seen=None):
    """Pre-order walk that visits each physical node ONCE by plan-node id:
    ReusedExchange / reused-subquery stubs point back into already-counted
    subtrees, and double-visiting them double-counts scan metrics (a 3-branch
    rollup over one reused exchange would report 3x the files)."""
    if _seen is None:
        _seen = set()
    try:
        nid = int(node.id())
    except Exception:
        nid = id(node)
    if nid in _seen:
        return
    _seen.add(nid)
    visit(node)
    # AQE: AdaptiveSparkPlanExec hides the live plan behind executedPlan();
    # its innerChildren is the INITIAL (pre-AQE) plan kept for display only —
    # walking it would count never-executed scan clones, whose
    # numFiles/filesSize metrics get populated at planning time (partition
    # listing), inflating totals that stage reuse actually avoided.
    try:
        if "AdaptiveSparkPlan" in node.nodeName():
            _walk_plan(node.executedPlan(), visit, _seen)
            return
    except Exception:
        pass
    try:
        for child in _scala_seq(node.children()):
            _walk_plan(child, visit, _seen)
    except Exception:
        pass
    # AQE query stages (ResultQueryStage / ShuffleQueryStage / ...) are
    # leaves wrapping their materialized subtree in .plan()
    try:
        if "QueryStage" in node.nodeName():
            _walk_plan(node.plan(), visit, _seen)
    except Exception:
        pass
    # InputAdapter / QueryStage wrappers
    try:
        for inner in _scala_seq(node.innerChildren()):
            _walk_plan(inner, visit, _seen)
    except Exception:
        pass


def plan_scan_metrics(df) -> dict:
    """Sum files/bytes over every scan node of the executed plan.  Call after
    the action has run, so AQE has finalized the plan.

    Dedup discipline: a reused exchange/subquery (AQE stage reuse) shows the
    SAME scan under several branches — sometimes as distinct cloned node
    instances that share the underlying SQLMetric accumulators.  Summing per
    visited node would count one physical scan once per consumer (a 3-branch
    hierarchical rollup would report 3x files), so each metric accumulator id
    is counted exactly once; two genuinely separate scans have separate
    accumulators and still both count."""
    out = {"files_scanned": 0, "bytes_scanned": 0, "scan_nodes": 0}
    try:
        plan = df._jdf.queryExecution().executedPlan()
    except Exception:
        return out
    seen_metric_ids: set[int] = set()

    def visit(node):
        try:
            name = node.nodeName().lower()
        except Exception:
            return
        if not any(t in name for t in _SCAN_TOKENS):
            return
        counted = False
        try:
            for key, metric in _scala_map_items(node.metrics()):
                if key not in _FILE_KEYS and key not in _BYTE_KEYS:
                    continue
                try:
                    mid = int(metric.id())
                except Exception:
                    mid = id(metric)
                if mid in seen_metric_ids:
                    continue
                seen_metric_ids.add(mid)
                counted = True
                if key in _FILE_KEYS:
                    out["files_scanned"] += int(metric.value())
                else:
                    out["bytes_scanned"] += int(metric.value())
        except Exception:
            pass
        if counted:
            out["scan_nodes"] += 1

    _walk_plan(plan, visit)
    return out


# --- M2: inputFiles upper bound --------------------------------------------


def input_files_bytes(df) -> dict:
    """Sum sizes of every file the plan COULD read (pre-pruning bound)."""
    files = []
    try:
        files = list(df.inputFiles())
    except Exception:
        pass
    total = sum(file_size(f) for f in files)
    return {"n_input_files": len(files), "bytes_input_files": total}


# --- M3: file-enumeration probe --------------------------------------------


def probe_files(df) -> dict:
    """Re-run the query asking which files it actually touched."""
    from pyspark.sql import functions as F

    try:
        rows = df.select(F.input_file_name().alias("f")).distinct().collect()
    except Exception:
        return {"files_probe": 0, "bytes_probe": 0}
    total = sum(file_size(r["f"]) for r in rows)
    return {"files_probe": len(rows), "bytes_probe": total}


# --- M4: REST API with task dedup ------------------------------------------


def _http_json(url: str, timeout: float = 2.0):
    with urllib.request.urlopen(url, timeout=timeout) as resp:
        return json.loads(resp.read().decode("utf-8"))


def rest_metrics(spark, job_group: str, deadline_s: float = 5.0) -> dict:
    """Poll the Spark UI REST API for stages of jobs in ``job_group``,
    dedup tasks by (stageId, taskId) preferring SUCCESS / higher attempt /
    longer duration, and sum input bytes + executor run/CPU time.

    The UI ingests listener events asynchronously, so a single read can see
    stages before their task metrics land (the reference papers over this
    with fixed sleeps, run_queries.py:657-664).  We re-poll until two
    consecutive snapshots with tasks agree — ingestion has settled — or
    ``deadline_s`` elapses, keeping the last snapshot either way.  The
    stability rule (rather than waiting for bytes > 0) means queries that
    legitimately read zero bytes return in ~two polls, and multi-stage
    queries aren't cut short while later stages are still ingesting."""
    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return {}
    app_id = spark.sparkContext.applicationId
    base = urlunsplit(urlsplit(ui)._replace(path="", query="", fragment=""))
    start = time.monotonic()
    deadline = start + deadline_s
    prev: dict | None = None
    stable = 0
    while True:
        out = _rest_snapshot(base, app_id, job_group)
        stable = stable + 1 if out == prev else 0
        now = time.monotonic()
        # tasks visible + one confirming poll => ingestion settled.  A
        # taskless snapshot (query answered without launching tasks, or no
        # matching job group) settles after three agreeing polls, but never
        # before 2 s: the UI ingests listener events asynchronously and on
        # Spark 4.1 the job rows themselves can take >1 s to appear, so an
        # early empty read is indistinguishable from not-yet-ingested.
        settled = (out.get("rest_tasks", 0) > 0 and stable >= 1) or (
            stable >= 3 and now - start >= 2.0
        )
        if settled or now >= deadline:
            return out
        prev = out
        time.sleep(0.25)


def _rest_snapshot(base: str, app_id: str, job_group: str) -> dict:
    out: dict = {}
    try:
        jobs = _http_json(f"{base}/api/v1/applications/{app_id}/jobs")
    except Exception:
        return out
    stage_ids = set()
    for j in jobs:
        if j.get("jobGroup") == job_group:
            stage_ids.update(j.get("stageIds", []))
    if not stage_ids:
        return out

    best: dict[tuple, dict] = {}
    for sid in sorted(stage_ids):
        try:
            stages = _http_json(
                f"{base}/api/v1/applications/{app_id}/stages/{sid}?details=true"
            )
        except Exception:
            continue
        for attempt in stages:
            for tid, t in (attempt.get("tasks") or {}).items():
                key = (sid, int(tid))
                cur = best.get(key)

                def rank(task):
                    return (
                        task.get("status") == "SUCCESS",
                        task.get("attempt", 0),
                        task.get("duration", 0),
                    )

                if cur is None or rank(t) > rank(cur):
                    best[key] = t
    bytes_read = run_ms = cpu_ns = 0
    for t in best.values():
        tm = t.get("taskMetrics") or {}
        bytes_read += (tm.get("inputMetrics") or {}).get("bytesRead", 0)
        run_ms += tm.get("executorRunTime", 0)
        cpu_ns += tm.get("executorCpuTime", 0)
    return {
        "rest_bytes_read": int(bytes_read),
        "rest_executor_run_s": run_ms / 1000.0,
        "rest_executor_cpu_s": cpu_ns / 1e9,
        "rest_tasks": len(best),
    }


# --- M5: event-log parser ---------------------------------------------------


def eventlog_metrics(
    spark, job_group: str, t0: float, t1: float
) -> dict:
    """Two passes over the JSON event log: (1) stage IDs from jobs whose
    properties carry ``job_group`` and whose submission falls in [t0, t1];
    (2) deduped TaskEnd aggregation of input bytes / files / run / CPU time."""
    out: dict = {}
    if spark.conf.get("spark.eventLog.enabled", "false") != "true":
        return out
    log_dir = spark.conf.get("spark.eventLog.dir", "/tmp/spark-events")
    if log_dir.startswith("file:"):
        log_dir = log_dir[5:].lstrip("/")
        log_dir = "/" + log_dir
    app_id = spark.sparkContext.applicationId
    # Spark <=3 single-file layout: <dir>/<appId>[.inprogress];
    # Spark 4 rolling layout: <dir>/eventlog_v2_<appId>/events_*_<appId>*
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        candidates = [
            os.path.join(log_dir, f)
            for f in sorted(os.listdir(log_dir))
            if f.startswith(app_id) or f.startswith(f"eventlog_v2_{app_id}")
        ]
        if not candidates:
            return out
        path = candidates[0]
    if os.path.isdir(path):
        log_files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.startswith("events_")
        )
    else:
        log_files = [path]

    stage_ids: set[int] = set()
    tasks: dict[tuple, dict] = {}
    events = []
    for lf in log_files:
        # Plain-JSON logs only (run with spark.eventLog.compress=false, as
        # the reference parser does); compressed rollings are skipped.
        try:
            with open(lf, encoding="utf-8") as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
        except (UnicodeDecodeError, ValueError, OSError):
            continue
    if not events:
        return out

    exec_ids: set[int] = set()
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            sub_ms = ev.get("Submission Time", 0)
            if (
                props.get("spark.jobGroup.id") == job_group
                and t0 * 1000 - 1000 <= sub_ms <= t1 * 1000 + 1000
            ):
                for info in ev.get("Stage Infos", []):
                    stage_ids.add(info.get("Stage ID"))
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    try:
                        exec_ids.add(int(eid))
                    except (TypeError, ValueError):
                        pass
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        if ev.get("Stage ID") not in stage_ids:
            continue
        info = ev.get("Task Info") or {}
        key = (ev.get("Stage ID"), info.get("Task ID"))
        cur = tasks.get(key)

        def rank(i):
            return (not i.get("Failed", False), i.get("Attempt", 0))

        if cur is None or rank(info) > rank(cur.get("Task Info") or {}):
            tasks[key] = ev

    bytes_read = files_read = run_ms = cpu_ns = 0
    for ev in tasks.values():
        tm = ev.get("Task Metrics") or {}
        im = tm.get("Input Metrics") or {}
        bytes_read += im.get("Bytes Read", 0)
        run_ms += tm.get("Executor Run Time", 0)
        cpu_ns += tm.get("Executor CPU Time", 0)
        for acc in ev.get("Task Info", {}).get("Accumulables", []):
            if acc.get("Name") == "number of files read":
                try:
                    files_read += int(acc.get("Update", 0))
                except (TypeError, ValueError):
                    pass

    # Spark 4 reports scan file counts as DRIVER-side SQL metrics, not task
    # accumulables: metric ids come from the plan graph in
    # SQLExecutionStart / SQLAdaptiveExecutionUpdate (scoped to our job
    # group's execution ids), values from DriverAccumUpdates (absolute per
    # update — keep the last one per accumulator).
    file_acc_ids: set[int] = set()

    def _walk_plan_info(pi: dict) -> None:
        for m in pi.get("metrics", []) or []:
            if m.get("name") == "number of files read":
                file_acc_ids.add(m.get("accumulatorId"))
        for child in pi.get("children", []) or []:
            _walk_plan_info(child)

    for ev in events:
        name = ev.get("Event", "")
        if name.endswith("SparkListenerSQLExecutionStart") or name.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            if ev.get("executionId") in exec_ids:
                _walk_plan_info(ev.get("sparkPlanInfo") or {})
    driver_files: dict[int, int] = {}
    for ev in events:
        if not ev.get("Event", "").endswith("SparkListenerDriverAccumUpdates"):
            continue
        if ev.get("executionId") not in exec_ids:
            continue
        for pair in ev.get("accumUpdates", []) or []:
            try:
                acc_id, val = int(pair[0]), int(pair[1])
            except (TypeError, ValueError, IndexError):
                continue
            if acc_id in file_acc_ids:
                driver_files[acc_id] = val
    if files_read == 0 and driver_files:
        files_read = sum(driver_files.values())
    return {
        "ev_bytes_read": int(bytes_read),
        "ev_files_read": int(files_read),
        "ev_executor_run_s": run_ms / 1000.0,
        "ev_executor_cpu_s": cpu_ns / 1e9,
        "ev_tasks": len(tasks),
    }
