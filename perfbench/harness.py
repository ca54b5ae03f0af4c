"""Shared machinery of one benchmark run: the Spark session, timers, the
optional tracer, failure accounting and metric assembly.

A run is ``setup`` (timed as ``setup_s``, minus the benchmark's own
checking work) followed by a closed loop with one client that issues one
operation at a time until ``seconds`` have passed.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager, nullcontext

from tracer import Tracer

#: every layout the writer offers that clusters on the layout columns
LAYOUTS = ("baseline", "linear", "zorder", "hilbert", "kdtree")
#: the layouts ``skip_scan`` writes in set-up and scans; the traced run
#: writes ``kdtree`` once more as a layer probe
SCAN_LAYOUTS = LAYOUTS[:4]

#: headline registry entries measured by ``headline_queries``; the
#: registry's ``scale_probe_cpu`` is a core-scaling instrument, not a query
HEADLINE_QUERIES = (
    "dedup_embedding_topk",
    "dedup_minhash_lsh",
    "j_fact_dim",
    "j_multi3",
    "layout_drift_stats",
    "layout_zorder_scan",
    "q1_filter",
    "q2_date_range",
    "q3_group_by",
    "q4_order_limit",
    "text_bm25_topk",
    "tpch_q1",
    "tpch_q18",
    "tpch_q5",
)

#: end-to-end metrics: every workload reports every one of them
END_TO_END = {
    "setup_s": "s",
    "query_p50_s": "s",
    "queries_per_s": "1/s",
    "scan_bytes_frac": "ratio",
    "peak_rss_mb": "MB",
}


def _per_layer_units() -> dict[str, str]:
    units = {
        "session.start_s": "s",
        "sources.load_table_s": "s",
        "profiler.profile_df_s": "s",
        "wlgen.gen_s": "s",
        "wlgen.in_band_frac": "ratio",
        "sfc.zorder_key_s": "s",
        "sfc.hilbert_key_s": "s",
    }
    units.update({f"layout.write_s.{lay}": "s" for lay in LAYOUTS})
    units.update(
        {
            "layout.collect_file_stats_s": "s",
            "layout.plan_num_files_s": "s",
            "layout.files_written": "count",
            "layout.bytes_written": "bytes",
            "layout.scoped_upsert_s": "s",
            "layout.files_rewritten_frac": "ratio",
            "layout.files_after_upsert": "count",
            "layout.write_amp": "ratio",
            "layout.space_amp": "ratio",
            "layout.read_sidecar_s": "s",
            "layout.read_sidecar_calls": "count",
            "table.prune_files_s": "s",
            "table.scan_build_s": "s",
            "table.relation_cache_hit_frac": "ratio",
            "table.distinct_survivor_sets": "count",
            "table.read_s": "s",
        }
    )
    for lay in SCAN_LAYOUTS:
        units[f"table.files_scanned_frac.{lay}"] = "ratio"
        units[f"table.bytes_scanned_frac.{lay}"] = "ratio"
    units.update(
        {
            "exec.action_s": "s",
            "exec.jobs_per_op": "count",
            "exec.stages_per_op": "count",
            "exec.tasks_per_op": "count",
            "exec.stage_floor_s": "s",
            "runner.plan_bytes_read": "bytes",
            "runner.plan_files_read": "count",
        }
    )
    for q in HEADLINE_QUERIES:
        units[f"queries.{q}.build_s"] = "s"
        units[f"queries.{q}.exec_s"] = "s"
        units[f"queries.{q}.jobs"] = "count"
    units["table.bytes_scanned_frac.after_upsert"] = "ratio"
    units["trace.overhead_frac"] = "ratio"
    units["trace.spans"] = "count"
    return units


PER_LAYER = _per_layer_units()


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) of the visible files under ``path`` ending in
    ``suffix``; Spark's hidden ``.crc`` and ``_SUCCESS`` files excluded."""
    n = size = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if f.startswith(".") or f == "_SUCCESS" or not f.endswith(suffix):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


def rss_peak_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_times() -> list[int]:
    """The host's aggregate ``/proc/stat`` cpu line, in jiffies."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to others between two
    ``cpu_times`` readings (the 8th field is steal)."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])
    return delta[7] / total if total else 0.0


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 data_dir: str, run_dir: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.tracer = Tracer() if trace else None
        self.clock = time.perf_counter
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.scan_bytes = [0, 0]  # scanned, total
        self.layer: dict[str, float] = {}
        self.details: dict = {}
        self._untimed = 0.0
        self.op_id = 0
        self._groups = 0

    # -- spans and timing ----------------------------------------------------

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    @contextmanager
    def untimed(self):
        """Benchmark-only work (oracles, gates) inside set-up: excluded from
        ``setup_s`` and hidden from the tracer."""
        t0 = self.clock()
        prev = self.tracer.enabled if self.tracer else None
        if self.tracer:
            self.tracer.enabled = False
        try:
            yield
        finally:
            if self.tracer:
                self.tracer.enabled = prev
            self._untimed += self.clock() - t0

    @contextmanager
    def timed_setup(self):
        self._untimed = 0.0
        t0 = self.clock()
        with self.span("setup"):
            yield
        self.setup_s = self.clock() - t0 - self._untimed
        self.details["setup_checks_s"] = self._untimed

    def start_loop(self) -> float:
        """Start the timed loop; returns its deadline."""
        self._cpu0 = cpu_times()
        return self.clock() + self.seconds

    def end_loop(self) -> None:
        # steal shows how much of a slow run the hypervisor gave to other guests
        self.details["loop_steal_frac"] = steal_frac(self._cpu0, cpu_times())

    def next_op(self) -> int:
        self.op_id += 1
        if self.tracer:
            self.tracer.op = self.op_id
        return self.op_id

    # -- correctness ---------------------------------------------------------

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
            print(f"perfbench: WRONG {what}", file=sys.stderr)
        return ok

    def crashed(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.failures.append(f"{what}: error")
        print(f"perfbench: FAILED {what}", file=sys.stderr)
        traceback.print_exc()

    # -- session -------------------------------------------------------------

    def start_session(self):
        from lakehouse_sfc_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and, through it, the Python
        workers) to exit."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gateway = sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None

    def jvm_pid(self) -> int | None:
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def peak_rss_mb(self) -> float:
        kb = rss_peak_kb("self")
        pid = self.jvm_pid()
        if pid:
            kb += rss_peak_kb(pid)
        return kb / 1024.0

    # -- statusTracker (traced runs) ----------------------------------------

    def job_group(self) -> str | None:
        """A fresh job group for the next traced operation."""
        if not self.tracer or not self.tracer.enabled:
            return None
        self._groups += 1
        gid = f"perfbench-{self._groups}"
        self.spark.sparkContext.setJobGroup(gid, gid)
        return gid

    def job_counts(self, gid: str | None) -> tuple[int, int, int] | None:
        if gid is None:
            return None
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                stages += 1
                si = st.getStageInfo(s)
                tasks += si.numTasks if si else 0
        return len(jobs), stages, tasks

    def stage_floor_s(self) -> float:
        """Median of five tiny two-stage jobs: the per-stage scheduling
        floor every query pays."""
        from pyspark.sql import functions as F

        sc = self.spark.sparkContext
        samples = []
        for _ in range(5):
            t0 = self.clock()
            self.spark.range(0, 1000, 1, sc.defaultParallelism).groupBy(
                (F.col("id") % 7).alias("k")
            ).count().count()
            samples.append(self.clock() - t0)
        return median(samples)

    # -- metrics -------------------------------------------------------------

    def end_to_end(self, rate_kind: str) -> dict[str, float]:
        """``queries_per_s`` counts the operations in ``self.lat[rate_kind]``
        over their summed latency; ``query_p50_s`` is the median of
        ``self.lat["query"]``."""
        ops = self.lat[rate_kind]
        scanned, total = self.scan_bytes
        return {
            "setup_s": self.setup_s,
            "query_p50_s": median(self.lat["query"]),
            "queries_per_s": len(ops) / sum(ops) if ops else 0.0,
            "scan_bytes_frac": scanned / total if total else 0.0,
            "peak_rss_mb": self.peak_rss_mb(),
        }
