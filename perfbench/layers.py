"""What the traced run wraps in each package layer, and how the per-layer
metrics are derived from the recorded spans.

Span names are ``<layer>.<module>.<function>`` for wrapped package
functions; the benchmark adds its own spans around calls it makes
(``wlgen.gen``, ``sfc.<curve>_key``, ``exec.action``,
``queries.<name>.build|exec``).
"""

from __future__ import annotations

import os
from collections import defaultdict

from harness import HEADLINE_QUERIES, LAYOUTS, PER_LAYER, SCAN_LAYOUTS, Bench, dir_bytes, median


def _write_post(sp, args, kwargs, out, state):
    layout = kwargs.get("layout", args[2] if len(args) > 2 else "baseline")
    files, size = dir_bytes(out["path"], ".parquet")
    sp.attrs.update(layout=layout, files=files, bytes=size)


def _pruned_post(sp, args, kwargs, out, state):
    path = kwargs.get("path", args[1] if len(args) > 1 else "")
    sp.attrs.update(layout=os.path.basename(os.path.normpath(path)), **out[1])


def _upsert_post(sp, args, kwargs, out, state):
    sp.attrs.update(
        {k: out[k] for k in ("files_rewritten", "files_untouched", "files_new") if k in out}
    )


def _cached_ids(args, kwargs):
    from lakehouse_sfc_spark.table import pruning

    return {id(df) for df in pruning._PRUNED_CACHE.values()}


def _cache_post(sp, args, kwargs, out, before):
    # a hit returns a relation the cache already held; a miss builds a new
    # one, whether or not it is then stored
    sp.attrs["hit"] = id(out) in before


P = "lakehouse_sfc_spark."

#: driver-side functions of each layer; executor kernels (the ``*_np``
#: curve functions, pandas UDF bodies) are left alone
TARGETS = {
    P + "session:get_spark": None,
    P + "sources.loader:load_table": None,
    P + "sources.loader:register_tables": None,
    P + "sources.loader:materialize_once": None,
    P + "profiler.profile:profile_df": None,
    P + "profiler.stats:build_uni_dists": None,
    P + "wlgen.samplers:sample_between": None,
    P + "wlgen.samplers:sample_copula": None,
    P + "sfc.keys:add_sfc_key": None,
    P + "sfc.keys:column_grids": None,
    P + "sfc.keys:cell_columns": None,
    P + "sfc.zorder:zorder_key_expr": None,
    P + "sfc.hilbert:hilbert_key_udf": None,
    P + "layout.writer:layout_write": (None, _write_post),
    P + "layout.writer:plan_num_files": None,
    P + "layout.writer:compact": None,
    P + "layout.stats:collect_file_stats": None,
    P + "layout.stats:read_sidecar": None,
    P + "layout.upsert:scoped_upsert": (None, _upsert_post),
    P + "layout.upsert:keyed_upsert": None,
    P + "layout.upsert:build_update_batches": None,
    P + "layout.upsert:dedup_latest": None,
    P + "table.pruning:prune_files": None,
    P + "table.pruning:read_pruned": (None, _pruned_post),
    P + "table.pruning:_survivors_relation": (_cached_ids, _cache_post),
    P + "table.catalog:SfcTable.scan": None,
    P + "table.catalog:SfcTable.read": None,
    P + "runner.metrics:plan_scan_metrics": None,
}


class OpStats:
    """Per-operation measurements the traced run collects outside spans."""

    def __init__(self):
        self.jobs: list[tuple[int, int, int]] = []
        self.query_jobs: dict[str, list[int]] = defaultdict(list)
        self.plan: list[dict] = []
        #: latencies of the timed loop's operations
        self.latency: list[float] = []

    def add(self, jobs: tuple[int, int, int], plan: dict) -> None:
        """Record one traced operation of the timed loop."""
        self.jobs.append(jobs)
        self.plan.append(plan)


def derive(b: Bench, ops: OpStats, extra: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric of ``PER_LAYER``.  Read-path metrics of the
    timed operations use only their spans, not those of set-up or of the
    layer probes that follow the loop."""
    t = b.tracer

    def total(name):
        return sum(s.duration for s in t.by_name(name))

    def med(name, ops_only=False, **match):
        return median(
            s.duration
            for s in t.by_name(name)
            if all(s.attrs.get(k) == v for k, v in match.items())
            and not (ops_only and s.op is None)
        )

    out = {k: 0.0 for k in PER_LAYER}
    out.update(
        {
            "session.start_s": total("session.get_spark"),
            "sources.load_table_s": total("sources.loader.load_table"),
            "profiler.profile_df_s": total("profiler.profile.profile_df"),
            "wlgen.gen_s": total("wlgen.gen"),
            "sfc.zorder_key_s": total("sfc.zorder_key"),
            "sfc.hilbert_key_s": total("sfc.hilbert_key"),
            "layout.collect_file_stats_s": med("layout.stats.collect_file_stats"),
            "layout.plan_num_files_s": med("layout.writer.plan_num_files"),
            "layout.scoped_upsert_s": med("layout.upsert.scoped_upsert"),
            "layout.read_sidecar_s": med("layout.stats.read_sidecar", ops_only=True),
            "table.prune_files_s": med("table.pruning.prune_files", ops_only=True),
            "table.scan_build_s": med("table.catalog.SfcTable.scan", ops_only=True),
            "table.read_s": med("table.catalog.SfcTable.read"),
            "exec.action_s": med("exec.action", ops_only=True),
        }
    )
    writes = t.by_name("layout.writer.layout_write")
    for lay in LAYOUTS:
        out[f"layout.write_s.{lay}"] = med("layout.writer.layout_write", layout=lay)
    out["layout.files_written"] = sum(s.attrs.get("files", 0) for s in writes)
    out["layout.bytes_written"] = sum(s.attrs.get("bytes", 0) for s in writes)

    ups = t.by_name("layout.upsert.scoped_upsert")
    rewritten = sum(s.attrs.get("files_rewritten", 0) for s in ups)
    untouched = sum(s.attrs.get("files_untouched", 0) for s in ups)
    if rewritten + untouched:
        out["layout.files_rewritten_frac"] = rewritten / (rewritten + untouched)
    out["layout.files_after_upsert"] = median(
        s.attrs.get("files_untouched", 0) + s.attrs.get("files_new", 0) for s in ups
    )

    n_ops = max(1, len(ops.jobs))
    op_sidecar = [s for s in t.by_name("layout.stats.read_sidecar") if s.op is not None]
    out["layout.read_sidecar_calls"] = len(op_sidecar) / n_ops

    rel = [s for s in t.by_name("table.pruning._survivors_relation") if s.op is not None]
    if rel:
        out["table.relation_cache_hit_frac"] = sum(s.attrs["hit"] for s in rel) / len(rel)

    scans: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0, 0])
    for s in t.by_name("table.pruning.read_pruned"):
        if s.op is None:
            continue
        acc = scans[s.attrs.get("layout")]
        acc[0] += s.attrs.get("files_scanned", 0)
        acc[1] += s.attrs.get("files_total", 0)
        acc[2] += s.attrs.get("bytes_scanned", 0)
        acc[3] += s.attrs.get("bytes_total", 0)
    for lay in SCAN_LAYOUTS:
        fs, ft, bs, bt = scans.get(lay, (0, 0, 0, 0))
        out[f"table.files_scanned_frac.{lay}"] = fs / ft if ft else 0.0
        out[f"table.bytes_scanned_frac.{lay}"] = bs / bt if bt else 0.0

    if ops.jobs:
        out["exec.jobs_per_op"] = sum(j[0] for j in ops.jobs) / len(ops.jobs)
        out["exec.stages_per_op"] = sum(j[1] for j in ops.jobs) / len(ops.jobs)
        out["exec.tasks_per_op"] = sum(j[2] for j in ops.jobs) / len(ops.jobs)
    if ops.plan:
        out["runner.plan_bytes_read"] = sum(p["bytes_scanned"] for p in ops.plan) / len(ops.plan)
        out["runner.plan_files_read"] = sum(p["files_scanned"] for p in ops.plan) / len(ops.plan)

    for q in HEADLINE_QUERIES:
        out[f"queries.{q}.build_s"] = med(f"queries.{q}.build")
        out[f"queries.{q}.exec_s"] = med("exec.action", query=q)
        out[f"queries.{q}.jobs"] = median(ops.query_jobs.get(q, ()))

    # the tracer's own time within the timed operations, over what they
    # would have taken without it
    spent = sum(v for op, v in t.overhead.items() if op is not None)
    if ops.latency:
        out["trace.overhead_frac"] = spent / (sum(ops.latency) - spent)
    out["trace.spans"] = len(t.spans)
    out.update(extra)
    return out
