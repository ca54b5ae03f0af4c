"""Tests of the benchmark itself (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
for p in (str(ROOT), str(HERE)):
    if p not in sys.path:
        sys.path.insert(0, p)

import harness  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from tracer import Tracer  # noqa: E402


def _dists():
    from lakehouse_sfc_spark.profiler.stats import UniDist

    day = 86_400_000.0
    return {
        "l_shipdate": UniDist([5, 9, 7, 3], [9131 * day + i * 600 * day for i in range(5)]),
        "l_quantity": UniDist([10] * 5, [1.0, 10.8, 20.6, 30.4, 40.2, 50.0]),
    }


# -- generation is deterministic for a seed ------------------------------------


def test_probes_repeat_for_a_seed_and_differ_across_seeds():
    from lakehouse_sfc_spark.wlgen import samplers

    a = workloads.gen_probes(samplers, _dists(), seed=7, n=40)
    b = workloads.gen_probes(samplers, _dists(), seed=7, n=40)
    c = workloads.gen_probes(samplers, _dists(), seed=8, n=40)
    assert a == b
    assert a != c
    assert [p["band"] for p in a[:8]] == ["S1", "S2", "S3", "S4"] * 2
    assert all(set(p["bounds"]) == {"l_shipdate", "l_quantity"} for p in a[:4])
    assert all(set(p["bounds"]) == {"l_shipdate"} for p in a[4:8])
    for p in a:
        assert p["lo"] <= p["target"] <= p["hi"]
        for lo, hi in p["bounds"].values():
            assert lo <= hi


def test_dataset_holds_every_table_the_queries_read():
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakehouse_sfc_spark import TABLES

    for t in TABLES:
        assert (run.DATA_DIR / f"{t}.parquet").is_file(), t
    li = pq.read_table(run.DATA_DIR / "lineitem.parquet").to_pandas()
    assert len(li) > 0
    # the drift's ``__rid`` key is an md5 over the raw row: rows are unique
    assert not li.duplicated().any()
    emb = pq.read_schema(run.DATA_DIR / "embeddings.parquet")
    assert emb.field("embedding").type == pa.list_(pa.float32())


def test_oracle_count_is_inclusive_on_both_bounds():
    import numpy as np

    cols = {
        "l_shipdate": np.array([0, 1_000, 2_000, 3_000], dtype="int64"),
        "l_quantity": np.array([1.0, 2.0, 3.0, 4.0]),
    }
    assert workloads.oracle_count(cols, {"l_shipdate": (1.0, 2.0)}) == 2
    assert workloads.oracle_count(cols, {"l_shipdate": (0.0, 3.0), "l_quantity": (2.0, 3.0)}) == 2


# -- printed metric names match BENCHMARK.json ----------------------------------


def test_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == harness.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
    assert set(run.WORKLOAD_NAMES) == set(workloads.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_derive_reports_every_per_layer_metric():
    import layers

    class Stub:
        tracer = Tracer()

    out = layers.derive(Stub(), layers.OpStats(), {})
    assert set(out) == set(harness.PER_LAYER)


def test_headline_set_matches_registry():
    import lakehouse_sfc_spark.queries  # noqa: F401  (registers every query)
    from lakehouse_sfc_spark.queries.registry import QUERIES

    registry = {n for n, s in QUERIES.items() if s.headline} - {"scale_probe_cpu"}
    assert set(harness.HEADLINE_QUERIES) == registry


def test_relation_cache_hit_only_when_the_relation_was_already_cached():
    import layers
    from lakehouse_sfc_spark.table import pruning
    from tracer import Span

    saved = dict(pruning._PRUNED_CACHE)
    held = object()
    pruning._PRUNED_CACHE.clear()
    pruning._PRUNED_CACHE[("k",)] = held
    try:
        before = layers._cached_ids((), {})
    finally:
        pruning._PRUNED_CACHE.clear()
        pruning._PRUNED_CACHE.update(saved)
    hit, miss = Span(0, None, 1, "r", 0.0), Span(1, None, 1, "r", 0.0)
    layers._cache_post(hit, (), {}, held, before)
    layers._cache_post(miss, (), {}, object(), before)
    assert hit.attrs["hit"] is True
    assert miss.attrs["hit"] is False


# -- tracing wrappers restore the originals --------------------------------------


def test_install_wraps_every_reference_and_uninstall_restores():
    import inspect

    import layers
    from lakehouse_sfc_spark import layout
    from lakehouse_sfc_spark.layout import writer
    from lakehouse_sfc_spark.table import catalog

    before_fn = writer.layout_write
    before_pkg = layout.layout_write
    before_cat = catalog.layout_write
    before_write = inspect.getattr_static(catalog.SfcTable, "write")
    before_scan = catalog.SfcTable.scan

    t = Tracer()
    t.install(layers.TARGETS)
    try:
        assert writer.layout_write is not before_fn
        assert catalog.layout_write is writer.layout_write
        assert layout.layout_write is writer.layout_write
        assert catalog.SfcTable.scan is not before_scan
        assert isinstance(inspect.getattr_static(catalog.SfcTable, "write"), classmethod)
    finally:
        t.uninstall()
    assert writer.layout_write is before_fn
    assert layout.layout_write is before_pkg
    assert catalog.layout_write is before_cat
    assert inspect.getattr_static(catalog.SfcTable, "write") is before_write
    assert catalog.SfcTable.scan is before_scan


# -- spans nest, and self time adds up --------------------------------------------


class _Clock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        self.now += 1.0
        return self.now


def test_spans_nest_and_self_time_adds_up():
    t = Tracer(clock=_Clock())
    inner = t.wrap("inner", lambda: None)

    def middle():
        inner()
        inner()

    mid = t.wrap("middle", middle)
    t.op = 3
    with t.span("root"):
        mid()
        inner()

    by = {s.name: s for s in t.spans}
    root = by["root"]
    mids = t.by_name("middle")
    inners = t.by_name("inner")
    assert root.parent is None and len(mids) == 1 and len(inners) == 3
    assert mids[0].parent == root.id
    assert [s.parent for s in inners] == [mids[0].id, mids[0].id, root.id]
    assert all(s.op == 3 for s in t.spans)
    for child in t.spans:
        if child.parent is not None:
            parent = t.spans[child.parent]
            assert parent.start <= child.start <= child.end <= parent.end
    selfs = t.self_times()
    assert sum(selfs.values()) == pytest.approx(root.duration)
    assert all(v >= 0 for v in selfs.values())


def test_overhead_is_the_wrapper_time_outside_the_span():
    t = Tracer(clock=_Clock())
    f = t.wrap("f", lambda: None)
    t.op = 5
    f()
    # clock reads: wrapper entry, span start, span end, wrapper exit
    assert t.spans[0].duration == 1.0
    assert t.overhead == {5: 2.0}


def test_disabled_tracer_records_nothing_and_errors_are_marked():
    t = Tracer()
    f = t.wrap("f", lambda: 1)
    t.enabled = False
    assert f() == 1
    assert t.spans == []
    t.enabled = True

    def boom():
        raise ValueError("x")

    g = t.wrap("g", boom)
    with pytest.raises(ValueError):
        g()
    assert t.spans[-1].attrs.get("error") is True
    assert t._stack == []
