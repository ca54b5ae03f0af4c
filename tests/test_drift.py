"""layout_drift_stats (r11 verdict task 4): the RQ7-style incremental-
ingest census.  The oracle sweep checks the materialized path against
DuckDB; these tests pin what the sweep can't see — the real ingest loop
agreeing with an independent closed-form reference (``_drift_census_lazy``
and ``_scoped_census_lazy`` in queries/layouts.py, which exist only for
these comparisons), the census invariants, and the ingest-observables
artifact bench.py maps to the RQ7 baseline series.
"""

from __future__ import annotations

import json

import lakehouse_sfc_spark.queries  # noqa: F401  (register all)
from lakehouse_sfc_spark.queries.layouts import (
    _DRIFT_BATCHES,
    _drift_census_lazy,
    drift_metrics_path,
)
from lakehouse_sfc_spark.queries.registry import QUERIES

SF = "/root/testdata/sf0.001"


def _census(spark):
    return QUERIES["layout_drift_stats"].fn(spark, SF).collect()


def test_census_matches_lazy_twin(spark):
    """The materialized ingest loop (states + keyed_upsert + pruned scans)
    and the plan-construction-safe closed-form twin must agree row for row
    — a drift between them means the upsert or the pruning is wrong in a
    way the oracle-vs-oracle symmetry could mask."""
    real = sorted(tuple(r) for r in _census(spark))
    lazy = sorted(tuple(r) for r in _drift_census_lazy(spark, SF).collect())
    assert real == lazy
    assert len(real) == _DRIFT_BATCHES + 1


def test_census_invariants(spark):
    rows = sorted(_census(spark), key=lambda r: r["batch"])
    # each batch ADDS rows (updates replace, news insert)
    totals = [r["rows_total"] for r in rows]
    assert totals == sorted(totals) and len(set(totals)) == len(totals)
    # the rewritten layout keeps pruning after every ingest
    assert all(r["skips_files"] for r in rows)
    # the box keeps gaining the new rows' survivors (update slice leaves,
    # but it is ~1% of orders vs 10% new rows — strictly growing net)
    box = [r["box_rows"] for r in rows]
    assert box == sorted(box)


def test_ingest_observables_artifact(spark):
    """The per-batch ingest elapsed + table bytes land in the state cache
    (host-dependent, so artifact not oracle material) — the RQ7
    observables bench.py reports under vs_baseline.rq7."""
    _census(spark)
    with open(drift_metrics_path(SF)) as fh:
        m = json.load(fh)
    batches = m["batches"]
    assert [b["batch"] for b in batches] == list(range(_DRIFT_BATCHES + 1))
    assert all(b["ingest_s"] > 0 for b in batches)
    # table bytes grow with ingested data (the RQ7 bytes_scanned drift)
    sizes = [b["bytes_table"] for b in batches]
    assert all(s > 0 for s in sizes)
    assert sizes[-1] > sizes[0]
    # box-probe scan counters (RQ7's bytes_scanned observable): pruning
    # holds each batch, and scanned bytes never exceed the table
    for b in batches:
        assert 0 < b["files_scanned"] < b["files_total"]
        assert 0 < b["bytes_scanned"] <= b["bytes_total"]


def test_rq7_bench_block(spark):
    """bench.py's vs_baseline.rq7 mapping: present once the drift cache
    exists, carries our batches + the reference citation, and is marked
    not-comparable (hudi sf16 vs local zorder)."""
    _census(spark)
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from bench import _rq7_vs_baseline

    block = _rq7_vs_baseline(SF)
    assert block is not None
    assert block["comparable"] is False
    assert len(block["batches"]) == _DRIFT_BATCHES + 1
    assert block["reference"]["batch0_mean_s"] == 0.477
    assert _rq7_vs_baseline("/nonexistent/sfX") is None


# --- layout_scoped_upsert_stats ---------------------------------------------


def _scoped(spark):
    return QUERIES["layout_scoped_upsert_stats"].fn(spark, SF).collect()


def test_scoped_census_matches_lazy_twin(spark):
    from lakehouse_sfc_spark.queries.layouts import _scoped_census_lazy

    real = sorted(tuple(r) for r in _scoped(spark))
    lazy = sorted(tuple(r) for r in _scoped_census_lazy(spark, SF).collect())
    assert real == lazy == [tuple(real[0])]  # single census row


def test_scoped_metrics_prove_file_scoping(spark):
    """The scale claim itself: the rewrite touched a strict subset of
    files, untouched files survived byte-identical, and the swap kept
    the sidecar consistent (scan-able post-upsert)."""
    import json
    import os

    from lakehouse_sfc_spark.queries.layouts import _scoped_table_dir

    root = _scoped_table_dir(spark, SF)
    with open(os.path.join(root, "scoped_metrics.json")) as fh:
        m = json.load(fh)
    assert m["scoped"] is True
    assert 0 < m["files_rewritten"] < m["files_before"]
    assert m["files_untouched"] == m["files_before"] - m["files_rewritten"]
    assert m["untouched_preserved"] is True
    assert m["scoped_rewrite"] is True
    assert m["upsert_s"] > 0
    rows = _scoped(spark)
    assert rows[0]["scoped_rewrite"] and rows[0]["untouched_preserved"]
