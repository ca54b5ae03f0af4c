"""Stats sidecar format: keys are file paths relative to the table
directory, so a table survives ``mv`` and ``cp -r``; sidecars written by
older code (absolute, percent-encoded ``file:`` URIs) still prune; and a
crash while the sidecar is being written leaves the previous one in
force."""

from __future__ import annotations

import datetime
import json
import os
import shutil

import pytest

from lakehouse_sfc_spark.layout import stats
from lakehouse_sfc_spark.layout.stats import read_sidecar
from lakehouse_sfc_spark.layout.upsert import scoped_upsert
from lakehouse_sfc_spark.layout.writer import compact
from lakehouse_sfc_spark.sources.loader import load_table
from lakehouse_sfc_spark.table import Pred, SfcTable
from tests.conftest import SF_SMALL as SF

LAYOUT_COLS = ["l_shipdate", "l_quantity"]
PREDS = [
    Pred("l_shipdate", "between",
         (datetime.datetime(1996, 1, 1), datetime.datetime(1996, 6, 30))),
    Pred("l_quantity", "between", (10.0, 20.0)),
]
METRICS = ("files_total", "files_scanned", "bytes_total", "bytes_scanned")


def _write(spark, path: str) -> SfcTable:
    li = load_table(spark, SF, "lineitem")
    return SfcTable.write(
        li, path, layout="zorder", layout_cols=LAYOUT_COLS,
        stats_cols=LAYOUT_COLS + ["l_orderkey"], num_files=8,
    )


def _scan(tbl: SfcTable) -> tuple[list, dict]:
    rows = sorted(map(tuple, tbl.scan(PREDS).collect()))
    return rows, {k: tbl.last_scan_metrics[k] for k in METRICS}


def _raw_keys(path) -> list[str]:
    with open(os.path.join(path, stats.SIDECAR_NAME)) as fh:
        text = fh.read()
    assert "file:" not in text
    return list(json.loads(text)["files"])


def test_moved_and_copied_table_scans_the_same(spark, tmp_path):
    src = tmp_path / "src"
    rows, metrics = _scan(_write(spark, str(src)))
    assert rows and metrics["files_scanned"] < metrics["files_total"]

    moved, copy = tmp_path / "moved", tmp_path / "copy"
    os.rename(src, moved)
    shutil.copytree(moved, copy)
    for p in (moved, copy):
        assert _scan(SfcTable(spark, str(p))) == (rows, metrics), p

    # the copy names only its own files, and still scans with the
    # original gone
    assert all(f.startswith(f"{copy}{os.sep}") for f in read_sidecar(copy)["files"])
    shutil.rmtree(moved)
    assert _scan(SfcTable(spark, str(copy))) == (rows, metrics)
    assert SfcTable(spark, str(copy)).read().count() == load_table(
        spark, SF, "lineitem"
    ).count()


def test_old_format_sidecar_still_prunes(spark, tmp_path):
    """A sidecar keyed the old way — absolute ``file:`` URIs with
    percent-encoding — resolves to the same files and prunes the same."""
    path = tmp_path / "old format"
    tbl = _write(spark, str(path))
    expect = _scan(tbl)
    sidecar_path = path / stats.SIDECAR_NAME
    side = json.loads(sidecar_path.read_text())
    side["files"] = {
        (path / f).as_uri(): info for f, info in side["files"].items()
    }
    assert all("%20" in u for u in side["files"])
    sidecar_path.write_text(json.dumps(side))

    assert _scan(SfcTable(spark, str(path))) == expect
    assert all(os.path.isfile(f) for f in read_sidecar(path)["files"])


def test_written_sidecars_hold_relative_keys(spark, tmp_path):
    """Every sidecar writer — layout write, scoped upsert, compaction —
    stores relative keys."""
    path = str(tmp_path / "orders")
    orders = load_table(spark, SF, "orders").limit(400)
    kw = dict(layout="linear", layout_cols=["o_orderkey"])
    SfcTable.write(orders, path, num_files=4, stats_cols=["o_orderkey"], **kw)
    assert not any(os.path.isabs(k) for k in _raw_keys(path))

    lo = orders.agg({"o_orderkey": "min"}).collect()[0][0]
    batch = orders.filter(orders.o_orderkey <= lo + 5)
    res = scoped_upsert(path, batch, ["o_orderkey"], "o_totalprice", **kw)
    assert res["scoped"] is True and res["files_new"] >= 1
    keys = _raw_keys(path)
    assert not any(os.path.isabs(k) for k in keys)
    assert any(k.startswith("upsert-") for k in keys)

    compact(spark, path, num_files=2, stats_cols=["o_orderkey"], **kw)
    keys = _raw_keys(path)
    assert len(keys) == 2 and not any(os.path.isabs(k) for k in keys)


def test_crash_mid_sidecar_write_keeps_previous(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    tbl = _write(spark, path)
    n_rows = load_table(spark, SF, "lineitem").count()
    before_sidecar = read_sidecar(path)
    before_scan = _scan(tbl)
    before_listing = sorted(os.listdir(path))
    seen = {}

    def torn_dump(obj, fp, **kwargs):
        monkeypatch.undo()  # the readers below run with the real json.dump
        fp.write(json.dumps(obj, default=str)[:200])
        fp.flush()
        # the crash point: a half-written temp file sits in the table dir
        seen["temp"] = sorted(set(os.listdir(path)) - set(before_listing))
        seen["parquet_rows"] = spark.read.parquet(path).count()
        seen["read_rows"] = SfcTable(spark, path).read().count()
        seen["sidecar"] = read_sidecar(path)
        raise OSError("simulated crash mid-write")

    monkeypatch.setattr(stats.json, "dump", torn_dump)
    with pytest.raises(OSError, match="simulated crash"):
        stats.collect_file_stats(spark, path, ["l_orderkey"])

    assert seen["temp"] and all(f.startswith(".") for f in seen["temp"])
    assert seen["parquet_rows"] == seen["read_rows"] == n_rows
    assert seen["sidecar"] == before_sidecar
    assert read_sidecar(path) == before_sidecar
    assert sorted(os.listdir(path)) == before_listing
    assert _scan(SfcTable(spark, path)) == before_scan
    assert SfcTable(spark, path).read().count() == n_rows
