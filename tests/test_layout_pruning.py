"""Layout + pruning: the reference's correctness-by-invariance strategy made
explicit (SURVEY.md §5): the same query over every layout of the same data
returns identical results, and selective predicates scan fewer files on
SFC layouts than baseline."""

from __future__ import annotations

import datetime
import math
import os

import pytest
from pyspark.sql import functions as F

from lakehouse_sfc_spark.layout import (  # noqa: F401
    build_update_batches_ranged,
    build_update_batches,
    keyed_upsert,
    layout_write,
)
from lakehouse_sfc_spark.sources.loader import load_table
from lakehouse_sfc_spark.table import Pred, SfcTable

SF = "/root/testdata/sf0.001"
LAYOUT_COLS = ["l_shipdate", "l_quantity"]
PREDS = [
    Pred("l_shipdate", "between",
         (datetime.datetime(1996, 1, 1), datetime.datetime(1996, 6, 30))),
    Pred("l_quantity", "between", (10.0, 20.0)),
]


@pytest.fixture(scope="module")
def layout_tables(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("layouts"))
    li = load_table(spark, SF, "lineitem")
    tables = {}
    for layout in ("baseline", "linear", "zorder", "hilbert"):
        path = os.path.join(root, layout)
        tables[layout] = SfcTable.write(
            li, path, layout=layout,
            layout_cols=None if layout == "baseline" else LAYOUT_COLS,
            stats_cols=LAYOUT_COLS, num_files=16,
        )
    return tables


def _result_hash(df):
    rows = sorted(tuple(str(x) for x in r) for r in df.collect())
    return hash(tuple(rows))


def test_layout_invariance(spark, layout_tables):
    """Same data, same query, every layout -> identical results."""
    hashes = {}
    counts = {}
    for layout, tbl in layout_tables.items():
        df = tbl.scan(PREDS)
        hashes[layout] = _result_hash(df)
        counts[layout] = df.count()
    assert len(set(hashes.values())) == 1, f"result divergence: {counts}"


def test_pruned_equals_unpruned(spark, layout_tables):
    from lakehouse_sfc_spark.table.pruning import preds_to_column

    tbl = layout_tables["zorder"]
    pruned = tbl.scan(PREDS).count()
    unpruned = tbl.read().filter(preds_to_column(PREDS)).count()
    assert pruned == unpruned > 0


def test_scan_under_path_with_space(spark, tmp_path):
    """Spark reports input files as percent-encoded URIs; the sidecar must
    hold decoded paths, or a table under a directory whose name has a
    space cannot be scanned (PATH_NOT_FOUND on ``dir%20with%20space``)."""
    from lakehouse_sfc_spark.table.pruning import preds_to_column

    li = load_table(spark, SF, "lineitem")
    tbl = SfcTable.write(
        li, str(tmp_path / "dir with space" / "zorder"), layout="zorder",
        layout_cols=LAYOUT_COLS, num_files=8,
    )
    got = sorted(map(tuple, tbl.scan(PREDS).collect()))
    expect = sorted(map(tuple, li.filter(preds_to_column(PREDS)).collect()))
    assert got == expect and got
    assert tbl.last_scan_metrics["bytes_total"] > 0


def test_estimate_bytes_under_path_with_space(spark, tmp_path):
    """Output sizing reads the input's bytes from inputFiles(), which are
    percent-encoded URIs: undecoded, a table under a directory whose name
    has a space sized to None and fell back to defaultParallelism."""
    from lakehouse_sfc_spark.layout.writer import estimate_bytes, plan_num_files

    path = str(tmp_path / "dir with space" / "lineitem")
    load_table(spark, SF, "lineitem").repartition(4).write.parquet(path)
    on_disk = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    df = spark.read.parquet(path)
    assert estimate_bytes(df) == on_disk > 0
    assert plan_num_files(df, 1) == math.ceil(on_disk / (1024 * 1024))


def test_sfc_layouts_skip_files(spark, layout_tables):
    scanned = {}
    for layout, tbl in layout_tables.items():
        tbl.scan(PREDS).count()
        m = tbl.last_scan_metrics
        assert m["files_total"] == 16
        scanned[layout] = m["files_scanned"]
    # selective 2-dim box: clustered layouts must skip files; baseline won't
    assert scanned["zorder"] < scanned["baseline"]
    assert scanned["hilbert"] < scanned["baseline"]
    assert scanned["linear"] <= scanned["baseline"]
    assert scanned["baseline"] == 16  # random layout: every file may match


def test_empty_pruning_result(spark, layout_tables):
    tbl = layout_tables["zorder"]
    far_future = [Pred("l_shipdate", ">=", datetime.datetime(2050, 1, 1))]
    df = tbl.scan(far_future)
    assert df.count() == 0
    assert tbl.last_scan_metrics["files_scanned"] == 0


def _jobs_in(spark, build):
    """``build()``'s result and the number of Spark jobs it ran, counted by
    ``statusTracker`` under a job group of its own."""
    import uuid

    sc = spark.sparkContext
    gid = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job starts reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def test_pruned_scan_build_runs_no_job(spark, layout_tables):
    """The table's schema is resolved once per table state, so building a
    scan over a survivor set never seen before, or over none, runs no
    Spark job (a per-survivor-set read inferred the schema in one)."""
    from lakehouse_sfc_spark.table import pruning
    from lakehouse_sfc_spark.table.pruning import preds_to_column, prune_files

    tbl = layout_tables["zorder"]
    tbl.scan(PREDS)  # warm-up: resolves this table state's schema
    schema = tbl.read().schema
    sidecar = tbl.sidecar
    unpruned = spark.read.parquet(tbl.path)

    far_future = [Pred("l_shipdate", ">=", datetime.datetime(2050, 1, 1))]
    df, jobs = _jobs_in(spark, lambda: tbl.scan(far_future))
    assert jobs == 0
    assert df.schema == schema
    assert tbl.last_scan_metrics["files_scanned"] == 0 and df.count() == 0

    fresh = 0
    for year in range(1992, 1999):
        for lo in (1.0, 11.0, 26.0, 41.0):
            preds = [
                Pred("l_shipdate", "between", (datetime.datetime(year, 1, 1),
                                               datetime.datetime(year, 9, 30))),
                Pred("l_quantity", "between", (lo, lo + 12.0)),
            ]
            survivors, _ = prune_files(sidecar, preds)
            key = pruning._fingerprint(spark, survivors)
            if not survivors or key in pruning._PRUNED_CACHE:
                continue
            fresh += 1
            df, jobs = _jobs_in(spark, lambda: tbl.scan(preds))
            assert jobs == 0, (year, lo)
            assert df.schema == schema
            assert df.count() == unpruned.filter(preds_to_column(preds)).count()
            assert tbl.scan(preds).count() == df.count()
            base = pruning._PRUNED_CACHE[key]
            assert pruning.sidecar_relation(spark, tbl.path, sidecar, survivors) is base
    assert fresh >= 5


@pytest.fixture(scope="module")
def partitioned_table(spark, tmp_path_factory):
    """A zorder layout hive-partitioned on ``cell`` (the CLI's
    ``--partition-by``): its files sit under ``cell=N/``."""
    li = load_table(spark, SF, "lineitem").withColumn(
        "cell", (F.col("l_orderkey") % 3).cast("int")
    )
    path = str(tmp_path_factory.mktemp("partitioned") / "zorder")
    return SfcTable.write(
        li, path, layout="zorder", layout_cols=LAYOUT_COLS,
        partition_by=["cell"], num_files=4,
    )


def test_pruned_scan_keeps_partition_columns(spark, partitioned_table):
    from lakehouse_sfc_spark.table.pruning import preds_to_column

    tbl = partitioned_table
    cols = tbl.read().columns
    assert cols[-1] == "cell"
    far_future = [Pred("l_shipdate", ">=", datetime.datetime(2050, 1, 1))]
    assert tbl.scan(far_future).columns == cols
    assert tbl.scan(PREDS).columns == cols
    assert tbl.last_scan_metrics["files_scanned"] > 0
    on_cell = PREDS + [Pred("cell", "==", 1)]
    want = spark.read.parquet(tbl.path).filter(preds_to_column(on_cell)).count()
    assert tbl.scan(on_cell).count() == want > 0


def _rows(df):
    return sorted(tuple(str(x) for x in r) for r in df.collect())


def test_partitioned_read_equals_directory_read(spark, partitioned_table):
    from lakehouse_sfc_spark.table import pruning

    got = partitioned_table.read()
    want = spark.read.parquet(partitioned_table.path)
    # served from the sidecar manifest, not the directory read
    assert any(got is df for df in pruning._PRUNED_CACHE.values())
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def test_eq_and_in_pruning(spark, layout_tables):
    tbl = layout_tables["zorder"]
    df = tbl.scan([Pred("l_quantity", "==", 25.0)])
    assert df.count() > 0
    assert df.filter(F.col("l_quantity") != 25.0).count() == 0
    df2 = tbl.scan([Pred("l_quantity", "in", [1.0, 50.0])])
    assert df2.count() > 0


def test_target_file_size_sizing(spark, tmp_path_factory):
    li = load_table(spark, SF, "lineitem")
    out = str(tmp_path_factory.mktemp("sizing") / "t")
    res = layout_write(li, out, layout="zorder", layout_cols=["l_quantity"],
                       target_file_mb=1)
    n_files = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    # sf0.001 lineitem is < 1 MB -> one file
    assert res["planned_files"] == n_files == 1


def test_keyed_upsert_latest_wins(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("upsert"))
    base_path = os.path.join(root, "t")
    ev = load_table(spark, SF, "events")
    layout_write(ev, base_path, layout="baseline", stats_cols=["ts"])

    # batch: bump value for 10 known event_ids + 5 brand-new rows
    upd = (
        ev.limit(10)
        .withColumn("value", F.lit(9999.0))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1000 DAYS"))
    )
    new = (
        ev.limit(5)
        .withColumn("event_id", F.col("event_id") + 10_000_000)
    )
    batch = upd.unionByName(new)
    before = ev.count()

    keyed_upsert(base_path, batch, ["event_id"], "ts")
    after = spark.read.parquet(base_path)
    assert after.count() == before + 5
    assert after.filter(F.col("value") == 9999.0).count() == 10


def test_upsert_schema_alignment(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("align"))
    base_path = os.path.join(root, "t")
    ev = load_table(spark, SF, "events")
    layout_write(ev, base_path, layout="baseline", stats_cols=["ts"])
    # batch missing columns + an extra one + int-typed value
    batch = (
        ev.limit(3)
        .select(
            (F.col("event_id") + 20_000_000).alias("event_id"),
            "ts",
            "user_id",
            F.lit(7).alias("value"),          # int -> must cast to double
            F.lit("x").alias("extra_col"),    # must be dropped
        )
    )
    keyed_upsert(base_path, batch, ["event_id"], "ts")
    after = spark.read.parquet(base_path)
    assert "extra_col" not in after.columns
    added = after.filter(F.col("event_id") >= 20_000_000)
    assert added.count() == 3
    assert added.filter(F.col("event_type").isNull()).count() == 3


def test_build_update_batches(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("batches"))
    o = load_table(spark, SF, "orders")
    paths = build_update_batches(o, out, 4)
    sizes = [spark.read.parquet(p).count() for p in paths]
    assert sum(sizes) == o.count()
    assert max(sizes) - min(sizes) <= 1  # ntile equal split
    # batches are disjoint
    total_distinct = (
        spark.read.parquet(*paths).select("o_orderkey").distinct().count()
    )
    assert total_distinct == o.count()


def test_build_update_batches_ranged_equivalence(spark, tmp_path_factory):
    """The distributed split honors the exact ntile size contract and
    partitions the input — without any single-partition exchange."""
    from lakehouse_sfc_spark.layout.upsert import _ranged_batch_assignment

    out = str(tmp_path_factory.mktemp("batches_ranged"))
    o = load_table(spark, SF, "orders")
    n = 4
    paths = build_update_batches_ranged(o, out, n)
    sizes = [spark.read.parquet(p).count() for p in paths]
    total = o.count()
    assert sum(sizes) == total
    assert max(sizes) - min(sizes) <= 1  # ntile equal split
    q, rem = divmod(total, n)
    assert sorted(sizes, reverse=True) == [q + 1] * rem + [q] * (n - rem)
    # batches are disjoint and cover the input
    union = spark.read.parquet(*paths)
    assert union.select("o_orderkey").distinct().count() == total
    assert sorted(union.columns) == sorted(o.columns)

    # plan guard: no single-task global sort anywhere in the assignment plan
    assigned = _ranged_batch_assignment(o, n, seed=42, n_buckets=8)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


# --- Bloom-filter file skipping ---------------------------------------------


def test_bloom_filter_basics():
    from lakehouse_sfc_spark.layout.bloom import (
        bloom_build,
        bloom_may_contain,
        bloom_params,
    )

    vals = list(range(0, 2000, 2))  # even keys
    b = bloom_build(vals, fpp=0.01)
    # no false negatives, ever
    assert all(bloom_may_contain(b, v) for v in vals)
    # false-positive rate on absent (odd) keys stays near target
    fp = sum(bloom_may_contain(b, v) for v in range(1, 2000, 2))
    assert fp / 1000 < 0.05, fp
    # sizing: m grows with n, k >= 1
    m1, k1 = bloom_params(100, 0.01)
    m2, k2 = bloom_params(10_000, 0.01)
    assert m2 > m1 and k1 >= 1 and k2 >= 1
    # build/probe agree across int/float canonical forms
    b2 = bloom_build([5, 7.5, "x"])
    assert bloom_may_contain(b2, 5.0) and bloom_may_contain(b2, 7.5)
    assert bloom_may_contain(b2, "x")


def test_bloom_scan_prunes_hashed_files(spark, tmp_path):
    """Hash-clustered table: min/max spans the domain in every file (no
    range pruning possible), but the per-file Bloom prunes an IN-probe of K
    keys to a handful of files."""
    from lakehouse_sfc_spark.layout.stats import read_sidecar
    from lakehouse_sfc_spark.sources.loader import load_table
    from lakehouse_sfc_spark.table import Pred, SfcTable

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    path = str(tmp_path / "hashed_bloom")
    tbl = SfcTable.write(
        li,
        path,
        layout="hashed",
        layout_cols=["l_orderkey"],
        stats_cols=["l_orderkey"],
        bloom_cols=["l_orderkey"],
        num_files=16,
    )
    sidecar = read_sidecar(path)
    assert sidecar["bloom_columns"] == ["l_orderkey"]
    assert all("blooms" in f for f in sidecar["files"].values())

    keys = [r[0] for r in li.select("l_orderkey").distinct().limit(3).collect()]
    got = tbl.scan([Pred("l_orderkey", "in", keys)])
    expect = li.filter(F.col("l_orderkey").isin(keys))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect()))
    m = tbl.last_scan_metrics
    # each key lives in exactly one file; 3 keys + fpp stragglers << 16
    assert m["files_scanned"] <= 6, m
    assert m["files_total"] == 16, m

    # a key that exists in no file prunes to zero files
    tbl.scan([Pred("l_orderkey", "==", 10**12)])
    assert tbl.last_scan_metrics["files_scanned"] == 0


def test_scoped_upsert_preserves_blooms(spark, tmp_path):
    """Rewritten files must carry the table's Bloom indexes — otherwise
    point-probe pruning silently degrades after every upsert."""
    from lakehouse_sfc_spark.layout.stats import read_sidecar
    from lakehouse_sfc_spark.layout.upsert import scoped_upsert
    from lakehouse_sfc_spark.sources.loader import load_table
    from lakehouse_sfc_spark.table import Pred, SfcTable

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    path = str(tmp_path / "bloom_upsert")
    SfcTable.write(
        li, path,
        layout="hashed", layout_cols=["l_orderkey"],
        stats_cols=["l_orderkey"], bloom_cols=["l_orderkey"],
        num_files=8,
    )
    key = li.select("l_orderkey").distinct().limit(1).collect()[0][0]
    batch = li.filter(F.col("l_orderkey") == key).withColumn(
        "l_quantity", F.col("l_quantity") + 1000
    )
    res = scoped_upsert(
        path, batch, ["l_orderkey"], "l_extendedprice",
        layout="hashed", layout_cols=["l_orderkey"],
    )
    assert res["scoped"] is True
    assert res["files_rewritten"] >= 1

    sidecar = read_sidecar(path)
    assert sidecar["bloom_columns"] == ["l_orderkey"]
    assert all("blooms" in f for f in sidecar["files"].values()), (
        "rewritten files lost their Bloom filters"
    )
    tbl = SfcTable(spark, path)
    rows = tbl.scan([Pred("l_orderkey", "==", key)]).collect()
    assert rows and all(r["l_quantity"] > 1000 for r in rows)
    assert tbl.last_scan_metrics["files_scanned"] < len(sidecar["files"])


def test_kdtree_layout_prunes_box_predicates(spark):
    """The median-adaptive kd layout must produce per-file stats that
    actually prune the standard box predicate (fewer survivor files than
    total), and the pruned scan must equal the plain filter."""
    import datetime

    from lakehouse_sfc_spark.queries.layouts import (
        _PREDS,
        _layout_table,
    )

    from lakehouse_sfc_spark.layout.stats import read_sidecar

    tbl = _layout_table(spark, "/root/testdata/sf0.001", "kdtree")
    sidecar = read_sidecar(tbl.path)
    total = len(sidecar["files"])
    from lakehouse_sfc_spark.table.pruning import prune_files

    keep, _ = prune_files(sidecar, _PREDS)
    assert total >= 8
    assert len(keep) < total, (
        f"kd layout pruned nothing ({len(keep)}/{total} files survive)"
    )
    got = tbl.scan(_PREDS).count()
    from lakehouse_sfc_spark.sources.loader import load_table
    import pyspark.sql.functions as F

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    want = li.filter(
        F.col("l_shipdate").between("1996-01-01", "1997-06-30")
        & F.col("l_quantity").between(10.0, 30.0)
    ).count()
    assert got == want


def test_kdtree_date_column_splits_and_string_refuses(spark, tmp_path):
    """DATE clustering columns (the most common case) must split cells via
    the epoch-days surrogate — a blind cast("double") yields all-NULL
    medians and silently collapses the write into ONE file.  String
    columns must refuse loudly instead of degrading the same way."""
    import pytest

    from lakehouse_sfc_spark.layout.writer import _kdtree_cells, layout_write
    from lakehouse_sfc_spark.sources.loader import load_table

    li = (
        load_table(spark, "/root/testdata/sf0.001", "lineitem")
        .select(F.col("l_shipdate").cast("date").alias("d"), "l_quantity")
    )
    cells = _kdtree_cells(li, ["d"], 8)
    # 8 target cells from a date column: the medians were real, so the
    # range partitioning spreads rows over >1 partition
    assert cells.rdd.getNumPartitions() > 1
    parts = (
        cells.withColumn("p", F.spark_partition_id())
        .groupBy("p").count().count()
    )
    assert parts > 1, "date kd split collapsed into a single partition"

    with pytest.raises(ValueError, match="l_returnflag.*string"):
        layout_write(
            load_table(spark, "/root/testdata/sf0.001", "lineitem"),
            str(tmp_path / "kd_str"),
            layout="kdtree",
            layout_cols=["l_returnflag"],
            num_files=4,
        )


def test_layout_skipping_stats_census(spark):
    """The driver-visible layout-effectiveness census (r10 verdict task 6):
    every SFC layout skips files for the contract box, never scans more
    files than baseline, and the pruned box counts agree across layouts
    (the invariance the census exists to watch)."""
    from lakehouse_sfc_spark.queries.layouts import layout_skipping_stats

    rows = {r["layout"]: r for r in layout_skipping_stats(spark, SF).collect()}
    assert set(rows) == {"baseline", "hilbert", "linear", "zorder"}
    box_counts = {r["box_rows"] for r in rows.values()}
    assert len(box_counts) == 1, f"box_rows diverged across layouts: {rows}"
    for layout, r in rows.items():
        assert r["files_total"] == 16
        assert r["le_baseline"] is True, (layout, r)
        if layout == "baseline":
            assert r["skips_files"] is None
        else:
            assert r["skips_files"] is True, (
                f"{layout} scanned all files for the selective box — "
                f"pruning regression"
            )
