"""Runner + metric-collector tests: plan-walk scan metrics, inputFiles
bounds, file probe, statement splitting, CSV shape."""

from __future__ import annotations

import csv
import os

import pytest

from lakehouse_sfc_spark.runner import (
    RunResult,
    input_files_bytes,
    plan_scan_metrics,
    probe_files,
    run_one_query,
    run_sql_file,
    split_statements,
    write_results_csv,
)
from lakehouse_sfc_spark.sources.loader import load_table

SF = "/root/testdata/sf0.001"


def test_plan_scan_metrics_counts_files(spark):
    df = load_table(spark, SF, "lineitem").filter("l_quantity > 25")
    df.collect()  # execute THIS dataset's plan so its SQLMetrics populate
    m = plan_scan_metrics(df)
    assert m["scan_nodes"] >= 1
    assert m["files_scanned"] >= 1
    assert m["bytes_scanned"] > 0


def test_input_files_bytes_upper_bound(spark):
    df = load_table(spark, SF, "lineitem")
    m = input_files_bytes(df)
    assert m["n_input_files"] >= 1
    assert m["bytes_input_files"] > 0


def test_probe_files(spark):
    df = load_table(spark, SF, "orders").filter("o_totalprice > 0")
    m = probe_files(df)
    assert m["files_probe"] >= 1
    assert m["bytes_probe"] > 0


def test_file_metrics_decode_uris_under_path_with_space(spark, tmp_path):
    """inputFiles() and input_file_name() return percent-encoded file URIs;
    M2 and M3 must decode them, or a table under a directory whose name has
    a space reports 0 bytes."""
    path = str(tmp_path / "dir with space" / "orders")
    load_table(spark, SF, "orders").repartition(4).write.parquet(path)
    on_disk = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    df = spark.read.parquet(path)
    m2 = input_files_bytes(df)
    assert m2["n_input_files"] == 4
    assert m2["bytes_input_files"] == on_disk > 0
    m3 = probe_files(df)
    assert m3["files_probe"] == 4
    assert m3["bytes_probe"] == on_disk


def test_run_one_query_sql_and_df(spark):
    load_table(spark, SF, "orders").createOrReplaceTempView("orders")
    r = run_one_query(
        spark, "SELECT COUNT(*) AS c FROM orders", name="cnt", action="collect"
    )
    assert r.rows == 1
    assert r.elapsed_s > 0
    assert r.metrics["scan_nodes"] >= 1

    df = load_table(spark, SF, "orders").groupBy("o_orderstatus").count()
    r2 = run_one_query(spark, df, name="grp", action="count", repeat=2)
    assert r2.repeats == 2
    assert r2.rows is not None and r2.rows >= 1


def test_job_group_cleared_after_run(spark):
    load_table(spark, SF, "orders").createOrReplaceTempView("orders")
    run_one_query(spark, "SELECT COUNT(*) AS c FROM orders", name="jg")
    # next job runs without the runner's group; must not raise
    assert spark.sql("SELECT 1").collect()[0][0] == 1


def test_split_statements():
    text = """
    -- a comment; with a semicolon
    CREATE TEMP VIEW v AS SELECT 1 AS x;
    SELECT 'a;b' AS s, x FROM v; /* block; comment */
    SELECT x FROM v
    """
    stmts = split_statements(text)
    assert len(stmts) == 3
    assert stmts[0].lstrip("- achomentwi;\n ").startswith("CREATE") or (
        "CREATE" in stmts[0]
    )
    assert "'a;b'" in stmts[1]


def test_run_sql_file_measures_last_select(spark, tmp_path):
    load_table(spark, SF, "orders").createOrReplaceTempView("orders")
    p = tmp_path / "stream.sql"
    p.write_text(
        "CREATE OR REPLACE TEMP VIEW big AS "
        "SELECT * FROM orders WHERE o_totalprice > 1000;\n"
        "SELECT COUNT(*) AS c FROM big;\n"
    )
    r = run_sql_file(spark, str(p), action="collect")
    assert r.rows == 1
    assert r.query == "stream.sql"


def test_write_results_csv(tmp_path):
    r = RunResult(
        query="q1", elapsed_s=0.5, rows=10, action="count", repeats=1,
        metrics={"files_scanned": 3, "bytes_scanned": 1024},
    )
    path = tmp_path / "results.csv"
    write_results_csv([r], str(path))
    with open(path) as fh:
        rows = list(csv.DictReader(fh))
    assert rows[0]["query"] == "q1"
    assert rows[0]["files_scanned"] == "3"
    assert rows[0]["bytes_scanned"] == "1024"
    assert float(rows[0]["elapsedTime_s"]) == pytest.approx(0.5)
