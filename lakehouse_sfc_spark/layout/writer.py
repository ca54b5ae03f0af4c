"""Layout writer: baseline | linear | zorder | hilbert parquet writes with
target-file-size control and a per-file min/max stats sidecar.

This collapses the reference's three engine-specific write paths into one
deterministic DataFrame transform (SURVEY.md §1.4):
- Delta:   delta_write_layout.py:165-219 (repartitionByRange + sort, then
           OPTIMIZE ZORDER)
- Iceberg: iceberg_write_layout.py:184-265 (CTAS + rewrite_data_files zorder)
- Hudi:    hudi_write_layout.py:157-228 (bulk_insert + clustering strategy)

Spark-first shape: ``repartitionByRange`` on the curve key gives
range-disjoint files (each file owns a contiguous key span — exactly what
min/max file skipping needs), ``sortWithinPartitions`` tightens per-file
column ranges, and the file count is sized from input bytes / target file
size so output files land near the 128 MB clustering target the reference
uses (hudi_write_layout.py:118-121).
"""

from __future__ import annotations

import math
import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_sfc_spark.layout.stats import collect_file_stats, local_path
from lakehouse_sfc_spark.sfc.keys import add_sfc_key

LAYOUTS = ("baseline", "hashed", "linear", "zorder", "hilbert", "kdtree")

_LAYOUT_ALIASES = {
    # Hudi spelling normalization (tpch_all_loader.py:117-122)
    "no_layout": "baseline",
    "z-order": "zorder",
}


def estimate_bytes(df: DataFrame) -> int | None:
    """Input size from the scan's files; None when the plan has no file
    source (e.g. in-memory ranges)."""
    total = 0
    files = df.inputFiles()
    if not files:
        return None
    for f in files:
        if urlparse(f).scheme not in ("file", ""):
            return None  # non-local FS: caller should pass num_files
        try:
            total += os.path.getsize(local_path(f))
        except OSError:
            return None
    return total


def plan_num_files(df: DataFrame, target_file_mb: int) -> int:
    nbytes = estimate_bytes(df)
    if nbytes is None:
        return df.sparkSession.sparkContext.defaultParallelism
    return max(1, math.ceil(nbytes / (target_file_mb * 1024 * 1024)))


def _kdtree_cells(df: DataFrame, layout_cols: list[str], n: int) -> DataFrame:
    """Median-adaptive kd clustering (the Delta 'liquid clustering' /
    kd-tree shape): split on the MEDIAN of the first layout column, then
    within each half on the median of the next (cycling), depth =
    ceil(log2(n)).  Unlike the fixed-grid SFC layouts, cell boundaries
    adapt to the data distribution — skewed columns still yield balanced,
    DISJOINT per-file bounding boxes, so the min/max sidecar prunes box
    predicates tightly with no curve-order interleaving loss.

    Plan shape: per level ONE tiny aggregate (a median per current cell —
    ≤ 2^level rows) broadcast back onto the data; the data relation
    shuffles once at the end (range partition on the final cell id).  At
    100 TB each level is a map-side pass + a 1-row-per-cell broadcast —
    the same scale discipline as the power-iteration broadcasts."""
    depth = max(1, (n - 1).bit_length())
    out = df.withColumn("_kd", F.lit(0))

    # Exact names, not prefixes: startswith("int") would also match
    # "interval day to second" / "interval year to month", silently
    # routing interval columns around the loud-refusal path below.
    _NUMERIC_EXACT = {
        "tinyint", "smallint", "int", "bigint", "float", "double",
    }

    def _ordered(c: str):
        # percentile() wants numerics; timestamps/dates order identically
        # through an epoch surrogate (split POSITION is all that matters).
        # Anything else (string, binary, ...) must refuse LOUDLY: a blind
        # cast("double") yields all-NULL medians, no cell ever splits, and
        # repartitionByRange on the constant _kd silently collapses the
        # whole write into ONE file — a scale/pruning degradation worse
        # than the error.
        t = dict(df.dtypes)[c]
        col = F.col(c)
        if t.startswith("timestamp"):
            return col.cast("timestamp_ltz").cast("double")
        if t == "date":
            return F.datediff(col, F.lit("1970-01-01")).cast("double")
        if t == "boolean":
            return col.cast("double")
        if t not in _NUMERIC_EXACT and not t.startswith("decimal"):
            raise ValueError(
                f"kdtree layout column {c!r} has non-orderable-as-double "
                f"dtype {t!r}; use a numeric/timestamp/date column or "
                "pre-derive a numeric surrogate (e.g. a hash or key prefix)"
            )
        return col.cast("double")

    for level in range(depth):
        col = layout_cols[level % len(layout_cols)]
        surrogate = _ordered(col)
        med = out.groupBy("_kd").agg(
            F.percentile(surrogate, F.lit(0.5)).alias("_kd_med")
        )
        out = (
            out.join(F.broadcast(med), "_kd")
            .withColumn(
                "_kd",
                F.col("_kd") * 2
                + F.when(surrogate > F.col("_kd_med"), 1).otherwise(0),
            )
            .drop("_kd_med")
        )
    return (
        out.repartitionByRange(n, F.col("_kd"))
        .sortWithinPartitions(*layout_cols)
        .drop("_kd")
    )


def layout_write(
    df: DataFrame,
    path: str,
    layout: str = "baseline",
    layout_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    target_file_mb: int = 128,
    num_files: int | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bits: int | None = None,
    cell_mode: str = "minmax",
    mode: str = "overwrite",
) -> dict:
    """Write ``df`` to ``path`` with the requested physical layout and collect
    the stats sidecar.  Returns a summary dict (layout, files, stats path)."""
    layout = _LAYOUT_ALIASES.get(layout, layout)
    if layout not in LAYOUTS:
        raise ValueError(f"layout must be one of {LAYOUTS}, got {layout!r}")
    if layout not in ("baseline",) and not layout_cols:
        raise ValueError(f"layout {layout!r} requires layout_cols")
    if partition_by and layout in ("zorder", "hilbert"):
        # Z-order cols must exclude partition cols (delta_write_layout.py:267-272)
        overlap = set(partition_by) & set(layout_cols or [])
        if overlap:
            raise ValueError(f"layout cols {overlap} cannot also be partition cols")

    n = num_files or plan_num_files(df, target_file_mb)

    if layout == "baseline":
        out = df.repartition(n)
    elif layout == "hashed":
        # hash-cluster on the key columns: each key lands in exactly ONE
        # file, which is what makes per-file Bloom filters prune point
        # probes to a single file (min/max is useless here — every file's
        # range spans the domain)
        out = df.repartition(n, *layout_cols)
    elif layout == "linear":
        # lexicographic clustering: range partition + in-partition sort on the
        # raw columns (delta_write_layout.py:165-181)
        out = df.repartitionByRange(n, *layout_cols).sortWithinPartitions(
            *layout_cols
        )
    elif layout == "kdtree":
        out = _kdtree_cells(df, layout_cols, n)
    else:
        keyed = add_sfc_key(
            df, layout_cols, curve=layout, bits=bits, mode=cell_mode
        )
        out = (
            keyed.repartitionByRange(n, F.col("_sfc"))
            .sortWithinPartitions("_sfc")
            .drop("_sfc")
        )

    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)

    stats_cols = stats_cols or layout_cols or []
    if bloom_cols:
        stats_cols = list(dict.fromkeys(list(stats_cols) + list(bloom_cols)))
    sidecar = None
    if stats_cols:
        sidecar = collect_file_stats(
            df.sparkSession, path, stats_cols, bloom_cols=bloom_cols
        )
    return {
        "layout": layout,
        "path": path,
        "planned_files": n,
        "stats_cols": stats_cols,
        "sidecar": sidecar,
    }


def bucketed_write(
    df: DataFrame,
    table: str,
    n_buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    location: str | None = None,
) -> str:
    """Write ``df`` as a bucketed (+ optionally sorted) catalog table.
    ``location`` makes it an EXTERNAL table at that path — use it when the
    session's warehouse dir (defaults to the process cwd) may not be
    writable.

    Bucketing is the co-located-join layout: two tables bucketed on the same
    key with the same bucket count join WITHOUT a shuffle — each task reads
    matching bucket files from both sides.  At 100 TB this removes the
    dominant exchange from repeated fact⋈fact joins (e.g. lineitem⋈orders
    on orderkey); the write pays one clustering shuffle, amortized over
    every subsequent join.  ``sortBy`` additionally pre-sorts bucket files
    so sort-merge joins skip their sort.

    Plain parquet ``save(path)`` cannot carry bucket metadata — bucketed
    tables live in the session catalog (``saveAsTable``), which is why this
    is a separate entry point from ``layout_write``.
    """
    writer = df.write.mode(mode).format("parquet").bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if location:
        writer = writer.option("path", location)
    writer.saveAsTable(table)
    return table


def compact(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    layout: str = "baseline",
    layout_cols: list[str] | None = None,
    stats_cols: list[str] | None = None,
    **write_kwargs,
) -> dict:
    """Compaction = rewrite with the file count re-sized from the table's
    CURRENT bytes (reference parity: Delta ``executeCompaction``
    delta_write_layout.py:201, Iceberg binpack ``target-file-size-bytes``
    iceberg_write_layout.py:215-224, Hudi small-file limit
    hudi_write_layout.py:192-194).  Preserves the requested layout — small
    upsert-scattered files collapse back into target-sized, key-clustered
    ones."""
    import shutil

    df = spark.read.parquet(path)
    before = len(df.inputFiles())
    tmp = path.rstrip("/") + ".__compact_tmp"
    result = layout_write(
        df,
        tmp,
        layout=layout,
        layout_cols=layout_cols,
        target_file_mb=target_file_mb,
        stats_cols=stats_cols,
        **write_kwargs,
    )
    shutil.rmtree(path)
    os.rename(tmp, path)
    result["path"] = path
    result["sidecar"] = result["sidecar"] and os.path.join(
        path, os.path.basename(result["sidecar"])
    )
    result["files_before"] = before
    result["files_after"] = len(spark.read.parquet(path).inputFiles())
    return result
