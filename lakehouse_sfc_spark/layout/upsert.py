"""Keyed upsert (Hudi COW semantics, natively) + incremental batch builder.

- ``keyed_upsert``: base ∪ batch → latest-wins per record key by precombine
  field → rewrite.  Mirrors Hudi ``OverwriteWithLatestAvroPayload``
  (hudi_upsert.py:169-283; precombine dedup at :259) as a window dedup —
  one shuffle on the record key.  Incoming batches are schema-aligned the
  same way (cast / add-null / reorder, hudi_upsert.py:114-147).
- ``build_update_batches``: shuffle a dataset into N parquet batches for
  incremental-ingest experiments (build_tpch_update_batches.py:61-74).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lakehouse_sfc_spark.layout.writer import layout_write
from lakehouse_sfc_spark.sources.loader import materialize_once


def align_schema(batch: DataFrame, target: DataFrame) -> DataFrame:
    """Cast/reorder batch columns to the target schema; missing columns are
    null-filled; extra columns dropped (hudi_upsert.py:114-147)."""
    target_fields = {f.name: f.dataType for f in target.schema.fields}
    cols = []
    batch_cols = set(batch.columns)
    for f in target.schema.fields:
        if f.name in batch_cols:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return batch.select(*cols)


def dedup_latest(
    df: DataFrame, record_keys: list[str], precombine: str
) -> DataFrame:
    """Keep the row with max(precombine) per record key (ties broken
    deterministically by all columns)."""
    order = [F.desc(precombine)] + [
        F.desc(c) for c in df.columns if c != precombine
    ]
    w = Window.partitionBy(*record_keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def keyed_upsert(
    base_path: str,
    batch: DataFrame,
    record_keys: list[str],
    precombine: str,
    layout: str = "baseline",
    layout_cols: list[str] | None = None,
    **write_kwargs,
) -> dict:
    """COW upsert: read base, union the aligned batch, window-dedup, rewrite
    with the table's layout.  v1 rewrites the whole table (the reference's
    WHERE-scoped OPTIMIZE maps to partition-scoped rewrite later)."""
    spark = batch.sparkSession
    base = spark.read.parquet(base_path)
    aligned = align_schema(batch, base)
    merged = dedup_latest(base.unionByName(aligned), record_keys, precombine)
    # Rewrite to a sibling temp dir, then swap — parquet sources cannot
    # overwrite a path they are reading.
    tmp = base_path.rstrip("/") + ".__upsert_tmp"
    result = layout_write(
        merged, tmp, layout=layout, layout_cols=layout_cols, **write_kwargs
    )
    import shutil

    shutil.rmtree(base_path)
    os.rename(tmp, base_path)
    result["path"] = base_path
    return result


def scoped_upsert(
    base_path: str,
    batch: DataFrame,
    record_keys: list[str],
    precombine: str,
    layout: str = "baseline",
    layout_cols: list[str] | None = None,
    **write_kwargs,
) -> dict:
    """File-scoped COW upsert: only files whose record-key min/max ranges
    overlap the batch's key bounds are read, merged, and rewritten; every
    other file — and its sidecar stats entry — survives untouched.

    This is the scale path the reference reaches via WHERE-scoped OPTIMIZE
    (delta_write_layout.py:137,201-203) and Hudi's partition-path upsert
    scoping: cost is O(overlapping files + batch), not O(table).  Requires
    the sidecar to carry stats for the record-key columns (pass
    ``stats_cols=record_keys + layout_cols`` at write time); falls back to
    the full-table ``keyed_upsert`` when it doesn't.
    """
    from lakehouse_sfc_spark.layout.stats import read_sidecar, write_sidecar
    from lakehouse_sfc_spark.table.pruning import Pred, prune_files, sidecar_relation

    spark = batch.sparkSession
    sidecar = read_sidecar(base_path)
    if sidecar is None or not set(record_keys) <= set(sidecar["columns"]):
        result = keyed_upsert(
            base_path, batch, record_keys, precombine, layout, layout_cols,
            **write_kwargs,
        )
        result["scoped"] = False
        return result

    # Key-range bounds always; exact key set too when the batch is narrow.
    # A sparse batch (few keys spread across the table) would overlap almost
    # every file by range — the IN-set prunes to files that contain an
    # ACTUAL batch key, at the cost of one small distinct per key column.
    _KEYSET_CAP = 10_000
    bounds = batch.agg(
        *[F.min(k).alias(f"lo_{k}") for k in record_keys],
        *[F.max(k).alias(f"hi_{k}") for k in record_keys],
        F.approx_count_distinct(record_keys[0]).alias("nk"),
    ).collect()[0]
    preds = [
        Pred(k, "between", (bounds[f"lo_{k}"], bounds[f"hi_{k}"]))
        for k in record_keys
    ]
    if bounds["nk"] <= _KEYSET_CAP:
        for k in record_keys:
            keys = [r[0] for r in batch.select(k).distinct().collect()]
            if len(keys) <= _KEYSET_CAP:
                preds.append(Pred(k, "in", keys))
    affected, _ = prune_files(sidecar, preds)
    affected_set = set(affected)
    untouched = [f for f in sidecar["files"] if f not in affected_set]

    # the affected files (maybe none) read with the table's schema, which
    # is resolved once per table state: no inference job per upsert
    base = sidecar_relation(spark, base_path, sidecar, affected)
    merged = dedup_latest(
        base.unionByName(align_schema(batch, base)), record_keys, precombine
    )

    tmp = base_path.rstrip("/") + ".__scoped_tmp"
    stats_cols = write_kwargs.pop(
        "stats_cols", list(sidecar["columns"])
    )
    # preserve the table's Bloom indexes: rewritten files must carry the
    # same per-file filters as the ones they replace, or point-probe
    # pruning silently degrades after every upsert
    bloom_cols = write_kwargs.pop(
        "bloom_cols", sidecar.get("bloom_columns")
    )
    layout_write(
        merged, tmp, layout=layout, layout_cols=layout_cols,
        stats_cols=stats_cols, bloom_cols=bloom_cols, **write_kwargs,
    )
    tmp_sidecar = read_sidecar(tmp)

    # Swap: drop rewritten files, move new ones in, merge sidecars.
    # The swap is LOCAL-FS ONLY (os.remove/os.rename), like the sidecar
    # itself: on an object store there is no atomic rename, and the
    # equivalent move is write-new + sidecar-commit + delete-old — i.e. the
    # sidecar becomes the commit point (exactly how Delta/Iceberg turn a
    # file swap into a metadata swap).
    for f in affected:
        os.remove(f)
    new_files = {}
    for i, (src, info) in enumerate(sorted(tmp_sidecar["files"].items())):
        dst = os.path.join(base_path, f"upsert-{abs(hash(src)) % 10**8}-{i}.parquet")
        os.rename(src, dst)
        new_files[dst] = info
    import shutil

    shutil.rmtree(tmp)
    merged_sidecar = {
        "columns": sidecar["columns"],
        "files": {
            **{f: sidecar["files"][f] for f in untouched},
            **new_files,
        },
    }
    if bloom_cols:
        merged_sidecar["bloom_columns"] = list(bloom_cols)
    write_sidecar(base_path, merged_sidecar)
    return {
        "scoped": True,
        "path": base_path,
        "files_rewritten": len(affected),
        "files_untouched": len(untouched),
        "files_new": len(new_files),
    }


def build_update_batches(
    df: DataFrame, out_dir: str, n_batches: int, seed: int = 42
) -> list[str]:
    """Shuffle into N equal batches batch_01..batch_NN
    (build_tpch_update_batches.py:61-74, verbatim semantics: ntile over
    rand(seed))."""
    w = Window.orderBy(F.rand(seed))
    batched = df.withColumn("__batch", F.ntile(n_batches).over(w))
    paths = []
    for i in range(1, n_batches + 1):
        p = os.path.join(out_dir, f"batch_{i:02d}")
        batched.filter(F.col("__batch") == i).drop("__batch").write.mode(
            "overwrite"
        ).parquet(p)
        paths.append(p)
    return paths


def _ranged_batch_assignment(
    df: DataFrame, n_batches: int, seed: int, n_buckets: int
) -> DataFrame:
    """Distributed ntile: assign every row a batch 1..n_batches with exactly
    the ntile size contract (first ``total % n`` batches get one extra row)
    WITHOUT a single-task global sort.

    Plan shape (the 100 TB path):
    1. ``__r = rand(seed)`` — uniform, deterministic per input partition.
    2. ``__bk = floor(__r * B)`` — equal-width range bucketing.  Because
       ``__r`` is uniform this balances as well as ``repartitionByRange``
       but is *closed-form deterministic*: no sampling pass, so the counts
       job and the write job see identical bucket boundaries without
       persisting anything.
    3. Per-bucket counts → driver (B integers, not data) → prefix-sum
       offsets as a literal lookup array.
    4. global rank = offset[__bk] + row_number within bucket (the window's
       partitionBy matches the repartition key, so no extra exchange and no
       single-partition sort), then the closed-form ntile bucket of that
       rank.
    """
    b = df.withColumn("__r", F.rand(seed)).withColumn(
        "__bk", F.floor(F.col("__r") * n_buckets).cast("int")
    )
    # Materialize the (__r, __bk) assignment ONCE: rand(seed) is only
    # deterministic for a fixed partitioning, and a prior shuffle / AQE
    # re-plan in `df` could make the write job recompute different values
    # than the counts job collected — silently breaking the exact ntile
    # size contract.  The checkpoint pins the evaluated partitions so both
    # jobs read the same rows.
    b = materialize_once(b.repartition(n_buckets, "__bk"))
    counts = {
        r["__bk"]: r["cnt"]
        for r in b.groupBy("__bk").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    total = sum(counts.values())
    offsets = []
    acc = 0
    for k in range(n_buckets):
        offsets.append(acc)
        acc += counts.get(k, 0)
    off = F.element_at(
        F.array(*[F.lit(o).cast("long") for o in offsets]), F.col("__bk") + 1
    )
    local = F.row_number().over(Window.partitionBy("__bk").orderBy("__r"))
    rank = (off + local).alias("__rank")  # 1-based global rank in __r order

    # ntile(n) of rank r over `total` rows: the first `rem` batches have
    # q+1 rows, the rest q.
    q, rem = divmod(total, n_batches)
    boundary = rem * (q + 1)
    in_big = (rank <= F.lit(boundary)) if boundary else F.lit(False)
    big_id = F.floor((rank - 1) / F.lit(max(q + 1, 1))) + 1
    small_id = (
        F.lit(rem) + F.floor((rank - F.lit(boundary) - 1) / F.lit(max(q, 1))) + 1
    )
    return b.withColumn(
        "__batch", F.when(in_big, big_id).otherwise(small_id).cast("int")
    ).drop("__r", "__bk")


def build_update_batches_ranged(
    df: DataFrame,
    out_dir: str,
    n_batches: int,
    seed: int = 42,
    n_buckets: int | None = None,
) -> list[str]:
    """Scale-safe ``build_update_batches``: same batch-size contract as the
    ntile reference semantics (sizes differ by at most 1; exact ntile split)
    but fully distributed — no ``Exchange SinglePartition``, no per-batch
    recompute.  One shuffle on the range bucket, one partitioned write.

    The ntile variant above stays as the oracle/reference semantics
    (build_tpch_update_batches.py:61-74); this is what you run at 100 TB.
    """
    if n_buckets is None:
        n_buckets = max(
            n_batches, int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        )
    assigned = _ranged_batch_assignment(df, n_batches, seed, n_buckets)
    out_cols = [c for c in assigned.columns if c not in ("__batch", "__rank")]
    tmp = os.path.join(out_dir, "__batched_tmp")
    assigned.select(*out_cols, "__batch").write.mode("overwrite").partitionBy(
        "__batch"
    ).parquet(tmp)
    import shutil

    empty = assigned.select(*out_cols).limit(0)
    paths = []
    for i in range(1, n_batches + 1):
        src = os.path.join(tmp, f"__batch={i}")
        dst = os.path.join(out_dir, f"batch_{i:02d}")
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        if os.path.isdir(src):
            os.rename(src, dst)
        else:
            # total rows < n_batches: the partitioned write never produced
            # this batch.  Callers iterate the returned paths, so write an
            # empty (schema-bearing) parquet dir like the ntile reference.
            empty.write.mode("overwrite").parquet(dst)
        paths.append(dst)
    shutil.rmtree(tmp, ignore_errors=True)
    return paths
