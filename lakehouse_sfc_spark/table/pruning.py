"""Pre-scan file pruner: evaluate a conjunction of range/eq/in predicates
against the per-file min/max sidecar and hand Spark only the surviving files.

This is the native replacement for the data skipping the reference measures
through Delta/Hudi/Iceberg (files_scanned / bytes_scanned,
run_queries.py:165-248).  No Catalyst rule needed: pruning happens before
the surviving files are read, then Catalyst still applies row-group
pruning and predicate pushdown inside them, so the two layers compose.

Survivors are read as ``spark.read.schema(schema).option("basePath",
root).parquet(*survivors)``.  The schema is resolved once per table state
(every file the sidecar lists, by size and mtime) or, for a snapshot
table, is the one its manifest records, as Delta and Iceberg keep it in
table metadata, so building a pruned scan launches no Spark job and reads
no footer; ``basePath`` keeps hive partition columns in it.

All predicates here are null-rejecting (eq/range/in never match NULL), so a
file whose min/max are both NULL for a predicate column (all-null chunk)
never survives on that predicate.
"""

from __future__ import annotations

import datetime
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from lakehouse_sfc_spark.layout.stats import file_size, read_sidecar

_OPS = ("==", "<", "<=", ">", ">=", "between", "in")


@dataclass(frozen=True)
class Pred:
    col: str
    op: str  # one of _OPS
    value: object  # scalar, (lo, hi) for between, list for in

    def __post_init__(self):
        if self.op not in _OPS:
            raise ValueError(f"op must be one of {_OPS}, got {self.op!r}")
        if self.op == "in":
            # normalized + sorted once so per-file checks bisect instead of
            # scanning the whole list (an upsert key set can be thousands of
            # values x thousands of files)
            object.__setattr__(
                self, "_sorted_in", tuple(sorted(_cmp(x) for x in self.value))
            )


def _cmp(v):
    """Comparable form: numbers as float; dates/timestamps as ISO strings
    (lexicographic == chronological); strings as-is."""
    if isinstance(v, bool):
        return float(v)
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        # pad to datetime form so date predicates compare correctly against
        # timestamp file stats
        return v.isoformat() + " 00:00:00"
    return v


def _may_match(pred: Pred, mn, mx) -> bool:
    """Could any value in [mn, mx] satisfy the predicate?"""
    if mn is None and mx is None:
        return False  # all-null file chunk; null-rejecting predicates
    mn, mx = _cmp(mn), _cmp(mx)
    op, v = pred.op, pred.value
    if op == "==":
        v = _cmp(v)
        return mn <= v <= mx
    if op == "<":
        return mn < _cmp(v)
    if op == "<=":
        return mn <= _cmp(v)
    if op == ">":
        return mx > _cmp(v)
    if op == ">=":
        return mx >= _cmp(v)
    if op == "between":
        lo, hi = (_cmp(v[0]), _cmp(v[1]))
        return not (hi < mn or lo > mx)
    if op == "in":
        import bisect

        vals = pred._sorted_in  # type: ignore[attr-defined]
        i = bisect.bisect_left(vals, mn)
        return i < len(vals) and vals[i] <= mx
    raise AssertionError(op)


def prune_files(sidecar: dict, predicates: list[Pred]) -> tuple[list[str], dict]:
    """Surviving files + metrics.  ``sidecar["files"]`` keys come back as the
    survivors unchanged: absolute local paths, as ``read_sidecar`` and
    ``SnapshotTable.manifest`` return them.  Predicates on columns without stats
    never prune (conservative) — both when the whole sidecar lacks the
    column and PER FILE, because after partition-spec evolution a manifest
    mixes files written under different specs: pre-evolution files carry no
    stats for the new clustering column and must always survive it
    (Iceberg's partition-evolution planning rule)."""
    stat_cols = set(sidecar.get("columns", []))
    survivors: list[str] = []
    total_bytes = 0
    scanned_bytes = 0
    for f, info in sidecar["files"].items():
        sz = file_size(f)
        total_bytes += sz
        keep = True
        for p in predicates:
            if p.col in stat_cols:
                cs = info["cols"].get(p.col)
                if cs is not None and not _may_match(p, cs["min"], cs["max"]):
                    keep = False
                    break
            # Bloom probe for equality/IN: prunes hash-distributed keys
            # where every file's [min, max] spans the domain.  A bloom "no"
            # is definite; a "maybe" falls through to the scan.
            bloom = (info.get("blooms") or {}).get(p.col)
            if bloom is not None and p.op in ("==", "in"):
                from lakehouse_sfc_spark.layout.bloom import bloom_may_contain

                vals = [p.value] if p.op == "==" else list(p.value)
                if not any(bloom_may_contain(bloom, v) for v in vals):
                    keep = False
                    break
        if keep:
            survivors.append(f)
            scanned_bytes += sz
    metrics = {
        "files_total": len(sidecar["files"]),
        "files_scanned": len(survivors),
        "bytes_total": total_bytes,
        "bytes_scanned": scanned_bytes,
    }
    return survivors, metrics


def preds_to_column(predicates: list[Pred]):
    """The same conjunction as a Spark Column, applied to the pruned scan —
    pruning is a superset filter, the real predicate still runs."""
    out = None
    for p in predicates:
        c = F.col(p.col)
        if p.op == "==":
            e = c == F.lit(p.value)
        elif p.op == "<":
            e = c < F.lit(p.value)
        elif p.op == "<=":
            e = c <= F.lit(p.value)
        elif p.op == ">":
            e = c > F.lit(p.value)
        elif p.op == ">=":
            e = c >= F.lit(p.value)
        elif p.op == "between":
            e = c.between(F.lit(p.value[0]), F.lit(p.value[1]))
        else:  # in
            e = c.isin([F.lit(x) for x in p.value])
        out = e if out is None else (out & e)
    return out


def _fingerprint(spark: SparkSession, files) -> tuple | None:
    """Cache key of a file set: the applicationId plus each file's (path,
    size, mtime_ns), so a rewritten file never serves a stale entry.  None
    when a file cannot be stat'ed (nothing is cached then)."""
    try:
        parts = []
        for f in sorted(files):
            st = os.stat(f)
            parts.append((f, st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    return (spark.sparkContext.applicationId, tuple(parts))


def _memo(cache: dict, key: tuple | None, build):
    if key is not None and key in cache:
        return cache[key]
    out = build()
    if key is not None:
        if len(cache) >= _PRUNED_CACHE_MAX:
            cache.clear()
        cache[key] = out
    return out


# Table schema per table state (every file the sidecar lists), the way
# Delta and Iceberg keep the schema in table metadata: schema inference
# reads a footer in a Spark job, and this is the only place a table with a
# sidecar pays it.  ``basePath`` makes hive partition columns
# (``cell=3/part-….parquet``) part of the schema.
_SCHEMA_CACHE: dict[tuple, StructType] = {}

# Analyzed-relation cache for pruned scans (same discipline as
# loader._TABLE_CACHE), keyed on the exact survivor set.  With the schema
# given, a build launches no Spark job, but Catalyst still resolves the
# relation and lists the files on the driver, and layout queries build a
# fresh scan per run.  The per-query predicate is applied ON TOP of the
# cached base relation, so different predicates with the same survivor
# set share it.  An entry holds for the schema it was read with
# (``_READ_WITH``): after a snapshot delete one file set can come back
# under a wider schema.
_PRUNED_CACHE: dict[tuple, DataFrame] = {}
_READ_WITH: dict[tuple, StructType] = {}
_PRUNED_CACHE_MAX = 256


def _table_schema(spark: SparkSession, root: str, files: list[str]) -> StructType:
    return _memo(
        _SCHEMA_CACHE,
        _fingerprint(spark, files),
        lambda: spark.read.option("basePath", root).parquet(*files).schema,
    )


def _survivors_relation(
    spark: SparkSession, root: str | None, schema: StructType, survivors: list[str]
) -> DataFrame:
    """Hive partition columns come from directories below ``root``; None
    for a snapshot table, whose files (a shallow clone's source files too)
    sit directly in their table directories."""

    def build() -> DataFrame:
        reader = spark.read.schema(schema)
        if root is not None:
            reader = reader.option("basePath", root)
        return reader.parquet(*survivors)

    key = _fingerprint(spark, survivors)
    if key is not None and _READ_WITH.get(key) != schema:
        _PRUNED_CACHE.pop(key, None)
        if len(_READ_WITH) >= _PRUNED_CACHE_MAX:
            _READ_WITH.clear()
        _READ_WITH[key] = schema
    return _memo(_PRUNED_CACHE, key, build)


def read_listed(spark: SparkSession, schema: StructType, files: list[str]) -> DataFrame:
    """Snapshot-table ``files`` read with ``schema``, without a Spark job; a
    column a file lacks reads as nulls, and no files is an empty relation."""
    return _survivors_relation(spark, None, schema, files)


def sidecar_relation(
    spark: SparkSession, path: str, sidecar: dict, files: list[str]
) -> DataFrame:
    """``files`` (some or all of those ``sidecar`` lists) read with the
    table's schema, partition columns included; no Spark job runs unless
    this table state's schema is not resolved yet."""
    root = os.path.abspath(path)
    schema = _table_schema(spark, root, list(sidecar["files"]))
    return _survivors_relation(spark, root, schema, files)


def _filtered(df: DataFrame, predicates: list[Pred]) -> DataFrame:
    cond = preds_to_column(predicates)
    return df.filter(cond) if cond is not None else df


def scan_listed(
    spark: SparkSession, root: str | None, stats: dict, schema: StructType,
    predicates: list[Pred],
) -> tuple[DataFrame, dict]:
    """Prune with per-file ``stats`` (a sidecar or a snapshot manifest's),
    read survivors with ``schema`` as ``_survivors_relation`` does, apply
    the full predicate.  Returns (df, metrics)."""
    survivors, metrics = prune_files(stats, predicates)
    df = _survivors_relation(spark, root, schema, survivors)
    return _filtered(df, predicates), metrics


def read_pruned(
    spark: SparkSession, path: str, predicates: list[Pred]
) -> tuple[DataFrame, dict]:
    """Prune with the sidecar (if present), read survivors, apply the full
    predicate.  Returns (df, metrics)."""
    sidecar = read_sidecar(path)
    if sidecar is not None and sidecar["files"]:
        root = os.path.abspath(path)
        schema = _table_schema(spark, root, list(sidecar["files"]))
        return scan_listed(spark, root, sidecar, schema, predicates)
    df = spark.read.parquet(path)
    if sidecar is None:
        n = len(df.inputFiles())
        metrics = {"files_total": n, "files_scanned": n}
    else:
        # no listed file to take a schema from: the directory decides
        df, metrics = df.limit(0), prune_files(sidecar, predicates)[1]
    return _filtered(df, predicates), metrics
