"""Per-file min/max/count stats sidecar — the piece vanilla Spark lacks for
Delta/Hudi/Iceberg-style file skipping (SURVEY.md §4: Spark prunes row
groups inside a file and hive partitions, but has no file-stats index for
plain parquet).

Collection is ONE distributed Spark job: scan only the stats columns,
group by ``input_file_name()``, aggregate min/max/count/null-count per file.
At 100 TB this is a column-pruned scan with a cheap (files-count-sized)
shuffle; no driver-side footer loop.

Sidecar format: ``<table>/_sfc_stats.json`` —
``{"columns": [...], "files": {rel_path: {"count": n, "cols":
{col: {"min": v, "max": v, "nulls": n}}}}}`` with dates/timestamps stored as
ISO strings (ISO order == chronological order, so string comparison prunes
correctly).  Keys are decoded file paths relative to the table directory
(``part-….parquet``, ``cell=3/part-….parquet``), the way Delta and Iceberg
logs record data files, so a table can be moved or copied as a directory.
``read_sidecar`` resolves them against the table's absolute path, so every
caller sees absolute local paths; ``write_sidecar`` turns them back into
relative keys and publishes the file atomically (a dot-named temp file in
the table directory, then ``os.replace``), so a crash mid-write leaves the
previous sidecar intact and readers never see a partial one.

This module is the only one that knows the on-disk name and key format.
Snapshot manifests and WAP branch files (``table/snapshots.py``) key their
file lists the same way, through ``relative_keys`` / ``absolute_keys``.
"""

from __future__ import annotations

import datetime
import json
import os
from urllib.parse import unquote, urlparse

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SIDECAR_NAME = "_sfc_stats.json"


def local_path(uri: str) -> str:
    """A ``file:`` URI (what Spark's ``input_file_name()`` returns, and what
    older sidecars stored as keys) as a decoded local path; anything else is
    already a path and passes through."""
    return unquote(urlparse(uri).path) if uri.startswith("file:") else uri


def relative_keys(files: dict, root: str) -> dict:
    """``files`` keyed by absolute local paths, re-keyed relative to the
    table directory ``root`` — the on-disk form of a sidecar, snapshot
    manifest or branch file.  A file outside ``root`` (a shallow clone's
    source) keeps a ``../`` key."""
    root = os.path.abspath(root)
    return {os.path.relpath(f, root): v for f, v in files.items()}


def absolute_keys(files: dict, root: str) -> dict:
    """The inverse of ``relative_keys``: on-disk keys resolved against
    ``root`` to normalized absolute local paths, so file sets from
    different manifests compare equal.  An older file's absolute ``file:``
    URI decodes to an absolute path, which the join leaves unchanged."""
    root = os.path.abspath(root)
    return {
        os.path.normpath(os.path.join(root, local_path(f))): v
        for f, v in files.items()
    }


def _jsonable(v):
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def collect_file_stats(
    spark: SparkSession,
    path: str,
    stats_cols: list[str],
    bloom_cols: list[str] | None = None,
    bloom_fpp: float = 0.01,
) -> str:
    """Aggregate per-file stats for ``stats_cols`` over the parquet files at
    ``path`` and write the sidecar next to them.  Returns the sidecar path.

    ``bloom_cols`` additionally builds per-file Bloom filters (point-key
    file skipping for equality/IN probes on hash-distributed keys, where
    min/max cannot prune — see layout/bloom.py); they land in the sidecar
    under the ``"blooms"`` key, invisible to older readers."""
    df = spark.read.parquet(path)
    aggs = [F.count(F.lit(1)).alias("__count")]
    for c in stats_cols:
        aggs += [
            F.min(c).alias(f"__min_{c}"),
            F.max(c).alias(f"__max_{c}"),
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nulls_{c}"),
        ]
    rows = (
        df.select(F.input_file_name().alias("__file"), *stats_cols)
        .groupBy("__file")
        .agg(*aggs)
        .collect()
    )
    files = {}
    for r in rows:
        files[local_path(r["__file"])] = {
            "count": r["__count"],
            "cols": {
                c: {
                    "min": _jsonable(r[f"__min_{c}"]),
                    "max": _jsonable(r[f"__max_{c}"]),
                    "nulls": r[f"__nulls_{c}"],
                }
                for c in stats_cols
            },
        }
    sidecar = {"columns": stats_cols, "files": files}
    if bloom_cols:
        from lakehouse_sfc_spark.layout.bloom import collect_bloom_filters

        sidecar["bloom_columns"] = list(bloom_cols)
        blooms = collect_bloom_filters(spark, path, bloom_cols, bloom_fpp)
        for file_uri, per_col in blooms.items():
            info = files.get(local_path(file_uri))
            if info is not None:
                info["blooms"] = per_col
    return write_sidecar(path, sidecar)


def write_sidecar(path: str, sidecar: dict) -> str:
    """Publish ``sidecar`` (keys: absolute local paths, as ``read_sidecar``
    returns them) as the table's sidecar with keys relative to ``path``.
    Written to a dot-named temp file first — Spark and ``SfcTable.read``
    skip dot files — then swapped in with ``os.replace``, so readers see
    the old sidecar or the new one, never a torn write.  Returns the
    sidecar path."""
    root = os.path.abspath(path)
    out = {**sidecar, "files": relative_keys(sidecar["files"], root)}
    final = os.path.join(root, SIDECAR_NAME)
    tmp = os.path.join(root, f".{SIDECAR_NAME}.{os.getpid()}.tmp")
    try:
        with open(tmp, "w") as f:
            json.dump(out, f, default=str)
        os.replace(tmp, final)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    return final


# Parsed-sidecar cache, keyed on the file's absolute path and (inode, size,
# mtime_ns): every pruned scan calls read_sidecar at query-BUILD time (twice
# per layout query: the cache-exists probe plus read_pruned), and re-parsing
# the JSON is pure driver latency.  Entries hold keys already resolved to
# absolute paths, so a hit costs no path work.  Invalidation mirrors
# loader._TABLE_CACHE: write_sidecar's os.replace gives the sidecar a new
# inode, and a moved or copied table has a new path, so both miss.
_SIDECAR_CACHE: dict[tuple, dict] = {}
_SIDECAR_CACHE_MAX = 256


def read_sidecar(path: str) -> dict | None:
    """The sidecar of the table at ``path`` with its keys resolved to
    absolute local paths, or None when the table has none."""
    import copy

    p = os.path.join(path, SIDECAR_NAME)
    try:
        st = os.stat(p)
    except OSError:
        return None
    key = (os.path.abspath(p), st.st_ino, st.st_size, st.st_mtime_ns)
    hit = _SIDECAR_CACHE.get(key)
    if hit is not None:
        # deep copy: the result is the caller's to mutate — handing out the
        # cached object would let one caller poison every later read
        return copy.deepcopy(hit)
    with open(p) as f:
        out = json.load(f)
    out["files"] = absolute_keys(out["files"], path)
    if len(_SIDECAR_CACHE) >= _SIDECAR_CACHE_MAX:
        _SIDECAR_CACHE.clear()
    _SIDECAR_CACHE[key] = copy.deepcopy(out)
    return out


def file_size(file: str) -> int:
    """Bytes of a local path or a ``file:`` URI (a sidecar file, a
    snapshot-manifest entry, or a Spark ``inputFiles()`` /
    ``input_file_name()`` value); 0 when it is missing or not on the local
    filesystem."""
    try:
        return os.path.getsize(local_path(file))
    except OSError:
        return 0
