"""Path-based table abstraction: a parquet directory + its layout metadata +
stats sidecar, with a pruned ``scan`` (the engine's replacement for the
lakehouse table formats the reference drives; run_queries.py:86-125)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lakehouse_sfc_spark.layout.stats import read_sidecar
from lakehouse_sfc_spark.layout.writer import layout_write
from lakehouse_sfc_spark.table.pruning import Pred, read_pruned


class SfcTable:
    """A layout-managed parquet table."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.last_scan_metrics: dict | None = None

    # -- write ---------------------------------------------------------------

    @classmethod
    def write(
        cls,
        df: DataFrame,
        path: str,
        layout: str = "baseline",
        layout_cols: list[str] | None = None,
        **kwargs,
    ) -> "SfcTable":
        layout_write(df, path, layout=layout, layout_cols=layout_cols, **kwargs)
        return cls(df.sparkSession, path)

    # -- read ----------------------------------------------------------------

    def read(self) -> DataFrame:
        # Route through the pruned-scan analyzed-relation cache when the
        # sidecar manifest exists: a bare spark.read.parquet(path) costs
        # ~100 ms of driver-side footer/schema resolution PER CALL, and the
        # census entries read 4+ table states per run.  The cache key
        # includes every file's (size, mtime_ns), so a rewritten layout can
        # never serve a stale relation (see pruning._survivors_relation).
        #
        # Two ADVICE-r12 guards before trusting the sidecar as a manifest:
        # (a) a hive-partitioned layout (cell=N/ dirs) must go through the
        # directory read or the partition columns silently vanish from the
        # schema; (b) files present in the directory but NOT listed in the
        # sidecar (an external writer, an append without stats) must not be
        # silently excluded.  Both fall back to spark.read.parquet(path).
        sc = self.sidecar
        if sc and sc.get("files"):
            import os

            listed: set[str] = set()
            partitioned = False
            for root, dirs, fnames in os.walk(os.path.abspath(self.path)):
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                if any("=" in d for d in dirs):
                    partitioned = True
                    break
                for f in fnames:
                    if f.endswith(".parquet") and not f.startswith(("_", ".")):
                        listed.add(os.path.join(root, f))
            if not partitioned and set(sc["files"]) == listed:
                from lakehouse_sfc_spark.table.pruning import (
                    _survivors_relation,
                )

                return _survivors_relation(self.spark, sorted(sc["files"]))
        return self.spark.read.parquet(self.path)

    def scan(self, predicates: list[Pred]) -> DataFrame:
        """File-pruned scan; per-scan metrics land in ``last_scan_metrics``
        (files_scanned / bytes_scanned — the reference's headline measurement,
        run_queries.py:737-742)."""
        df, metrics = read_pruned(self.spark, self.path, predicates)
        self.last_scan_metrics = metrics
        return df

    @property
    def sidecar(self) -> dict | None:
        return read_sidecar(self.path)
