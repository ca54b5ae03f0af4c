"""Path-based table abstraction: a parquet directory + its layout metadata +
stats sidecar, with a pruned ``scan`` (the engine's replacement for the
lakehouse table formats the reference drives; run_queries.py:86-125)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from lakehouse_sfc_spark.layout.stats import read_sidecar
from lakehouse_sfc_spark.layout.writer import layout_write
from lakehouse_sfc_spark.table.pruning import Pred, read_pruned, sidecar_relation


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
        # Read through the pruned-scan relation cache when the sidecar
        # manifest exists: the table's schema is resolved once per table
        # state, so a read launches no schema-inference job, and the census
        # entries read 4+ table states per run.  ``basePath`` keeps hive
        # partition columns (cell=N/ dirs).  Files present in the directory
        # but NOT listed in the sidecar (an external writer, an append
        # without stats) must not be silently excluded, so then the
        # directory read decides.
        sc = self.sidecar
        if sc and sc.get("files"):
            listed: set[str] = set()
            for root, dirs, fnames in os.walk(os.path.abspath(self.path)):
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                for f in fnames:
                    if f.endswith(".parquet") and not f.startswith(("_", ".")):
                        listed.add(os.path.join(root, f))
            if set(sc["files"]) == listed:
                return sidecar_relation(self.spark, self.path, sc, sorted(listed))
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
