"""Versioned snapshot table: time travel, change data feed, copy-on-write
upsert/delete, schema evolution, and vacuum over plain parquet + a JSON
manifest log — the transaction-log surface the reference delegates to
Delta/Hudi/Iceberg (SURVEY.md §1.4: Delta `versionAsOf` / CDF,
Hudi commit timeline + incremental query, Iceberg snapshots +
`expire_snapshots`), re-expressed natively.

Model
-----
``<table>/commit-<v>-<i>.parquet``  data files (immutable once committed)
``<table>/_log/v<NNNNN>.json``      one manifest per version

A manifest is the COMPLETE file listing for its version plus per-file
min/max/count stats (the same shape as the layout stats sidecar, so
`table.pruning.prune_files` works on any historical version unchanged).
Its keys are file paths relative to the table directory, like the
sidecar's (``layout.stats.relative_keys``; a shallow clone's carried files
are ``../<source>/...``), so a table — or a table together with its clones
— can be moved or copied as a directory; in memory they are normalized
absolute local paths.  Manifests keyed by older absolute ``file:`` URIs
still read.  WAP branch files use the same key format.

A manifest's ``schema`` is the only schema of its version: every read
of its files goes through ``table.pruning.read_listed`` with it (no
inference, no Spark job to build; a file lacking a column reads nulls).
A commit publishes the parent's fields, then the written rows' new
columns (``_published_schema``).

Every mutation stages new files, then publishes a new manifest — the
manifest write IS the commit point, files are never mutated or renamed
after publish, so readers of any version are isolated from concurrent
writers (the same metadata-swap trick that lets Delta/Iceberg commit on
object stores without atomic rename).  Publishing never replaces: the
manifest is hard-linked into place from a per-process temp file, so when
two writers commit the same version the second one fails instead of
silently dropping the first one's commit (Delta's put-if-absent rule).

Scale notes (100 TB)
--------------------
- Commits are metadata-only beyond the rewritten files: COW upsert/delete
  scope the rewrite to files whose stats ranges overlap the batch keys /
  predicate (O(overlapping files), the `scoped_upsert` discipline), and
  untouched files are carried by reference into the new manifest.
- ``changes(v_from, v_to)`` — the CDF — scans ONLY the symmetric
  difference of the two file sets (files added ∪ files removed between the
  versions).  Rows living in files common to both versions are byte-equal
  by immutability and never read: incremental consumption costs
  O(changed data), not O(table).
- The manifest is a single JSON file listing every live file.  That is the
  right call up to ~10^5 files; past that the log wants the Iceberg split
  (manifest-list → manifest shards, stats in the shards).  The format
  here keeps that door open (per-file entries are self-contained), and the
  commit path never iterates files driver-side except over the REWRITTEN
  subset.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from lakehouse_sfc_spark.layout.stats import (
    absolute_keys,
    read_sidecar,
    relative_keys,
)
from lakehouse_sfc_spark.layout.upsert import dedup_latest
from lakehouse_sfc_spark.layout.writer import layout_write
from lakehouse_sfc_spark.sources.loader import materialize_once
from lakehouse_sfc_spark.table.pruning import (
    Pred,
    preds_to_column,
    prune_files,
    read_listed,
    scan_listed,
)

_LOG_DIR = "_log"
_FILE_LISTS = ("files", "staged_files")  # keyed by data file


def _published_schema(parent: dict, df: DataFrame) -> StructType:
    """The schema a commit that writes ``df`` publishes: the parent's
    fields, in its order and with its types, then ``df``'s new columns.  A
    written column whose type differs from the table's raises."""
    schema = StructType.fromJson(parent["schema"])
    have = {f.name: f.dataType.simpleString() for f in schema.fields}
    for f in df.schema.fields:
        if f.name not in have:
            schema.add(f)
        elif f.dataType.simpleString() != have[f.name]:
            raise ValueError(
                f"column {f.name!r} is written as "
                f"{f.dataType.simpleString()} but the table has {have[f.name]}"
            )
    return schema


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(path, _LOG_DIR, f"v{version:05d}.json")


def _read_log(p: str, root: str) -> dict:
    """A manifest or branch file, its file lists keyed by absolute paths."""
    with open(p) as fh:
        m = json.load(fh)
    for key in _FILE_LISTS:
        if key in m:
            m[key] = absolute_keys(m[key], root)
    return m


def _write_log(p: str, m: dict, root: str) -> None:
    """Publish ``m`` at ``p`` with file lists keyed relative to ``root``.
    Never replaces: written to a per-process temp file, then hard-linked
    into place, so an existing manifest stays as it is and the losing
    writer gets ``FileExistsError``."""
    out = {
        k: relative_keys(v, root) if k in _FILE_LISTS else v
        for k, v in m.items()
    }
    os.makedirs(os.path.dirname(p), exist_ok=True)
    tmp = f"{p}.{os.getpid()}.tmp"
    try:
        with open(tmp, "w") as fh:
            json.dump(out, fh, default=str)
        os.link(tmp, p)
    except FileExistsError:
        raise FileExistsError(
            f"{p} is already committed; another writer published it"
        ) from None
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


class SnapshotTable:
    """A parquet table with an append-only manifest log.

    Reference parity: Delta time travel (`versionAsOf`) + change data feed,
    Hudi commit timeline / incremental pull, Iceberg snapshot reads +
    snapshot expiry — one native mechanism for all three.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # ------------------------------------------------------------- manifests

    def versions(self) -> list[int]:
        log = os.path.join(self.path, _LOG_DIR)
        if not os.path.isdir(log):
            return []
        out = []
        for f in os.listdir(log):
            if f.startswith("v") and f.endswith(".json"):
                out.append(int(f[1:-5]))
        return sorted(out)

    def latest_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"no manifest log at {self.path}")
        return vs[-1]

    def manifest(self, version: int | None = None) -> dict:
        v = self.latest_version() if version is None else version
        return _read_log(_manifest_path(self.path, v), self.path)

    def history(self) -> list[dict]:
        """Commit history, oldest first (Delta `DESCRIBE HISTORY` parity)."""
        out = []
        for v in self.versions():
            m = self.manifest(v)
            out.append(
                {
                    "version": m["version"],
                    "operation": m["operation"],
                    "ts": m["ts"],
                    "n_files": len(m["files"]),
                    "n_rows": sum(f["count"] for f in m["files"].values()),
                }
            )
        return out

    def _publish(
        self,
        version: int,
        operation: str,
        files: dict,
        schema: StructType,
        stats_cols: list[str],
        extra: dict | None = None,
    ) -> dict:
        m = {
            "version": version,
            "operation": operation,
            "ts": time.time(),
            "stats_cols": stats_cols,
            "schema": json.loads(schema.json()),
            "files": files,
            **(extra or {}),
        }
        _write_log(_manifest_path(self.path, version), m, self.path)
        return m

    # ----------------------------------------------------------- constraints

    def set_constraint(self, name: str, expr: str) -> dict:
        """Add a CHECK constraint (Delta ``ALTER TABLE ADD CONSTRAINT``
        parity): a boolean SQL expression every subsequently WRITTEN row
        must satisfy.  Existing data is validated once at add time; the
        constraint rides the manifest so later commits (append/upsert/
        merge) enforce it on their incoming rows.  Metadata-only commit —
        no files rewritten."""
        parent = self.manifest()
        cons = dict(parent.get("constraints", {}))
        cons[name] = expr
        bad = self.read().filter(f"NOT ({expr})").limit(1).count()
        if bad:
            raise ValueError(
                f"cannot add constraint {name!r}: existing rows violate "
                f"({expr})"
            )
        v = parent["version"] + 1
        return self._publish(
            v,
            "ADD CONSTRAINT",
            parent["files"],
            StructType.fromJson(parent["schema"]),
            parent["stats_cols"],
            extra={"constraints": cons},
        )

    @staticmethod
    def _carry(parent: dict, extra: dict | None = None) -> dict:
        """Commit metadata inherited across versions (constraints survive
        every commit unless explicitly replaced)."""
        out = dict(extra or {})
        for key in ("constraints", "spec", "spec_history", "lineage"):
            if parent.get(key) and key not in out:
                out[key] = parent[key]
        return out

    # --------------------------------------------------------- row lineage

    _LINEAGE_COLS = ("_row_id", "_last_updated_version")

    @staticmethod
    def _with_new_row_ids(df: DataFrame, lin: dict, version: int) -> DataFrame:
        """Stamp brand-new rows with fresh lineage: ids continue from the
        table's ``next_row_id`` counter, ordered by the lineage keys so the
        assignment is deterministic and engine-independent.  (Iceberg v3
        assigns from a metadata counter in file order; at 100-TB scale the
        same counter hands each data file a contiguous id RANGE from the
        manifest, so assignment is per-file arithmetic — no global sort.)"""
        w = Window.orderBy(*lin["keys"])
        return df.withColumn(
            "_row_id",
            (F.row_number().over(w) + F.lit(lin["next_row_id"] - 1)).cast(
                "long"
            ),
        ).withColumn("_last_updated_version", F.lit(version))

    def _lineage_next(self, merged: DataFrame, lin: dict) -> int:
        top = merged.agg(F.max("_row_id")).collect()[0][0]
        return max(lin["next_row_id"] - 1, int(top or 0)) + 1

    @staticmethod
    def _spec_kwargs(parent: dict) -> dict:
        """Layout kwargs for staging a write under the table's CURRENT
        partition spec (set by ``evolve_spec``; empty before any
        evolution, which keeps the historical default layout)."""
        spec = parent.get("spec") or {}
        if not spec:
            return {}
        return {
            "layout": spec.get("layout", "baseline"),
            "layout_cols": spec.get("layout_cols"),
        }

    def _enforce_constraints(self, parent: dict, incoming: DataFrame) -> None:
        cons = parent.get("constraints", {})
        for name, expr in cons.items():
            sample = (
                incoming.filter(f"NOT ({expr})").limit(1).collect()
            )
            if sample:
                raise ValueError(
                    f"CHECK constraint {name!r} violated by incoming row "
                    f"{sample[0].asDict()} (expr: {expr})"
                )

    # ----------------------------------------------------------------- write

    def _stage(
        self,
        df: DataFrame,
        version: int,
        stats_cols: list[str],
        layout: str = "baseline",
        layout_cols: list[str] | None = None,
        num_files: int | None = None,
        prefix: str | None = None,
    ) -> dict:
        """Write df's files into the table dir under this commit's prefix
        (or an explicit ``prefix``, e.g. a WAP branch namespace); return
        their {path: stats} entries.  Files are immutable afterwards."""
        if df.isEmpty():  # e.g. DELETE emptied every overlapping file
            return {}
        prefix = prefix or f"commit-{version:05d}"
        stage = os.path.join(self.path, f".stage-{prefix}")
        shutil.rmtree(stage, ignore_errors=True)
        layout_write(
            df,
            stage,
            layout=layout,
            layout_cols=layout_cols,
            stats_cols=stats_cols,
            num_files=num_files,
        )
        sidecar = read_sidecar(stage) or {"files": {}}
        out = {}
        root = os.path.abspath(self.path)
        for i, (src, info) in enumerate(sorted(sidecar["files"].items())):
            dst = os.path.join(root, f"{prefix}-{i:04d}.parquet")
            os.rename(src, dst)
            out[dst] = info
        shutil.rmtree(stage)
        return out

    @classmethod
    def create(
        cls,
        df: DataFrame,
        path: str,
        stats_cols: list[str],
        layout: str = "baseline",
        layout_cols: list[str] | None = None,
        num_files: int | None = None,
        lineage_keys: list[str] | None = None,
    ) -> "SnapshotTable":
        """``lineage_keys`` enables ROW LINEAGE (Iceberg v3 row-lineage
        parity): every row gets a stable ``_row_id`` (assigned once, kept
        across upsert rewrites) and a ``_last_updated_version`` (the commit
        that last changed it).  Keys must be unique and non-null; ids are
        assigned in lineage-key order so the numbering is deterministic."""
        os.makedirs(path, exist_ok=True)
        t = cls(df.sparkSession, path)
        extra = None
        if lineage_keys:
            lin = {"keys": lineage_keys, "next_row_id": 1}
            # materialize ONCE: _lineage_next collects max(_row_id) and
            # _stage then writes the same plan - without the checkpoint
            # every lineage-enabled commit computes its merge twice
            df = materialize_once(cls._with_new_row_ids(df, lin, 0))
            extra = {
                "lineage": {
                    "keys": lineage_keys,
                    "next_row_id": t._lineage_next(df, lin),
                }
            }
        files = t._stage(df, 0, stats_cols, layout, layout_cols, num_files)
        t._publish(0, "CREATE", files, df.schema, stats_cols, extra=extra)
        return t

    def append(self, df: DataFrame, num_files: int | None = None) -> dict:
        """Blind append (Hudi bulk_insert / Delta append).  New columns are
        allowed (schema evolution): the new version's schema gains them,
        and historical files, which lack them, read them as nulls."""
        parent = self.manifest()
        self._enforce_constraints(parent, df)
        v = parent["version"] + 1
        extra = None
        lin = parent.get("lineage")
        if lin:
            # checkpoint: _lineage_next + _stage both consume this plan
            df = materialize_once(self._with_new_row_ids(df, lin, v))
            extra = {
                "lineage": {**lin, "next_row_id": self._lineage_next(df, lin)}
            }
        schema = _published_schema(parent, df)
        new = self._stage(
            df, v, parent["stats_cols"], num_files=num_files,
            **self._spec_kwargs(parent),
        )
        return self._publish(
            v, "APPEND", {**parent["files"], **new}, schema,
            parent["stats_cols"], extra=self._carry(parent, extra),
        )

    def evolve_spec(
        self,
        layout: str,
        layout_cols: list[str] | None,
        stats_cols: list[str],
    ) -> dict:
        """Partition-spec evolution (Iceberg ``ALTER TABLE ... ADD PARTITION
        FIELD`` / ``REPLACE PARTITION FIELD`` parity; reference engines
        delegate this to Iceberg's spec-id machinery, here it is native):
        a METADATA-ONLY commit that changes how FUTURE writes (append/
        upsert/delete rewrites) are clustered and which per-file stats they
        publish.  Existing files are untouched and stay time-travelable;
        because they carry no stats for the new clustering columns they
        simply never prune on those columns (the conservative per-file rule
        in ``pruning.prune_files``) — exactly Iceberg's split-planning
        behavior for data written under an older spec.  The manifest's
        ``stats_cols`` becomes the union of every spec's stats so scans can
        prune each file under the spec it was written with; ``spec_history``
        records every evolution for audit."""
        parent = self.manifest()
        v = parent["version"] + 1
        spec = {"layout": layout, "layout_cols": layout_cols}
        new_stats = list(dict.fromkeys([*parent["stats_cols"], *stats_cols]))
        history = list(parent.get("spec_history") or []) + [
            {"version": v, **spec, "stats_cols": new_stats}
        ]
        return self._publish(
            v,
            "EVOLVE-SPEC",
            parent["files"],
            StructType.fromJson(parent["schema"]),
            new_stats,
            extra=self._carry(
                parent, {"spec": spec, "spec_history": history}
            ),
        )

    def optimize(
        self,
        layout: str = "zorder",
        layout_cols: list[str] | None = None,
        num_files: int | None = None,
        preds: list[Pred] | None = None,
    ) -> dict:
        """Re-layout live data as a NEW COMMIT (Delta ``OPTIMIZE ZORDER BY``
        / Iceberg ``rewrite_data_files`` parity): rows are bit-identical
        before and after, only the physical file layout changes, and every
        earlier version stays time-travelable because the old files are
        still referenced by the old manifests.

        With ``preds`` the rewrite is file-scoped (only files whose min/max
        ranges overlap are rewritten — the WHERE-scoped OPTIMIZE analog);
        untouched files carry into the new manifest by reference."""
        parent = self.manifest()
        v = parent["version"] + 1
        if preds:
            affected = self._affected_files(parent, preds)
            keep = self._untouched(parent, affected)
        else:
            affected = sorted(parent["files"])
            keep = {}
        if not affected:
            return parent
        new = self._stage(
            self._read_files(parent, affected), v, parent["stats_cols"],
            layout, layout_cols, num_files,
        )
        return self._publish(
            v,
            "OPTIMIZE",
            {**keep, **new},
            StructType.fromJson(parent["schema"]),
            parent["stats_cols"],
            extra=self._carry(parent),
        )

    def _read_files(self, m: dict, files) -> DataFrame:
        """``files`` read with the schema the manifest (or branch) ``m``
        records; a column a file lacks reads as nulls."""
        return read_listed(
            self.spark, StructType.fromJson(m["schema"]), sorted(files)
        )

    @staticmethod
    def _stats(m: dict) -> dict:
        """``m``'s per-file stats in the sidecar shape ``prune_files`` reads."""
        return {"columns": m["stats_cols"], "files": m["files"]}

    def _affected_files(self, parent: dict, preds: list[Pred]) -> list[str]:
        """Files whose stats may hold a row matching ``preds``; predicates
        on columns without stats never prune."""
        affected, _ = prune_files(self._stats(parent), preds)
        return affected

    def _key_scope(
        self, parent: dict, rows: DataFrame, record_keys: list[str]
    ) -> tuple[list[str], dict]:
        """The parent's files split by ``rows``' record-key bounds: those
        whose key stats overlap them (to rewrite) and the untouched rest
        (carried by reference)."""
        keys = [k for k in record_keys if k in parent["stats_cols"]]
        preds = []
        if keys:
            bounds = rows.agg(
                *[F.min(k).alias(f"lo_{k}") for k in keys],
                *[F.max(k).alias(f"hi_{k}") for k in keys],
            ).collect()[0]
            preds = [
                Pred(k, "between", (bounds[f"lo_{k}"], bounds[f"hi_{k}"]))
                for k in keys
            ]
        affected = self._affected_files(parent, preds)
        return affected, self._untouched(parent, affected)

    @staticmethod
    def _untouched(parent: dict, affected: list[str]) -> dict:
        """The parent's manifest entries for the files not in ``affected``
        — carried into the new version by reference."""
        hit = set(affected)
        return {f: info for f, info in parent["files"].items() if f not in hit}

    def upsert(
        self,
        batch: DataFrame,
        record_keys: list[str],
        precombine: str,
        num_files: int | None = None,
    ) -> dict:
        """Copy-on-write MERGE: latest-wins per record key.  Only files whose
        key stats overlap the batch's key bounds are read and rewritten;
        prior versions keep referencing the replaced files (time travel)."""
        parent = self.manifest()
        self._enforce_constraints(parent, batch)
        v = parent["version"] + 1
        affected, untouched = self._key_scope(parent, batch, record_keys)
        lin = parent.get("lineage")
        existing = self._read_files(parent, affected)
        if lin:
            # batch rows carry no ids yet; _src breaks precombine TIES in the
            # batch's favor (Hudi latest-wins) WITHOUT letting the lineage
            # columns themselves perturb the winner choice
            batch = (
                batch.withColumn("_row_id", F.lit(None).cast("long"))
                .withColumn("_last_updated_version", F.lit(v))
                .withColumn("_src", F.lit(1))
            )
            existing = existing.withColumn("_src", F.lit(0))
        merged_in = existing.unionByName(batch, allowMissingColumns=True)
        extra: dict = {"files_rewritten": len(affected)}
        if lin:
            merged = materialize_once(  # _lineage_next + _stage reuse
                self._lineage_merge(
                    merged_in, existing, record_keys, precombine, lin
                )
            )
            extra["lineage"] = {
                **lin, "next_row_id": self._lineage_next(merged, lin),
            }
        else:
            merged = dedup_latest(merged_in, record_keys, precombine)
        schema = _published_schema(parent, merged)
        new = self._stage(
            merged, v, parent["stats_cols"], num_files=num_files,
            **self._spec_kwargs(parent),
        )
        return self._publish(
            v,
            "UPSERT",
            {**untouched, **new},
            schema,
            parent["stats_cols"],
            extra=self._carry(parent, extra),
        )

    def _lineage_merge(
        self,
        merged_in: DataFrame,
        existing: DataFrame,
        record_keys: list[str],
        precombine: str,
        lin: dict,
    ) -> DataFrame:
        """Latest-wins dedup that PRESERVES row identity: the winner per
        key keeps the key's existing ``_row_id`` (updates are the same row,
        Iceberg v3 row-lineage rule); brand-new keys draw fresh ids from
        the counter.  ``_last_updated_version`` rides the winning row — an
        untouched existing row keeps its old value, a winning batch row
        carries the new commit version."""
        skip = set(self._LINEAGE_COLS) | {precombine, "_src"}
        order = [F.desc(precombine), F.desc("_src")] + [
            F.desc(c) for c in merged_in.columns if c not in skip
        ]
        w = Window.partitionBy(*record_keys).orderBy(*order)
        winner = (
            merged_in.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "_src")
        )
        oldids = existing.select(
            *record_keys, F.col("_row_id").alias("__old_rid")
        )
        winner = (
            winner.join(oldids, record_keys, "left")
            .withColumn("_row_id", F.coalesce("_row_id", "__old_rid"))
            .drop("__old_rid")
        )
        wn = Window.partitionBy(F.col("_row_id").isNull()).orderBy(
            *lin["keys"]
        )
        return (
            winner.withColumn("__nrn", F.row_number().over(wn))
            .withColumn(
                "_row_id",
                F.coalesce(
                    F.col("_row_id"),
                    (F.col("__nrn") + F.lit(lin["next_row_id"] - 1)).cast(
                        "long"
                    ),
                ),
            )
            .drop("__nrn")
        )

    def merge_into(
        self,
        source: DataFrame,
        record_keys: list[str],
        matched_delete: Column | None = None,
        insert_unmatched: bool = True,
        num_files: int | None = None,
    ) -> dict:
        """Full MERGE INTO (Delta/Iceberg MERGE parity): source rows that
        match a target key UPDATE it (replace the row) — unless
        ``matched_delete`` (a boolean Column over source columns) holds, in
        which case the target row is DELETED; unmatched source rows INSERT
        when ``insert_unmatched``.  Target rows with no source match are
        untouched.

        Copy-on-write and file-scoped like ``upsert``: only files whose key
        stats overlap the source's key bounds are rewritten, prior versions
        keep referencing the replaced files (time travel).  The matched/
        unmatched split is two hash joins against the source's key set — at
        scale the source is the small side and broadcasts.

        Not yet lineage-aware: refuses on a row-lineage table rather than
        silently minting NULL ``_row_id`` rows (upsert/append/delete all
        preserve lineage; extend with ``_lineage_merge`` if needed)."""
        parent = self.manifest()
        if parent.get("lineage"):
            raise NotImplementedError(
                "merge_into on a row-lineage table: use upsert (lineage-"
                "aware) or extend merge_into with _lineage_merge"
            )
        v = parent["version"] + 1
        affected, untouched = self._key_scope(parent, source, record_keys)
        tgt = self._read_files(parent, affected)
        src_keys = source.select(*record_keys).distinct()
        kept_tgt = tgt.join(F.broadcast(src_keys), record_keys, "left_anti")
        tgt_keys = tgt.select(*record_keys).distinct()
        # ``matched_delete`` is a WHEN MATCHED ... DELETE clause: it applies
        # ONLY to source rows that matched a target key.  An unmatched
        # source row satisfying the same predicate still INSERTs (Delta
        # semantics) — so the matched/unmatched split happens on the raw
        # source, and the delete filter applies to the matched half only.
        src_matched = source.join(
            F.broadcast(tgt_keys), record_keys, "left_semi"
        )
        # Delta-parity duplicate guard: MERGE raises only when multiple
        # SOURCE rows match the same TARGET row (the outcome would be
        # order-dependent); duplicate keys among unmatched (insert-only)
        # source rows are legal — they all insert.  Hence the count runs
        # over the MATCHED half, before any matched_delete filter.
        # count_distinct over a STRUCT, not the bare columns: bare
        # count_distinct skips rows with any NULL key component, which
        # would make a single NULL-keyed source row look like a duplicate
        # (n=1 vs n_distinct=0) and raise spuriously.  (NULL-keyed rows
        # never equality-match a target, so they land in the insert half.)
        n_matched, n_matched_keys = src_matched.agg(
            F.count(F.lit(1)),
            F.count_distinct(F.struct(*record_keys)),
        ).collect()[0]
        if n_matched != n_matched_keys:
            raise ValueError(
                f"merge_into: source has {n_matched - n_matched_keys} "
                f"duplicate record keys ({record_keys}) matching the same "
                "target row; MERGE requires each target row to match at "
                "most one source row"
            )
        if matched_delete is not None:
            src_matched = src_matched.filter(~matched_delete)
        out = kept_tgt.unionByName(src_matched, allowMissingColumns=True)
        written_src = src_matched
        if insert_unmatched:
            src_unmatched = source.join(
                F.broadcast(tgt_keys), record_keys, "left_anti"
            )
            out = out.unionByName(src_unmatched, allowMissingColumns=True)
            written_src = written_src.unionByName(
                src_unmatched, allowMissingColumns=True
            )
        # delete markers are COMMANDS, not data: CHECK constraints apply
        # only to rows actually WRITTEN (Delta semantics) — a sentinel
        # payload on a delete row must not trip them.
        self._enforce_constraints(parent, written_src)
        schema = _published_schema(parent, out)
        new = self._stage(
            out, v, parent["stats_cols"], num_files=num_files
        )
        return self._publish(
            v,
            "MERGE",
            {**untouched, **new},
            schema,
            parent["stats_cols"],
            extra=self._carry(parent, {"files_rewritten": len(affected)}),
        )

    def delete_where(self, preds: list[Pred], num_files: int | None = None) -> dict:
        """Copy-on-write DELETE: files that cannot contain a matching row
        (by stats) are untouched; overlapping files are rewritten with the
        anti-predicate (Delta `DELETE WHERE` / Iceberg copy-on-write
        delete)."""
        parent = self.manifest()
        v = parent["version"] + 1
        affected = self._affected_files(parent, preds)
        untouched = self._untouched(parent, affected)
        new: dict = {}
        if affected:
            kept = self._read_files(parent, affected).filter(
                ~preds_to_column(preds)
            )
            new = self._stage(
                kept, v, parent["stats_cols"], num_files=num_files,
                **self._spec_kwargs(parent),
            )
        return self._publish(
            v,
            "DELETE",
            {**untouched, **new},
            StructType.fromJson(parent["schema"]),
            parent["stats_cols"],
            extra=self._carry(parent, {"files_rewritten": len(affected)}),
        )

    # ------------------------------------------------------------------ read

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read, latest or ``versionAsOf`` (time travel), with the
        schema that version's manifest records: files written before a
        column was added read it as nulls.  Builds without a Spark job."""
        m = self.manifest(version)
        return self._read_files(m, m["files"])

    def scan(self, preds: list[Pred], version: int | None = None) -> DataFrame:
        """Stats-pruned snapshot read: file skipping works on ANY version
        because each manifest carries its own per-file stats."""
        m = self.manifest(version)
        schema = StructType.fromJson(m["schema"])
        return scan_listed(self.spark, None, self._stats(m), schema, preds)[0]

    def changes(
        self,
        v_from: int,
        v_to: int,
        record_keys: list[str],
        emit_pre: bool = False,
    ) -> DataFrame:
        """Change data feed between two versions: one row per changed record
        with ``_change_type`` ∈ insert | update | delete and the POST image
        (pre image for deletes).

        With ``emit_pre=True`` updates emit TWO rows — Delta CDF style
        ``update_preimage`` (old values) + ``update_postimage`` (new values)
        — which is what downstream incremental aggregate maintenance needs:
        the pre image retracts the old contribution, the post image adds
        the new one (see queries/snapshotsq.py::snap_incremental_agg).

        Scans only files added or removed between the versions — rows in
        files common to both manifests are identical by immutability, so
        incremental consumers pay O(changed data).  Moved-but-unchanged
        rows (a COW rewrite carries every row of the file, changed or not)
        are dropped by an md5-over-all-columns equality check computed
        DISTRIBUTED, inside the join."""
        a = self.manifest(v_from)["files"]
        m = self.manifest(v_to)
        b = m["files"]
        # both sides read with v_to's schema: the columns of the change rows
        pre_a = self._read_files(m, set(a) - set(b))
        post_a = self._read_files(m, set(b) - set(a))
        schema_cols = pre_a.columns
        fp = F.md5(
            F.concat_ws(
                "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                          for c in schema_cols]
            )
        )
        pre_a = pre_a.withColumn("__fp", fp).alias("pre")
        post_a = post_a.withColumn("__fp", fp).alias("post")
        on = None
        for k in record_keys:
            e = F.col(f"pre.{k}").eqNullSafe(F.col(f"post.{k}"))
            on = e if on is None else on & e
        j = pre_a.join(post_a, on, "full_outer")
        pk = f"post.{record_keys[0]}"
        prek = f"pre.{record_keys[0]}"
        change = (
            F.when(F.col(prek).isNull(), F.lit("insert"))
            .when(F.col(pk).isNull(), F.lit("delete"))
            .when(F.col("pre.__fp") != F.col("post.__fp"), F.lit("update"))
        )  # NULL (dropped below) when fingerprints match: moved, not changed
        # pre image for deletes (post side absent), PURE post image for
        # everything else: a coalesce(post, pre) here would back-fill a
        # column an update set to NULL with its OLD value, silently breaking
        # the +post/-pre retraction algebra downstream MV maintenance runs.
        out_cols = [
            F.when(F.col(pk).isNull(), F.col(f"pre.{c}"))
            .otherwise(F.col(f"post.{c}"))
            .alias(c)
            for c in schema_cols
        ]
        if not emit_pre:
            return (
                j.withColumn("_change_type", change)
                .filter(F.col("_change_type").isNotNull())
                .select(*out_cols, "_change_type")
            )
        post_type = (
            F.when(F.col("_change_type") == "update", F.lit("update_postimage"))
            .otherwise(F.col("_change_type"))
        )
        labelled = j.withColumn("_change_type", change).filter(
            F.col("_change_type").isNotNull()
        )
        post_rows = labelled.select(
            *out_cols, post_type.alias("_change_type")
        )
        pre_rows = labelled.filter(
            F.col("_change_type") == "update"
        ).select(
            *[F.col(f"pre.{c}").alias(c) for c in schema_cols],
            F.lit("update_preimage").alias("_change_type"),
        )
        return post_rows.unionByName(pre_rows)

    # --------------------------------------------------------------- vacuum

    # ----------------------------------------------------------------- refs

    def _refs_path(self) -> str:
        return os.path.join(self.path, _LOG_DIR, "refs.json")

    def tags(self) -> dict[str, int]:
        """Named refs → versions (Iceberg tag parity)."""
        try:
            with open(self._refs_path()) as fh:
                return {k: int(v) for k, v in json.load(fh).items()}
        except FileNotFoundError:
            return {}

    def set_tag(self, name: str, version: int | None = None) -> dict[str, int]:
        """Tag a version with a stable name (Iceberg ``create_tag``): a
        metadata-only ref, atomically rewritten, resolvable by ``read``.
        Tagging pins nothing new — manifests are already immutable — it
        just gives a version a meaningful name ('prod-2024-06', 'pre-GDPR-
        purge') that survives later commits."""
        v = self.latest_version() if version is None else version
        if not os.path.exists(_manifest_path(self.path, v)):
            raise FileNotFoundError(f"no version {v} to tag at {self.path}")
        refs = self.tags()
        refs[name] = v
        tmp = f"{self._refs_path()}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(refs, fh)
        os.replace(tmp, self._refs_path())
        return refs

    def read_tag(self, name: str) -> DataFrame:
        """Time travel by NAME (Delta ``VERSION AS OF`` a tag)."""
        refs = self.tags()
        if name not in refs:
            raise KeyError(f"unknown tag {name!r}; have {sorted(refs)}")
        return self.read(refs[name])

    # ------------------------------------------------- write-audit-publish

    def _branch_path(self, name: str) -> str:
        return os.path.join(self.path, _LOG_DIR, f"branch-{name}.json")

    def stage_append(
        self, name: str, df: DataFrame, num_files: int | None = None
    ) -> dict:
        """Iceberg WAP step 1 (``stage-only`` / audit-branch write): df's
        files are written into the table directory under the branch's own
        namespace and recorded in a BRANCH manifest — main's version log
        is untouched, so readers never see the staged rows.  Constraints
        are NOT enforced here: the whole point of WAP is that the audit
        (step 2) runs arbitrary checks against the staged state before
        anything becomes visible."""
        if os.path.exists(self._branch_path(name)):
            raise ValueError(f"branch {name!r} already staged")
        parent = self.manifest()
        schema = _published_schema(parent, df)
        new = self._stage(
            df,
            -1,
            parent["stats_cols"],
            num_files=num_files,
            prefix=f"branch-{name}",
        )
        b = {
            "name": name,
            "base_version": parent["version"],
            "operation": "WAP_APPEND",
            "ts": time.time(),
            "staged_files": new,
            "files": {**parent["files"], **new},
            "schema": json.loads(schema.json()),
            "stats_cols": parent["stats_cols"],
        }
        _write_log(self._branch_path(name), b, self.path)
        return b

    def read_branch(self, name: str) -> DataFrame:
        """WAP step 2 (audit): the table AS IF the branch were published —
        main's files plus the staged ones — for DQ checks, row counts,
        reconciliation queries.  Reading never publishes."""
        b = _read_log(self._branch_path(name), self.path)
        return self._read_files(b, b["files"])

    def publish_branch(self, name: str) -> dict:
        """WAP step 3 (publish): fast-forward main to the audited branch —
        a METADATA-ONLY commit of the branch's file set.  Refuses when
        main advanced past the branch's base version (the staged state was
        audited against a table that no longer exists — re-stage), which
        is exactly Iceberg's cherry-pick conflict rule for WAP."""
        b = _read_log(self._branch_path(name), self.path)
        parent = self.manifest()
        if parent["version"] != b["base_version"]:
            raise ValueError(
                f"branch {name!r} was staged on version {b['base_version']} "
                f"but main is at {parent['version']}; re-stage and re-audit"
            )
        # Table CHECK constraints are enforced at COMMIT time like every
        # other write path — the WAP audit is for checks BEYOND the
        # table's declared invariants, not a bypass of them (Iceberg
        # likewise validates on cherry-pick, not on stage).
        self._enforce_constraints(
            parent, self._read_files(b, b["staged_files"])
        )
        m = self._publish(
            parent["version"] + 1,
            "WAP_PUBLISH",
            b["files"],
            StructType.fromJson(b["schema"]),
            b["stats_cols"],
            extra=self._carry(parent, {"published_branch": name}),
        )
        os.remove(self._branch_path(name))
        return m

    def discard_branch(self, name: str) -> dict:
        """Failed audit: physically delete the staged files (they were
        never referenced by any manifest) and drop the branch ref — main
        never knew."""
        b = _read_log(self._branch_path(name), self.path)
        for f in b["staged_files"]:
            try:
                os.remove(f)
            except FileNotFoundError:
                pass
        os.remove(self._branch_path(name))
        return {"discarded": name, "files_deleted": len(b["staged_files"])}

    def clone_to(self, dest: str, version: int | None = None
                 ) -> "SnapshotTable":
        """SHALLOW clone (Delta ``CREATE TABLE ... SHALLOW CLONE`` parity,
        Iceberg snapshot-ref semantics): a new table whose v0 manifest
        references THIS table's data files — metadata-only, zero data
        copied, O(manifest) time regardless of table size.  Subsequent
        writes to the clone land under the CLONE's directory, so the two
        tables diverge without ever touching each other's files; CHECK
        constraints are carried like any other commit.

        Caveat (same as Delta documents for shallow clones): vacuuming the
        SOURCE past the cloned version deletes files the clone still
        references — vacuum() reasons only over its own table's manifests.
        A deep clone is ``clone_to(...)`` followed by ``optimize()`` on
        the clone, which rewrites every referenced file locally."""
        m = self.manifest(version)
        t = SnapshotTable(self.spark, dest)
        t._publish(  # FileExistsError when dest already has a v0
            0,
            "CLONE",
            dict(m["files"]),
            StructType.fromJson(m["schema"]),
            list(m["stats_cols"]),
            extra=self._carry(
                m,
                {"source_path": self.path, "source_version": m["version"]},
            ),
        )
        return t

    def restore(self, version: int) -> dict:
        """Delta ``RESTORE TABLE ... TO VERSION`` parity: a METADATA-ONLY
        commit whose file set and schema are the target version's.  Data
        files are immutable and shared across manifests, so no bytes move;
        history is preserved — the restore is a NEW version on top, not a
        rollback, so time travel to the mistaken versions still works and
        CDF across the restore shows the net row changes.  Constraints
        added after the target version carry forward: a restore rewinds
        data, not governance."""
        parent = self.manifest()
        target = self.manifest(version)
        v = parent["version"] + 1
        return self._publish(
            v,
            "RESTORE",
            target["files"],
            StructType.fromJson(target["schema"]),
            target["stats_cols"],
            extra=self._carry(parent, {"restored_from": version}),
        )

    def vacuum(self, retain_last: int = 1) -> dict:
        """Expire old snapshots (Iceberg `expire_snapshots` / Delta VACUUM):
        keep the newest ``retain_last`` manifests, delete files referenced
        ONLY by expired ones."""
        vs = self.versions()
        keep_vs = vs[-retain_last:]
        drop_vs = vs[:-retain_last]
        # a branch staged on an old base still needs that base's files for
        # read_branch/publish_branch: vacuuming past the base must not
        # strand an in-flight audit
        live = self._branch_files()
        for v in keep_vs:
            live |= set(self.manifest(v)["files"])
        dead: set[str] = set()
        for v in drop_vs:
            dead |= set(self.manifest(v)["files"])
        dead -= live
        for f in dead:
            try:
                os.remove(f)
            except FileNotFoundError:
                pass
        for v in drop_vs:
            os.remove(_manifest_path(self.path, v))
        return {
            "files_deleted": len(dead),
            "versions_expired": drop_vs,
            "versions_kept": keep_vs,
        }

    def _branch_files(self) -> set[str]:
        """Every file a staged WAP branch references, base and staged."""
        live: set[str] = set()
        for bp in glob.glob(os.path.join(self.path, _LOG_DIR, "branch-*.json")):
            b = _read_log(bp, self.path)
            live |= set(b.get("files", [])) | set(b.get("staged_files", []))
        return live

    def cherry_pick(
        self,
        version: int,
        record_keys: list[str],
        precombine: str,
        num_files: int | None = None,
    ) -> dict:
        """Re-apply ONE historical commit's changes onto the current head
        (Delta ``CHERRY-PICK`` / git-style reapply): the change data feed
        of ``version`` (vs its parent) is replayed as a keyed upsert, so
        a commit undone by RESTORE can be selectively recovered without
        replaying everything after it.  Insert/update post-images replay
        directly; a commit containing DELETES refuses loudly (replaying a
        delete needs an anti-join delete path, not a predicate delete —
        extend ``delete_where`` before allowing it).

        100-TB shape: the CDF diff reads only the files that changed in
        the picked commit, and the replay is one ordinary scoped upsert —
        cherry-pick costs O(picked commit), never O(table)."""
        diff = self.changes(version - 1, version, record_keys)
        n_deletes = diff.filter(F.col("_change_type") == "delete").count()
        if n_deletes:
            raise NotImplementedError(
                f"cherry_pick of version {version}: commit contains "
                f"{n_deletes} deletes; replaying deletes needs an anti-"
                "join delete path (predicate deletes cannot express a "
                "key list)"
            )
        ups = diff.filter(
            F.col("_change_type").isin("insert", "update")
        ).drop("_change_type")
        return self.upsert(ups, record_keys, precombine,
                           num_files=num_files)

    def remove_orphans(
        self, dry_run: bool = False, older_than_s: float = 259_200.0
    ) -> dict:
        """GC for UNTRACKED files (Iceberg ``remove_orphan_files`` parity)
        — the complement of ``vacuum``: vacuum expires files that old
        manifests still reference; this removes data files in the table
        directory that NO manifest version and NO staged branch references
        at all (crashed writers, aborted stages, manual copies).  Every
        referenced file — any version, any branch — is live; only
        ``*.parquet`` files outside that set are touched, never manifests
        or foreign extensions.  ``dry_run`` reports without deleting.

        ``older_than_s`` is the mtime grace window (Iceberg's 3-day
        default): a concurrent writer's freshly-written parquet exists on
        disk BEFORE its ``_publish``/branch JSON lands, so an unreferenced
        file younger than the cutoff is in-flight, not orphaned — deleting
        it would destroy an active commit's output.  Pass ``0.0`` only
        when single-writer access is guaranteed (tests do)."""
        live = self._branch_files()
        for v in self.versions():
            live |= set(self.manifest(v)["files"])
        on_disk = set(
            glob.glob(os.path.join(os.path.abspath(self.path), "*.parquet"))
        )
        cutoff = time.time() - older_than_s

        def _past_grace(f: str) -> bool:
            # A file can vanish between the glob and the stat (another GC
            # pass, or a writer aborting its own staging file) — treat a
            # vanished file as not-ours-to-collect this pass instead of
            # aborting the whole GC with FileNotFoundError.
            try:
                return os.path.getmtime(f) <= cutoff
            except OSError:
                return False

        orphans = sorted(f for f in on_disk - live if _past_grace(f))
        if not dry_run:
            for f in orphans:
                try:
                    os.remove(f)
                except FileNotFoundError:
                    pass  # already collected concurrently
        return {
            "orphans": orphans,
            "n_orphans": len(orphans),
            "n_live": len(on_disk & live),
            "dry_run": dry_run,
        }
