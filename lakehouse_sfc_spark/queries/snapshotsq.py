"""Snapshot-table queries: time travel, change data feed, and schema
evolution over the native manifest-log table (`table/snapshots.py`) —
driver-checkable parity with Delta `versionAsOf`/CDF, Hudi incremental
pull, and Iceberg snapshot reads (the features the reference gets from its
engines' transaction logs, SURVEY.md §1.4).

Each query replays a deterministic five-commit history over `orders`:

  v0  CREATE   all orders (linear layout on o_orderkey, 8 files)
  v1  UPSERT   update  o_orderkey % 7 == 0  → o_totalprice + 1000
               insert  o_orderkey % 97 == 0 → key + 100_000_000
  v2  DELETE   o_orderdate < 1997-01-01   (retention delete, COW)
  v3  APPEND   o_orderkey % 101 == 0 → key + 200_000_000, NEW column
               o_channel = 'evolved'  (schema evolution)
  v4  OPTIMIZE z-order on (o_orderkey, o_custkey), 4 files (rows unchanged)

and the oracle reconstructs every version closed-form from the raw table —
the same correctness-by-invariance strategy as the layout queries.  The
chain and its sibling tables are each built once per dataset fingerprint
(``sources.loader.build_once``) and never gain a commit afterwards, so the
queries sharing one see the same history whatever order they run in.
"""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_sfc_spark.queries.registry import dsum, register, sql_dsum
from lakehouse_sfc_spark.sources.loader import (
    build_once,
    load_table,
    materialize_once,
    scratch_dir,
)
from lakehouse_sfc_spark.table import Pred
from lakehouse_sfc_spark.table.snapshots import SnapshotTable

_VERSION = "v4"  # bump when the commit-chain semantics change
_CUTOFF = datetime.datetime(1997, 1, 1)
_COLS = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]


def _chain_root(sf_dir: str) -> str:
    """Cache dir of the shared commit chain and its sibling tables.  Each
    table is built into a tmp sibling and published whole by
    ``build_once``; manifests key files relative to the table directory,
    so the rename keeps every version readable (a clone's ``../`` keys
    to its source included)."""
    return scratch_dir(f"snap_cache/{_VERSION}", sf_dir, ("orders",))


def _chain(spark: SparkSession, sf_dir: str, name: str, build) -> SnapshotTable:
    """The cached table ``name``, built by ``build(path)`` on first use."""
    path = build_once(os.path.join(_chain_root(sf_dir), name), build)
    return SnapshotTable(spark, path)


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(*_COLS)


def _create_linear(orders: DataFrame, path: str) -> SnapshotTable:
    """v0 CREATE: all of ``orders``, 8 files linear on o_orderkey."""
    return SnapshotTable.create(
        orders,
        path,
        stats_cols=["o_orderkey", "o_orderdate"],
        layout="linear",
        layout_cols=["o_orderkey"],
        num_files=8,
    )


def _upsert_then_delete(t: SnapshotTable, orders: DataFrame) -> None:
    """v1 UPSERT (+1000 on %7 keys, %97 keys inserted shifted +100M) and
    v2 retention DELETE (o_orderdate < 1997-01-01)."""
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000.0
    )
    inserts = orders.filter(F.col("o_orderkey") % 97 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 100_000_000
    )
    t.upsert(updates.unionByName(inserts), ["o_orderkey"], "o_totalprice")
    t.delete_where([Pred("o_orderdate", "<", _CUTOFF)])


def _snapshot_table(spark: SparkSession, sf_dir: str) -> SnapshotTable:
    """The shared v0-v4 chain of the module docstring."""

    def build(path: str) -> None:
        orders = _orders(spark, sf_dir)
        t = _create_linear(orders, path)
        _upsert_then_delete(t, orders)
        t.append(
            orders.filter(F.col("o_orderkey") % 101 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + 200_000_000)
            .withColumn("o_channel", F.lit("evolved"))
        )
        t.optimize(
            layout="zorder",
            layout_cols=["o_orderkey", "o_custkey"],
            num_files=4,
        )

    return _chain(spark, sf_dir, "orders_snap", build)


_SQL_STATES = f"""
    WITH state0 AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
    ),
    state1 AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        FROM orders WHERE o_orderkey % 7 <> 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice + 1000.0, o_orderdate
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey + 100000000, o_custkey, o_totalprice, o_orderdate
        FROM orders WHERE o_orderkey % 97 = 0
    ),
    state2 AS (
        SELECT * FROM state1 WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    ),
    appended AS (
        SELECT o_orderkey + 200000000 AS o_orderkey, o_custkey,
               o_totalprice, o_orderdate
        FROM orders WHERE o_orderkey % 101 = 0
    )
"""


@register(
    "snap_time_travel",
    oracle=f"""
    {_SQL_STATES}
    SELECT CAST(0 AS INT) AS version, COUNT(*) AS cnt,
           {sql_dsum("o_totalprice", "sum_price")} FROM state0
    UNION ALL
    SELECT CAST(1 AS INT), COUNT(*), {sql_dsum("o_totalprice", "sum_price")}
    FROM state1
    UNION ALL
    SELECT CAST(2 AS INT), COUNT(*), {sql_dsum("o_totalprice", "sum_price")}
    FROM state2
    UNION ALL
    SELECT CAST(3 AS INT), COUNT(*), {sql_dsum("o_totalprice", "sum_price")}
    FROM (SELECT * FROM state2
          UNION ALL SELECT * FROM appended)
    ORDER BY version
    """,
)
def snap_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: aggregate EVERY historical version of the snapshot table
    (Delta `versionAsOf` / Iceberg snapshot read).  Each version's file set
    comes from its own manifest; the oracle recomputes the four states
    closed-form from raw `orders`."""
    t = _snapshot_table(spark, sf_dir)
    parts = []
    for v in range(4):
        parts.append(
            t.read(v).agg(
                F.lit(v).cast("int").alias("version"),
                F.count(F.lit(1)).alias("cnt"),
                dsum("o_totalprice", "sum_price"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("version")


@register(
    "snap_cdf",
    oracle=f"""
    SELECT 'delete' AS _change_type, COUNT(*) AS cnt,
           {sql_dsum("o_totalprice", "sum_price")}
    FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
    UNION ALL
    SELECT 'insert', COUNT(*), {sql_dsum("o_totalprice", "sum_price")}
    FROM orders
    WHERE o_orderkey % 97 = 0 AND o_orderdate >= TIMESTAMP '1997-01-01'
    UNION ALL
    SELECT 'update', COUNT(*), {sql_dsum("o_totalprice + 1000.0", "sum_price")}
    FROM orders
    WHERE o_orderkey % 7 = 0 AND o_orderdate >= TIMESTAMP '1997-01-01'
    ORDER BY _change_type
    """,
)
def snap_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed v0 → v2 (Delta CDF / Hudi incremental query): per
    change type, row count and summed price over the post image (pre image
    for deletes).  `changes` scans only files added or removed between the
    manifests — O(changed data), the incremental-consumption contract.

    Oracle: inserts = new keys still alive at v2; updates = %7 keys
    surviving the retention delete (post price = original + 1000); deletes
    = every v0 row older than the cutoff (pre price)."""
    t = _snapshot_table(spark, sf_dir)
    return (
        t.changes(0, 2, ["o_orderkey"])
        .groupBy("_change_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice", "sum_price"),
        )
        .orderBy("_change_type")
    )


@register(
    "snap_schema_evolution",
    oracle=f"""
    {_SQL_STATES}
    SELECT channel, COUNT(*) AS cnt, {sql_dsum("o_totalprice", "sum_price")}
    FROM (
        SELECT 'legacy' AS channel, o_totalprice FROM state2
        UNION ALL
        SELECT 'evolved' AS channel, o_totalprice FROM appended
    )
    GROUP BY channel
    ORDER BY channel
    """,
)
def snap_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: v3 appended a NEW `o_channel` column; the merged
    read null-fills it for pre-evolution files (Delta/Iceberg add-column
    semantics) and the aggregate groups on the coalesced value."""
    t = _snapshot_table(spark, sf_dir)
    return (
        t.read(3)
        .groupBy(
            F.coalesce(F.col("o_channel"), F.lit("legacy")).alias("channel")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice", "sum_price"),
        )
        .orderBy("channel")
    )




# --- shared CDF-maintenance algebra (snap_incremental_agg / snap_cdf_chained)

def _cdf_delta(t: SnapshotTable, v_from: int, v_to: int) -> DataFrame:
    """Per-bucket retraction delta from the change feed: +1/+price for
    insert and update POST images, -1/-price for delete and update PRE
    images — the maintenance algebra both incremental-agg queries share."""
    price = F.col("o_totalprice").cast("decimal(18,2)")
    bucket = (F.col("o_custkey") % 10).alias("bucket")
    sign = (
        F.when(
            F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
        )
        .when(
            F.col("_change_type").isin("delete", "update_preimage"), F.lit(-1)
        )
    )
    return (
        t.changes(v_from, v_to, ["o_orderkey"], emit_pre=True)
        .select(bucket, sign.alias("sign"), price.alias("p"))
        .groupBy("bucket")
        .agg(
            F.sum("sign").alias("dc"),
            F.sum(F.col("sign") * F.col("p")).alias("ds"),
        )
    )


def _apply_delta(acc: DataFrame, delta: DataFrame) -> DataFrame:
    """acc(bucket, cnt, s) + delta(bucket, dc, ds), full-outer on bucket."""
    # column exprs built inside the function: module-level F.lit would run
    # at import time, before any SparkSession exists (pytest collection)
    zero = F.lit(0).cast("decimal(18,2)")
    return acc.join(delta, "bucket", "full_outer").select(
        "bucket",
        (
            F.coalesce(F.col("cnt"), F.lit(0))
            + F.coalesce(F.col("dc"), F.lit(0))
        ).alias("cnt"),
        (F.coalesce(F.col("s"), zero) + F.coalesce(F.col("ds"), zero))
        .cast("decimal(18,2)")
        .alias("s"),
    )


@register(
    "snap_incremental_agg",
    oracle=f"""
    {_SQL_STATES}
    SELECT o_custkey % 10 AS bucket, COUNT(*) AS cnt,
           {sql_dsum("o_totalprice", "sum_price")}
    FROM (SELECT * FROM state2 UNION ALL SELECT * FROM appended)
    GROUP BY 1
    ORDER BY 1
    """,
)
def snap_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: an aggregate materialized
    at v0 is brought to v3 by applying ONLY the change feed — no base-table
    rescan — and must equal a from-scratch recompute (which is exactly what
    the oracle does over the reconstructed final state).

    Maintenance algebra (shared `_cdf_delta`/`_apply_delta`): per group,
    inserts and update POST images add (+count, +price), deletes and
    update PRE images retract (-count, -price); sums ride exact DECIMAL so
    retraction is lossless.  This is the streaming-MV contract (Delta CDF
    -> MERGE, Flink retract streams): at 100 TB the base aggregate is
    touched once ever, and each refresh costs O(changed rows) — `changes`
    reads only files that differ between the manifests."""
    t = _snapshot_table(spark, sf_dir)
    base = t.read(0).groupBy((F.col("o_custkey") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
    )
    acc = _apply_delta(base, _cdf_delta(t, 0, 3))
    return (
        acc.filter(F.col("cnt") > 0)
        .select(
            "bucket", "cnt", F.col("s").cast("double").alias("sum_price")
        )
        .orderBy("bucket")
    )


@register(
    "snap_optimize_layout",
    oracle=f"""
    {_SQL_STATES}
    SELECT o_custkey % 10 AS bucket, COUNT(*) AS cnt,
           {sql_dsum("o_totalprice", "sum_price")},
           4 AS n_files_opt
    FROM (SELECT * FROM state2 UNION ALL SELECT * FROM appended)
    GROUP BY 1
    ORDER BY 1
    """,
)
def snap_optimize_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE as a snapshot commit (Delta ``OPTIMIZE ZORDER BY`` /
    Iceberg ``rewrite_data_files``): the chain's v3 table was rewritten
    into 4 z-ordered files as version 4, and the aggregate over the
    optimized version must equal the closed-form final state — rewriting
    is a pure physical operation, rows bit-identical, history intact
    (v0-v3 stay time-travelable because their manifests still reference
    the old files).  The emitted n_files_opt pins the rewrite's file
    budget."""
    t = _snapshot_table(spark, sf_dir)
    n_files = len(t.manifest(4)["files"])
    return (
        t.read(4)
        .groupBy((F.col("o_custkey") % 10).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice", "sum_price"),
        )
        .withColumn("n_files_opt", F.lit(n_files))
        .orderBy("bucket")
    )


def _merge_table(spark: SparkSession, sf_dir: str) -> SnapshotTable:
    """A dedicated chain for the MERGE demo (separate from the shared
    5-version chain so the two caches never interfere): v0 = all orders,
    v1 = one MERGE batch carrying updates (%11 keys, +500), deletes
    (%13 keys, matched_delete condition) and inserts (%17 keys + 5e7)."""

    def build(path: str) -> None:
        orders = _orders(spark, sf_dir)
        t = _create_linear(orders, path)
        k = F.col("o_orderkey")
        updates = orders.filter((k % 11 == 0) & (k % 13 != 0)).withColumn(
            "o_totalprice", F.col("o_totalprice") + 500.0
        )
        deletes = orders.filter(k % 13 == 0)
        inserts = orders.filter(k % 17 == 0).withColumn(
            "o_orderkey", k + 50_000_000
        )
        t.merge_into(
            updates.unionByName(deletes).unionByName(inserts),
            ["o_orderkey"],
            matched_delete=(k % 13 == 0),
        )

    return _chain(spark, sf_dir, "orders_merge", build)


@register(
    "snap_merge",
    oracle=f"""
    WITH final AS (
      SELECT o_orderkey,
             o_totalprice + CASE WHEN o_orderkey % 11 = 0 THEN 500.0
                                 ELSE 0.0 END AS o_totalprice
      FROM orders WHERE o_orderkey % 13 <> 0
      UNION ALL
      SELECT o_orderkey + 50000000, o_totalprice
      FROM orders WHERE o_orderkey % 17 = 0
    )
    SELECT COUNT(*) AS cnt,
           COUNT(DISTINCT o_orderkey) AS n_keys,
           {sql_dsum("o_totalprice", "sum_price")},
           MAX(o_orderkey) AS max_key
    FROM final
    """,
)
def snap_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MERGE INTO in one commit — update, conditional delete, and
    insert clauses together (Delta/Iceberg MERGE parity; `upsert` alone is
    the latest-wins subset).  The oracle reconstructs the post-merge state
    closed-form from raw orders: %13 keys deleted, %11 keys repriced,
    %17 keys inserted under shifted keys, everything else untouched."""
    t = _merge_table(spark, sf_dir)
    return t.read(1).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_distinct(F.col("o_orderkey")).alias("n_keys"),
        dsum("o_totalprice", "sum_price"),
        F.max("o_orderkey").alias("max_key"),
    )


@register(
    "snap_cdf_chained",
    oracle=f"""
    {_SQL_STATES}
    SELECT o_custkey % 10 AS bucket, COUNT(*) AS cnt,
           {sql_dsum("o_totalprice", "sum_price")}
    FROM (SELECT * FROM state2 UNION ALL SELECT * FROM appended)
    GROUP BY 1
    ORDER BY 1
    """,
)
def snap_cdf_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-by-commit CDF consumption: the aggregate maintained by
    applying each version's change feed AS IT LANDS — changes(0,1), then
    changes(1,2), then changes(2,3) — must equal the from-scratch
    recompute, exactly like `snap_incremental_agg`'s single 0→3 pull.
    This is the contract a STREAMING maintenance consumer relies on:
    per-commit deltas compose, so a subscriber that processes every
    commit needs no full pull, ever.  Each pull reads only the files
    differing between adjacent manifests."""
    t = _snapshot_table(spark, sf_dir)
    acc = t.read(0).groupBy((F.col("o_custkey") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
    )
    for v in range(3):
        acc = _apply_delta(acc, _cdf_delta(t, v, v + 1))
    return (
        acc.filter(F.col("cnt") > 0)
        .select(
            "bucket", "cnt", F.col("s").cast("double").alias("sum_price")
        )
        .orderBy("bucket")
    )


def _restore_table(spark: SparkSession, sf_dir: str) -> SnapshotTable:
    """CREATE → UPSERT → DELETE → RESTORE(1) chain for snap_restore, cached
    like the main chain (own root — restore mutates history, so it must not
    share the table the other snapshot queries replay), with snap_tags'
    three tags set in the same build."""

    def build(path: str) -> None:
        orders = _orders(spark, sf_dir)
        t = _create_linear(orders, path)
        _upsert_then_delete(t, orders)
        t.restore(1)
        t.set_tag("initial", 0)
        t.set_tag("post-upsert", 1)
        t.set_tag("restored", 3)

    return _chain(spark, sf_dir, "orders_restore", build)


def _wap_table(spark: SparkSession, sf_dir: str) -> SnapshotTable:
    """CREATE → stage_append(good) → publish_branch chain for snap_wap,
    with a BAD batch (negative prices) left staged on the ``audit`` branch
    (own root; built once, read-only afterwards)."""

    def build(path: str) -> None:
        orders = _orders(spark, sf_dir)
        t = _create_linear(orders, path)
        good = orders.filter(F.col("o_orderkey") % 17 == 0).withColumn(
            "o_orderkey", F.col("o_orderkey") + 400_000_000
        )
        t.stage_append("etl-good", good, num_files=2)
        t.publish_branch("etl-good")
        bad = (
            orders.filter(F.col("o_orderkey") % 13 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + 300_000_000)
            .withColumn("o_totalprice", F.lit(-1.0))
        )
        t.stage_append("audit", bad, num_files=2)

    return _chain(spark, sf_dir, "orders_wap", build)


@register(
    "snap_wap",
    oracle=f"""
    {_SQL_STATES},
    good AS (
      SELECT o_orderkey + 400000000 AS o_orderkey, o_custkey,
             o_totalprice, o_orderdate
      FROM orders WHERE o_orderkey % 17 = 0
    ),
    bad AS (
      SELECT o_orderkey + 300000000 AS o_orderkey, o_custkey,
             CAST(-1.0 AS DOUBLE) AS o_totalprice, o_orderdate
      FROM orders WHERE o_orderkey % 13 = 0
    )
    SELECT 'audit_staged' AS phase, COUNT(*) AS cnt,
           {sql_dsum("o_totalprice", "sum_price")},
           CAST(COUNT(*) FILTER (WHERE o_totalprice < 0) AS BIGINT)
             AS n_violations
    FROM (SELECT * FROM state0 UNION ALL SELECT * FROM good
          UNION ALL SELECT * FROM bad)
    UNION ALL
    SELECT 'main_v0', COUNT(*), {sql_dsum("o_totalprice", "sum_price")},
           CAST(COUNT(*) FILTER (WHERE o_totalprice < 0) AS BIGINT)
    FROM state0
    UNION ALL
    SELECT 'published_v1', COUNT(*),
           {sql_dsum("o_totalprice", "sum_price")},
           CAST(COUNT(*) FILTER (WHERE o_totalprice < 0) AS BIGINT)
    FROM (SELECT * FROM state0 UNION ALL SELECT * FROM good)
    ORDER BY phase
    """,
)
def snap_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish (Iceberg WAP / audit branches): a good batch
    was staged, audited, and PUBLISHED as v1, and a BAD batch (negative
    prices) sits staged on an audit branch; each run reads it back — the
    audit view shows the violations while main (v0/v1) never contains
    them, which is the entire WAP guarantee.
    n_violations is the audit verdict column: >0 on the staged view, 0 on
    every published version (table/snapshots.py::stage_append/
    read_branch/publish_branch/discard_branch)."""
    t = _wap_table(spark, sf_dir)

    def _agg(df: DataFrame, phase: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice", "sum_price"),
            F.count(F.when(F.col("o_totalprice") < 0, 1)).alias(
                "n_violations"
            ),
        ).select(F.lit(phase).alias("phase"), "cnt", "sum_price",
                 "n_violations")

    out = (
        _agg(t.read_branch("audit"), "audit_staged")
        .unionByName(_agg(t.read(0), "main_v0"))
        .unionByName(_agg(t.read(1), "published_v1"))
    )
    return out.orderBy("phase")


def _vacuum_table(spark: SparkSession, sf_dir: str) -> SnapshotTable:
    """CREATE → DELETE → APPEND → VACUUM(retain_last=2) chain (own root —
    vacuum physically deletes files and manifests, so it must never touch
    the chain the other snapshot queries replay)."""

    def build(path: str) -> None:
        orders = _orders(spark, sf_dir)
        t = _create_linear(orders, path)
        t.delete_where([Pred("o_orderdate", "<", _CUTOFF)])
        t.append(
            orders.filter(F.col("o_orderkey") % 101 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + 200_000_000)
        )
        t.vacuum(retain_last=2)

    return _chain(spark, sf_dir, "orders_vacuum", build)


@register(
    "snap_vacuum",
    oracle=f"""
    {_SQL_STATES}
    SELECT CAST(1 AS INT) AS version, 'DELETE' AS op,
           COUNT(*) AS cnt, {sql_dsum("o_totalprice", "sum_price")}
    FROM state0 WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    UNION ALL
    SELECT CAST(2 AS INT), 'APPEND',
           COUNT(*), {sql_dsum("o_totalprice", "sum_price")}
    FROM (SELECT * FROM state0 WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          UNION ALL SELECT * FROM appended)
    ORDER BY version
    """,
)
def snap_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM / expire_snapshots (Delta VACUUM, Iceberg expire_snapshots):
    after CREATE → DELETE → APPEND, the two newest snapshots are retained
    and v0's exclusively-referenced files are PHYSICALLY deleted (shared
    COW files survive — they still back v1/v2).  The surviving versions
    must aggregate exactly like their closed-form states, proving vacuum
    removed only unreferenced bytes; v0 itself is gone from the version
    log (tests/test_snapshots.py pins that its read fails)."""
    t = _vacuum_table(spark, sf_dir)
    out = None
    for v in t.versions():
        m = t.manifest(v)
        agg = (
            t.read(v)
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                dsum("o_totalprice", "sum_price"),
            )
            .select(
                F.lit(v).cast("int").alias("version"),
                F.lit(m["operation"]).alias("op"),
                "cnt",
                "sum_price",
            )
        )
        out = agg if out is None else out.unionByName(agg)
    return out.orderBy("version")


@register(
    "snap_restore",
    oracle=f"""
    {_SQL_STATES}
    SELECT CAST(0 AS INT) AS version, 'CREATE' AS op,
           COUNT(*) AS cnt, {sql_dsum("o_totalprice", "sum_price")}
    FROM state0
    UNION ALL
    SELECT CAST(1 AS INT), 'UPSERT', COUNT(*),
           {sql_dsum("o_totalprice", "sum_price")} FROM state1
    UNION ALL
    SELECT CAST(2 AS INT), 'DELETE', COUNT(*),
           {sql_dsum("o_totalprice", "sum_price")} FROM state2
    UNION ALL
    SELECT CAST(3 AS INT), 'RESTORE', COUNT(*),
           {sql_dsum("o_totalprice", "sum_price")} FROM state1
    ORDER BY version
    """,
)
def snap_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE TO VERSION (Delta parity): an accidental retention
    delete (v2) is undone by restoring to v1 — a metadata-only commit that
    re-points the manifest at v1's immutable files, so the table's live
    state at v3 must aggregate EXACTLY like v1 while the mistaken v2 stays
    time-travelable.  The oracle replays every state closed-form; v3
    re-uses state1, which is the restore contract itself."""
    t = _restore_table(spark, sf_dir)
    out = None
    for v in t.versions():
        m = t.manifest(v)
        agg = (
            t.read(v)
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                dsum("o_totalprice", "sum_price"),
            )
            .select(
                F.lit(v).cast("int").alias("version"),
                F.lit(m["operation"]).alias("op"),
                "cnt",
                "sum_price",
            )
        )
        out = agg if out is None else out.unionByName(agg)
    return out.orderBy("version")


@register(
    "snap_tags",
    oracle=f"""
    {_SQL_STATES}
    SELECT 'initial' AS tag, CAST(0 AS INT) AS version,
           COUNT(*) AS cnt, {sql_dsum("o_totalprice", "sum_price")}
    FROM state0
    UNION ALL
    SELECT 'post-upsert', CAST(1 AS INT), COUNT(*),
           {sql_dsum("o_totalprice", "sum_price")} FROM state1
    UNION ALL
    SELECT 'restored', CAST(3 AS INT), COUNT(*),
           {sql_dsum("o_totalprice", "sum_price")} FROM state1
    ORDER BY tag
    """,
)
def snap_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named refs (Iceberg tag / Delta named-version parity): versions of
    the restore chain are tagged ('initial' → v0, 'post-upsert' → v1,
    'restored' → v3) and each tag is read back BY NAME — proving refs
    resolve through the same manifest machinery as numeric time travel.
    'restored' aggregates exactly like 'post-upsert': a tag on a RESTORE
    commit sees the restored (v1) data, which the oracle asserts by
    reusing state1 for both."""
    t = _restore_table(spark, sf_dir)
    out = None
    for name in sorted(t.tags()):
        v = t.tags()[name]
        agg = (
            t.read_tag(name)
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                dsum("o_totalprice", "sum_price"),
            )
            .select(
                F.lit(name).alias("tag"),
                F.lit(v).cast("int").alias("version"),
                "cnt",
                "sum_price",
            )
        )
        out = agg if out is None else out.unionByName(agg)
    return out.orderBy("tag")


@register(
    "snap_clone",
    oracle=f"""
    {_SQL_STATES},
    state3 AS (SELECT * FROM state2 UNION ALL SELECT * FROM appended),
    clone_extra AS (
        SELECT o_orderkey + 300000000 AS o_orderkey, o_custkey,
               o_totalprice, o_orderdate
        FROM orders WHERE o_orderkey % 103 = 0
    )
    SELECT 'clone' AS rel, COUNT(*) AS cnt,
           {sql_dsum("o_totalprice", "sum_price")},
           TRUE AS refs_source_files
    FROM (SELECT * FROM state3 UNION ALL SELECT * FROM clone_extra)
    UNION ALL
    SELECT 'source', COUNT(*), {sql_dsum("o_totalprice", "sum_price")},
           FALSE
    FROM state3
    ORDER BY rel
    """,
)
def snap_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE + divergence (Delta CLONE parity): clone the
    5-commit orders chain at its head — a metadata-only commit that
    references the source's files, zero data copied — append a divergent
    slice to the clone, and read BOTH tables back: the source must be
    bit-unchanged and the clone must equal source ∪ extra.
    ``refs_source_files`` is computed from the actual manifests (does the
    relation's head reference any file outside its own directory?) — true
    for the clone (the zero-copy proof), false for the source — and the
    oracle pins it as the closed-form expectation.  The Delta-documented
    caveat (source vacuum orphans shallow clones) lives on
    ``SnapshotTable.clone_to``; ``snap_vacuum`` runs on an isolated chain
    for exactly that reason."""
    src = _snapshot_table(spark, sf_dir)

    def build(path: str) -> None:
        clone = src.clone_to(path)
        clone.append(
            _orders(spark, sf_dir)
            .filter(F.col("o_orderkey") % 103 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + 300_000_000)
        )

    clone = _chain(spark, sf_dir, "orders_clone", build)

    def _refs_foreign(t: SnapshotTable) -> bool:
        own = os.path.abspath(t.path) + os.sep
        return any(not f.startswith(own) for f in t.manifest()["files"])

    def _summary(t: SnapshotTable, rel: str) -> DataFrame:
        return t.read().agg(
            F.lit(rel).alias("rel"),
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice", "sum_price"),
            F.lit(_refs_foreign(t)).alias("refs_source_files"),
        ).select("rel", "cnt", "sum_price", "refs_source_files")

    return (
        _summary(clone, "clone")
        .unionByName(_summary(src, "source"))
        .orderBy("rel")
    )


# --- partition-spec evolution ------------------------------------------------

_EVO_CUT = datetime.datetime(1996, 7, 1)
_EVO_CUSTKEY_MAX = 500


def _specevo_table(spark: SparkSession, sf_dir: str) -> SnapshotTable:
    """v0 CREATE: pre-1996-07 orders clustered + stat'd on o_orderdate only
    (spec A: time-partitioned facts).  v1 EVOLVE-SPEC: future writes
    cluster + stat on o_custkey (spec B: the access pattern changed to
    per-customer lookups — the canonical reason Iceberg grew spec
    evolution).  v2 APPEND: the remaining orders land under spec B.  The
    chain is cached per dataset fingerprint like every snap_* chain."""

    def build(path: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            *_COLS, "o_orderpriority"
        )
        t = SnapshotTable.create(
            orders.filter(F.col("o_orderdate") < _EVO_CUT),
            path,
            stats_cols=["o_orderdate"],
            layout="linear",
            layout_cols=["o_orderdate"],
            num_files=8,
        )
        t.evolve_spec(
            layout="linear", layout_cols=["o_custkey"], stats_cols=["o_custkey"]
        )
        t.append(orders.filter(F.col("o_orderdate") >= _EVO_CUT), num_files=8)

    return _chain(spark, sf_dir, "orders_specevo", build)


@register(
    "snap_partition_evolution",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS cnt,
           {sql_dsum("o_totalprice", "sum_price")}
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_custkey <= {_EVO_CUSTKEY_MAX}
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def snap_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution end-to-end (Iceberg ``ADD PARTITION FIELD``
    parity, natively): the chain's old files are date-clustered with
    date-only stats, its post-evolution files are custkey-clustered with
    custkey stats, and ONE scan with predicates on both dimensions prunes
    each file under the spec it was written with — date stats knock out
    every pre-evolution file (all < 1996-07), custkey stats knock out most
    post-evolution files, and no file is ever wrongly pruned on a column it
    carries no stats for (the conservative per-file rule in
    ``pruning.prune_files``; pytest pins the file-count proof).  The
    surviving files still get the exact residual filter, so the result
    equals the plain filtered aggregate the oracle runs.

    100-TB shape: spec evolution is a metadata-only commit (zero data
    rewritten — the whole point vs. re-clustering the table), scans stay
    O(surviving files), and the manifest's stats union means one planning
    pass handles arbitrarily many historical specs."""
    t = _specevo_table(spark, sf_dir)
    pruned = t.scan(
        [
            Pred("o_orderdate", ">=", datetime.datetime(1997, 1, 1)),
            Pred("o_custkey", "<=", _EVO_CUSTKEY_MAX),
        ]
    )
    return (
        pruned.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice", "sum_price"),
        )
        .orderBy("o_orderpriority")
    )


# --- row lineage --------------------------------------------------------------


def _lineage_table(spark: SparkSession, sf_dir: str) -> SnapshotTable:
    """v0 CREATE with row lineage on o_orderkey; v1 UPSERT (+1000 updates
    on %7 keys, inserts %97 shifted +100M); v2 UPSERT (+5000 updates on
    %13 keys — strictly beats any prior value so latest-wins is
    key-arithmetic-predictable, inserts %89 shifted +200M)."""

    def build(path: str) -> None:
        orders = _orders(spark, sf_dir)
        t = SnapshotTable.create(
            orders,
            path,
            stats_cols=["o_orderkey"],
            layout="linear",
            layout_cols=["o_orderkey"],
            num_files=8,
            lineage_keys=["o_orderkey"],
        )
        up1 = (
            orders.filter(F.col("o_orderkey") % 7 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
            .unionByName(
                orders.filter(F.col("o_orderkey") % 97 == 0).withColumn(
                    "o_orderkey", F.col("o_orderkey") + 100_000_000
                )
            )
        )
        t.upsert(up1, ["o_orderkey"], "o_totalprice")
        up2 = (
            orders.filter(F.col("o_orderkey") % 13 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + 5000.0)
            .unionByName(
                orders.filter(F.col("o_orderkey") % 89 == 0).withColumn(
                    "o_orderkey", F.col("o_orderkey") + 200_000_000
                )
            )
        )
        t.upsert(up2, ["o_orderkey"], "o_totalprice")

    return _chain(spark, sf_dir, "orders_lineage", build)


@register(
    "snap_row_lineage",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rid
        FROM orders),
    n0 AS (SELECT COUNT(*) AS n FROM base),
    ins1 AS (
        SELECT o_totalprice,
               (SELECT n FROM n0)
                 + ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rid
        FROM orders WHERE o_orderkey % 97 = 0),
    n1 AS (SELECT COUNT(*) AS n FROM ins1),
    ins2 AS (
        SELECT o_totalprice,
               (SELECT n FROM n0) + (SELECT n FROM n1)
                 + ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rid
        FROM orders WHERE o_orderkey % 89 = 0),
    fin AS (
        SELECT rid,
               CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 5000.0
                    WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
                    ELSE o_totalprice END AS price,
               CASE WHEN o_orderkey % 13 = 0 THEN 2
                    WHEN o_orderkey % 7 = 0 THEN 1
                    ELSE 0 END AS lu
        FROM base
        UNION ALL SELECT rid, o_totalprice, 1 FROM ins1
        UNION ALL SELECT rid, o_totalprice, 2 FROM ins2)
    SELECT lu AS last_updated_version,
           COUNT(*) AS cnt,
           CAST(SUM(rid) AS BIGINT) AS rid_checksum,
           CAST(MIN(rid) AS BIGINT) AS min_rid,
           CAST(MAX(rid) AS BIGINT) AS max_rid,
           {sql_dsum("price", "sum_price")}
    FROM fin GROUP BY lu ORDER BY lu
    """,
)
def snap_row_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row lineage end-to-end (Iceberg v3 row-lineage parity, natively):
    every row carries a stable ``_row_id`` assigned at its first commit
    and a ``_last_updated_version`` stamped by the commit that last
    changed it.  Updates REWRITE the row but KEEP its id (an upsert is
    the same logical row); inserts draw fresh ids from the table's
    counter; copy-on-write file rewrites carry untouched rows' lineage
    through unchanged.  The aggregate groups the final state by
    last-updated commit and checksums the row-id population per group —
    so the driver pins WHICH rows each commit touched, not just counts.

    The oracle reconstructs ids arithmetically (base rows rank by key;
    each batch's inserts continue the counter in key order) — possible
    precisely because id assignment is deterministic, the property that
    makes lineage auditable at all.

    100-TB shape: lineage adds two BIGINT columns and ONE extra hash
    join per upsert (winner ⋈ old-id map, both sides already key-
    partitioned by the merge shuffle); id assignment for new rows is a
    counter handout — Iceberg's manifest gives each data file a
    contiguous id range, so at scale it is per-file arithmetic with no
    global coordination (see SnapshotTable._with_new_row_ids)."""
    t = _lineage_table(spark, sf_dir)
    return (
        t.read()
        .groupBy(
            F.col("_last_updated_version").alias("last_updated_version")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("_row_id").cast("bigint").alias("rid_checksum"),
            F.min("_row_id").cast("bigint").alias("min_rid"),
            F.max("_row_id").cast("bigint").alias("max_rid"),
            dsum("o_totalprice", "sum_price"),
        )
        .orderBy("last_updated_version")
    )


# --- orphan-file GC -----------------------------------------------------------


def _orphan_table(spark: SparkSession, sf_dir: str) -> SnapshotTable:
    def build(path: str) -> None:
        orders = _orders(spark, sf_dir)
        t = SnapshotTable.create(
            orders, path, stats_cols=["o_orderkey"], num_files=4
        )
        t.append(
            orders.filter(F.col("o_orderkey") % 101 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 300_000_000
            ),
            num_files=4,
        )

    return _chain(spark, sf_dir, "orders_orphan", build)


@register(
    "snap_orphan_files",
    oracle=f"""
    WITH state AS (
        SELECT o_totalprice FROM orders
        UNION ALL
        SELECT o_totalprice FROM orders WHERE o_orderkey % 101 = 0
    )
    SELECT CAST(3 AS BIGINT) AS n_orphans_found,
           CAST(3 AS BIGINT) AS n_orphans_removed,
           CAST(8 AS BIGINT) AS n_live_files,
           CAST(0 AS BIGINT) AS n_orphans_after,
           COUNT(*) AS cnt,
           {sql_dsum("o_totalprice", "sum_price")}
    FROM state
    """,
)
def snap_orphan_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-file GC end-to-end (Iceberg ``remove_orphan_files`` parity,
    natively): three orphan data files — the debris a crashed writer or
    aborted stage leaves INSIDE the table directory without any manifest
    reference — are planted next to a 2-version chain, detected by a
    dry run (manifest-union ∖ on-disk diff, branch manifests included),
    removed, and verified gone; the final aggregate over the table proves
    no LIVE file was touched.  The complement of snap_vacuum: vacuum
    expires formerly-referenced files, orphan GC removes never-referenced
    ones — confusing the two deletes data (vacuum must keep what any
    manifest references; orphan GC must keep what ANY version references,
    not just the head).

    100-TB shape: one object-store LIST of the table prefix diffed
    against the manifest union — O(files) metadata work, no data read;
    Iceberg runs the same plan as a distributed anti-join of the listing
    against the manifest file set.

    The orphans are planted in a per-run copy of the cached chain, so the
    published chain stays read-only."""
    work = tempfile.mkdtemp(prefix="snap-orphans-")
    try:
        src = _orphan_table(spark, sf_dir).path
        t = SnapshotTable(spark, shutil.copytree(src, os.path.join(work, "t")))
        live = next(iter(t.manifest()["files"]))
        for i in range(3):
            shutil.copyfile(live, os.path.join(t.path, f"orphan-{i:02d}.parquet"))
        # older_than_s=0: single-writer demo context (the grace window
        # exists to protect concurrent in-flight writers; here there are
        # none and the freshly-planted orphans must be visible immediately)
        dry = t.remove_orphans(dry_run=True, older_than_s=0.0)
        real = t.remove_orphans(older_than_s=0.0)
        after = t.remove_orphans(dry_run=True, older_than_s=0.0)
        out = materialize_once(
            t.read().agg(
                F.lit(dry["n_orphans"]).cast("bigint").alias("n_orphans_found"),
                F.lit(real["n_orphans"]).cast("bigint").alias(
                    "n_orphans_removed"
                ),
                F.lit(real["n_live"]).cast("bigint").alias("n_live_files"),
                F.lit(after["n_orphans"]).cast("bigint").alias(
                    "n_orphans_after"
                ),
                F.count(F.lit(1)).alias("cnt"),
                dsum("o_totalprice", "sum_price"),
            )
        )
        out.count()  # materialize before the copy disappears
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --- cherry-pick --------------------------------------------------------------


def _cherry_table(spark: SparkSession, sf_dir: str) -> SnapshotTable:
    """v0 CREATE; v1 UPSERT (+1000 on %7 keys); v2 APPEND (%101, +300M
    keys); v3 RESTORE to v0 (wipes v1+v2 from the head); v4 CHERRY-PICK
    of v1 (selectively recovers ONLY the upsert, not the append)."""

    def build(path: str) -> None:
        orders = _orders(spark, sf_dir)
        t = SnapshotTable.create(
            orders, path, stats_cols=["o_orderkey"], num_files=4
        )
        t.upsert(
            orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
                "o_totalprice", F.col("o_totalprice") + 1000.0
            ),
            ["o_orderkey"],
            "o_totalprice",
        )
        t.append(
            orders.filter(F.col("o_orderkey") % 101 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 300_000_000
            )
        )
        t.restore(0)
        t.cherry_pick(1, ["o_orderkey"], "o_totalprice")

    return _chain(spark, sf_dir, "orders_cherry", build)


@register(
    "snap_cherrypick",
    oracle=f"""
    WITH v1 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
                    ELSE o_totalprice END AS price
        FROM orders
    ),
    v2 AS (
        SELECT price FROM v1
        UNION ALL
        SELECT o_totalprice FROM orders WHERE o_orderkey % 101 = 0
    )
    SELECT CAST(0 AS INT) AS version, COUNT(*) AS cnt,
           {sql_dsum("o_totalprice", "sum_price")} FROM orders
    UNION ALL
    SELECT CAST(1 AS INT), COUNT(*), {sql_dsum("price", "sum_price")}
    FROM v1
    UNION ALL
    SELECT CAST(2 AS INT), COUNT(*), {sql_dsum("price", "sum_price")}
    FROM v2
    UNION ALL
    SELECT CAST(3 AS INT), COUNT(*), {sql_dsum("o_totalprice", "sum_price")}
    FROM orders
    UNION ALL
    SELECT CAST(4 AS INT), COUNT(*), {sql_dsum("price", "sum_price")}
    FROM v1
    ORDER BY version
    """,
)
def snap_cherrypick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHERRY-PICK end-to-end: a RESTORE wipes two commits from the head,
    then ONE of them (the upsert, not the append) is selectively
    recovered by replaying its change data feed as a keyed upsert —
    git-style reapply for table commits, the operation that saves you
    when a rollback threw away one good commit along with a bad one.
    The aggregate over EVERY version pins the whole timeline: v4 must
    equal v1 exactly (the cherry-pick recovered precisely the picked
    commit's effect — no append rows resurrected), while v3 equals v0
    (the restore) and v1/v2 stay time-travelable.  Deletes in a picked
    commit refuse loudly (needs an anti-join delete path).

    100-TB shape: the CDF diff reads only the picked commit's changed
    files and the replay is one scoped upsert — O(picked commit), never
    O(table)."""
    t = _cherry_table(spark, sf_dir)
    rows = []
    for v in range(5):
        rows.append(
            t.read(v).agg(
                F.lit(v).cast("int").alias("version"),
                F.count(F.lit(1)).alias("cnt"),
                dsum("o_totalprice", "sum_price"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("version")


_SDRIFT_SCALE = 1_000_000_000  # FLOOR-tick ladder, 1e-9 resolution


@register(
    "snap_version_drift",
    oracle=f"""
    {_SQL_STATES},
    head AS (SELECT o_orderdate FROM state2
             UNION ALL SELECT o_orderdate FROM appended),
    u AS (
      SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS pr, 0 AS per
      FROM state0 WHERE o_orderdate IS NOT NULL
      UNION ALL
      SELECT CAST(YEAR(o_orderdate) AS INTEGER), 1
      FROM head WHERE o_orderdate IS NOT NULL
    ),
    cell AS (SELECT pr, per, COUNT(*) AS c FROM u GROUP BY 1, 2),
    prs AS (SELECT DISTINCT pr FROM u),
    pes AS (SELECT 0 AS per UNION ALL SELECT 1),
    grid AS (
      SELECT prs.pr, pes.per, COALESCE(cell.c, 0) AS c
      FROM prs CROSS JOIN pes
      LEFT JOIN cell ON cell.pr = prs.pr AND cell.per = pes.per
    ),
    rowt AS (SELECT pr, SUM(c) AS rt FROM grid GROUP BY 1),
    colt AS (SELECT per, SUM(c) AS ct FROM grid GROUP BY 1),
    n AS (SELECT SUM(c) AS n FROM grid),
    t AS (
      SELECT g.pr, g.per, g.c,
             CAST(r.rt * cl.ct AS DOUBLE) / n.n AS e
      FROM grid g
      JOIN rowt r ON r.pr = g.pr
      JOIN colt cl ON cl.per = g.per
      CROSS JOIN n
    )
    SELECT pr AS year,
           CAST(SUM(CASE WHEN per = 0 THEN c END) AS BIGINT) AS n_v0,
           CAST(SUM(CASE WHEN per = 1 THEN c END) AS BIGINT) AS n_head,
           CAST(SUM(CASE WHEN e > 0 THEN CAST(FLOOR(
               (c - e) * (c - e) / e * {_SDRIFT_SCALE}
           ) AS BIGINT) ELSE 0 END) AS BIGINT) AS contrib_scaled
    FROM t GROUP BY pr ORDER BY pr
    """,
)
def snap_version_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TRAVEL DRIFT AUDIT: the chi-square homogeneity screen run
    between two VERSIONS of the same snapshot table (v0 vs head) —
    "did our delete/upsert/append pipeline change the data's shape?",
    the governance check a lakehouse uniquely enables because old
    versions stay queryable.  Here the head deleted every pre-1997
    order, so the year distribution collapses and the per-year
    contribution decomposition points at exactly the years the pipeline
    removed.  Same FLOOR-tick integer ladder as dq_chi_square_drift
    (order-free, bit-identical cross-engine); categories are order
    years.

    Scale shape: both versions read through their own manifests (shared
    files read once each), two map-side-combinable aggregations, a tiny
    grid join — drift cost is O(two scans), never O(history)."""
    t = _snapshot_table(spark, sf_dir)
    year = F.year("o_orderdate").cast("int").alias("pr")
    u = (
        t.read(0)
        .filter(F.col("o_orderdate").isNotNull())
        .select(year, F.lit(0).alias("per"))
        .unionByName(
            t.read()
            .filter(F.col("o_orderdate").isNotNull())
            .select(year, F.lit(1).alias("per"))
        )
    )
    cell = u.groupBy("pr", "per").agg(F.count(F.lit(1)).alias("c"))
    prs = u.select("pr").distinct()
    pes = spark.range(2).select(F.col("id").cast("int").alias("per"))
    grid = (
        prs.crossJoin(pes)
        .join(cell, ["pr", "per"], "left")
        .select("pr", "per", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    rowt = grid.groupBy("pr").agg(F.sum("c").alias("rt"))
    colt = grid.groupBy("per").agg(F.sum("c").alias("ct"))
    n = grid.agg(F.sum("c").alias("n"))
    e = (F.col("rt") * F.col("ct")).cast("double") / F.col("n")
    contrib = F.when(
        e > 0,
        F.floor(
            (F.col("c") - e) * (F.col("c") - e) / e * _SDRIFT_SCALE
        ).cast("bigint"),
    ).otherwise(F.lit(0))
    return (
        grid.join(F.broadcast(rowt), "pr")
        .join(F.broadcast(colt), "per")
        .crossJoin(F.broadcast(n))
        .groupBy(F.col("pr").alias("year"))
        .agg(
            F.sum(F.when(F.col("per") == 0, F.col("c")))
            .cast("bigint")
            .alias("n_v0"),
            F.sum(F.when(F.col("per") == 1, F.col("c")))
            .cast("bigint")
            .alias("n_head"),
            F.sum(contrib).cast("bigint").alias("contrib_scaled"),
        )
        .orderBy("year")
    )


@register(
    "snap_history_audit",
    oracle=f"""
    {_SQL_STATES}
    SELECT 0 AS version, 'CREATE' AS operation,
           (SELECT COUNT(*) FROM state0) AS n_rows,
           (SELECT COUNT(*) FROM state0) AS rows_delta
    UNION ALL
    SELECT 1, 'UPSERT',
           (SELECT COUNT(*) FROM state1),
           (SELECT COUNT(*) FROM state1) - (SELECT COUNT(*) FROM state0)
    UNION ALL
    SELECT 2, 'DELETE',
           (SELECT COUNT(*) FROM state2),
           (SELECT COUNT(*) FROM state2) - (SELECT COUNT(*) FROM state1)
    UNION ALL
    SELECT 3, 'APPEND',
           (SELECT COUNT(*) FROM state2) + (SELECT COUNT(*) FROM appended),
           (SELECT COUNT(*) FROM appended)
    ORDER BY version
    """,
)
def snap_history_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DESCRIBE HISTORY`` as a queryable relation (Delta parity): the
    commit timeline — operation kind, live row count per version, and the
    row delta each commit contributed — read from MANIFESTS ONLY (each
    manifest already carries per-file row counts from the stats sidecar,
    so the audit costs zero data reads; the oracle recomputes every
    version's row count from first principles, which is exactly what
    makes the manifest metadata trustworthy).  The audit every ingest
    pipeline wires an alert on: a DELETE whose |delta| is 100× the daily
    norm is the fat-finger this table catches before anyone queries the
    data.

    The audit covers the commits that change rows (versions 0-3); v4 is
    the chain's OPTIMIZE re-layout, which snap_optimize_layout reads.

    100-TB shape: O(versions) manifest reads on the driver, one tiny
    createDataFrame — no executor work at all."""
    t = _snapshot_table(spark, sf_dir)
    hist = [h for h in t.history() if h["version"] <= 3]
    rows = []
    prev = 0
    for h in hist:
        rows.append(
            (
                int(h["version"]),
                str(h["operation"]),
                int(h["n_rows"]),
                int(h["n_rows"]) - prev,
            )
        )
        prev = int(h["n_rows"])
    return spark.createDataFrame(
        rows, "version int, operation string, n_rows bigint, rows_delta bigint"
    ).orderBy("version")


# --- CHECK constraints ---------------------------------------------------------


def _constraint_table(spark: SparkSession, sf_dir: str) -> SnapshotTable:
    def build(path: str) -> None:
        orders = _orders(spark, sf_dir)
        t = SnapshotTable.create(
            orders.filter(F.col("o_orderkey") % 7 == 0),
            path,
            stats_cols=["o_orderkey"],
            num_files=4,
        )
        t.set_constraint("positive_price", "o_totalprice > 0")  # v1
        t.append(  # v2: every row satisfies the constraint
            orders.filter(F.col("o_orderkey") % 11 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 500_000_000
            ),
            num_files=4,
        )

    return _chain(spark, sf_dir, "orders_constraints", build)


@register(
    "snap_constraints",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    valid AS (
      SELECT o_orderkey + 500000000 AS o_orderkey, o_custkey,
             o_totalprice, o_orderdate
      FROM orders WHERE o_orderkey % 11 = 0
    ),
    viol AS (SELECT * FROM orders WHERE o_orderkey % 13 = 0),
    b AS (SELECT COUNT(*) AS cnt, {sql_dsum("o_totalprice", "s")} FROM base),
    v AS (SELECT COUNT(*) AS cnt, {sql_dsum("o_totalprice", "s")} FROM valid),
    w AS (SELECT COUNT(*) AS cnt FROM viol),
    u AS (SELECT COUNT(*) AS cnt, {sql_dsum("o_totalprice", "s")}
          FROM (SELECT * FROM base UNION ALL SELECT * FROM valid) z)
    SELECT 1 AS step, 'add_constraint' AS op, TRUE AS accepted,
           CAST(0 AS BIGINT) AS n_batch,
           b.cnt AS table_rows, b.s AS sum_price FROM b
    UNION ALL
    SELECT 2, 'append_valid', TRUE, v.cnt, u.cnt, u.s FROM v, u
    UNION ALL
    SELECT 3, 'append_violating', FALSE, w.cnt, u.cnt, u.s FROM w, u
    UNION ALL
    SELECT 4, 'add_violated_constraint', FALSE, CAST(0 AS BIGINT),
           u.cnt, u.s FROM u
    ORDER BY step
    """,
)
def snap_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK-constraint enforcement as a relation (Delta ``ALTER TABLE
    ADD CONSTRAINT`` parity, previously pytest-only): a constraint is a
    metadata-only commit that every LATER write must satisfy — a valid
    append lands, a violating batch is REFUSED atomically (no partial
    rows, no new version), and adding a constraint existing data already
    violates is refused too.  Each step is emitted with the batch size,
    whether it was accepted, and the table's row count + exact-decimal
    price sum AFTER the step — proving refusals left state untouched.

    Scale shape: enforcement is one predicate scan of the INCOMING batch
    (plus, at ADD time, one pushed-filter probe of existing data);
    rejected writes cost no rewrite.  At 100 TB the same plan: metadata
    commit + O(batch) validation."""
    t = _constraint_table(spark, sf_dir)
    orders = _orders(spark, sf_dir)

    def _state(
        step: int, op: str, accepted: bool, n_batch, version: int
    ) -> DataFrame:
        # time travel to the version the step left behind — the table is
        # fingerprint-cached at its final version, so "state after step"
        # must come from the manifest log, not the head
        return t.read(version).agg(
            F.lit(step).cast("int").alias("step"),
            F.lit(op).alias("op"),
            F.lit(accepted).alias("accepted"),
            n_batch.cast("bigint").alias("n_batch"),
            F.count(F.lit(1)).alias("table_rows"),
            dsum("o_totalprice", "sum_price"),
        )

    rows = [
        _state(1, "add_constraint", True, F.lit(0), 1),
        _state(
            2, "append_valid", True,
            F.lit(orders.filter(F.col("o_orderkey") % 11 == 0).count()), 2,
        ),
    ]
    viol = orders.filter(F.col("o_orderkey") % 13 == 0).withColumn(
        "o_totalprice", -F.col("o_totalprice")
    )
    try:
        t.append(viol)
        raise AssertionError("violating append must be refused")
    except ValueError:
        rows.append(
            _state(3, "append_violating", False, F.lit(viol.count()), 2)
        )
    try:
        t.set_constraint("impossible", "o_totalprice > 1e12")
        raise AssertionError("violated constraint add must be refused")
    except ValueError:
        rows.append(
            _state(4, "add_violated_constraint", False, F.lit(0), 2)
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("step")
