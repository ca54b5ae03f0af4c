"""Structured Streaming pipelines over the ``events`` table.

The reference is batch-only ("incremental" = upsert loops,
scripts/run_RQ_7_matrix.sh); this module is the Spark-native streaming
surface a lakehouse engine should expose:

- ``run_tumbling_agg``: file source → watermark → tumbling window agg →
  memory sink, Trigger.AvailableNow (processes the backlog then stops — the
  batch-parity mode, so results are deterministic and oracle-checkable).
- ``sessionize_stateful``: applyInPandasWithState session windows (gap
  timeout) — the custom-stateful-operator escape hatch for semantics the
  built-in window functions can't express incrementally.

Scale notes: the file source lists incrementally (maxFilesPerTrigger
controls batch size at 100 TB backfills); the window agg is an ordinary
streaming state-store aggregation keyed by (window, event_type); the
watermark bounds state size.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Iterable
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from lakehouse_sfc_spark.sources.loader import materialize_once

_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        # Parquet TIMESTAMP(NANOS): Spark 4.x reads it natively as
        # TIMESTAMP_NTZ truncated to microseconds — the same coercion the
        # batch loader (sources/loader.load_table) and DuckDB apply.
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _mkworkdir(prefix: str) -> str:
    """Scratch dir for replay sources/checkpoints, preferring tmpfs.

    These replays write small source backlogs and checkpoint WALs; this
    box's /tmp block device stalls erratically under concurrent small
    writes (the same pathology that moved spark.local.dir to /dev/shm,
    session.py — an r11 scale-sweep pass measured stream_late_drop at
    18.5 s at sf0.1 vs 5.3 s at sf1 purely from a /tmp stall during the
    source write).  Same capacity gate as session.py: only prefer
    /dev/shm with >=32 GiB free; TMPDIR/tempfile default otherwise."""
    base = None
    if os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 32 << 30:
                base = "/dev/shm/spark-graft-stream"
                os.makedirs(base, exist_ok=True)
        except OSError:
            base = None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


@contextmanager
def _capped_state_partitions(spark: SparkSession, cap: int | None = None):
    """Bound the stateful-operator partition count for a backlog replay.

    Every run here starts from a fresh checkpoint, so the state-store
    partition count is fixed at query start from
    ``spark.sql.shuffle.partitions`` — and an untuned session's default of
    200 means 200 state stores (open/commit/close each micro-batch) for a
    backlog that fits in a handful.  AQE coalesces batch shuffles but NOT
    stateful streaming exchanges, so this is real per-batch overhead.  On a
    production backfill, size the cap to the cluster's cores — which is
    what the default does: local core count bounded to [4, 16] (measured
    on the late-drop replay at sf0.01, local[8]: cap 16 → 4.6 s, cap 8 →
    3.2 s, cap 4 → 2.5 s per streaming query — each state partition is an
    open/commit/close per micro-batch).  The cap only lowers, never
    raises, a user-tuned setting.

    ``SPARK_GRAFT_STREAM_STATE_CAP`` overrides the formula (r13: a
    production backfill whose state genuinely needs cluster width sets it
    high; the bounded local replays measured fastest at 8 on this host —
    lower caps throttle the foreachBatch MERGE jobs, which share the
    shuffle-partition setting, so 4 is already too low for those)."""
    if cap is None:
        env = os.environ.get("SPARK_GRAFT_STREAM_STATE_CAP")
        cap = (
            int(env)
            if env
            else max(4, min(16, spark.sparkContext.defaultParallelism))
        )
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        if int(prev) > cap:
            spark.conf.set(key, str(cap))
        yield
    finally:
        spark.conf.set(key, prev)


def _replay_to_memory(
    spark: SparkSession,
    sdf: DataFrame,
    name: str,
    checkpoint_prefix: str,
    output_mode: str,
    timeout_s: int,
) -> DataFrame:
    """Drive a streaming DataFrame over the full backlog
    (Trigger.AvailableNow) into a memory sink and return the result table.
    State partitions are capped for the replay (see
    ``_capped_state_partitions``)."""
    import shutil

    checkpoint = _mkworkdir(checkpoint_prefix)
    with _capped_state_partitions(spark):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(timeout_s)
        finally:
            if q.isActive:
                q.stop()
            # the memory sink outlives the checkpoint; removing the WAL
            # matters now that workdirs prefer tmpfs (RAM-backed space)
            shutil.rmtree(checkpoint, ignore_errors=True)
    return spark.table(name)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events table; ts arrives as TIMESTAMP_NTZ
    microseconds (identical to the batch loader's schema) and is cast to
    TIMESTAMP_LTZ because event-time watermarks require it — the session
    timezone is pinned to UTC, so the cast is wall-clock-preserving.

    ORDERING CONTRACT: the backlog is a single parquet file, and the file
    source ingests whole files per micro-batch — so the entire backlog
    lands in ONE micro-batch and the watermark only advances after all
    rows are in state.  That is what makes the AvailableNow replays
    bit-equal to their batch oracles (stream-stream interval join,
    dropDuplicatesWithinWatermark, stateful sessionization) REGARDLESS of
    row order inside the file.  If this reader ever ingests a multi-file
    backlog, files must be time-ordered with cross-file disorder smaller
    than the smallest consumer watermark (2h), or rows later than the
    watermark get dropped from join state while the batch oracle keeps
    them.  tests/test_streaming.py::test_events_backlog_single_file pins
    the single-file precondition."""
    # pin the session tz so the NTZ->LTZ cast is wall-clock-preserving even
    # under a driver session that didn't set it (runtime-settable conf)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        # the file source wants a directory; select just the events file
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return src.withColumn("ts", F.col("ts").cast("timestamp_ltz"))


def run_tumbling_agg(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    timeout_s: int = 300,
) -> DataFrame:
    """Run the windowed aggregation over the full backlog with
    Trigger.AvailableNow and return the final result table.

    Output: (ws, event_type, cnt, sum_value) — sum through DECIMAL for
    cross-engine determinism (see queries/registry.dsum).
    """
    name = f"tumbling_{uuid.uuid4().hex[:8]}"
    agg = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            # back to NTZ so the schema matches the batch/oracle side
            F.col("w.start").cast("timestamp_ntz").alias("ws"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )
    return _replay_to_memory(
        spark, agg, name, "lakehouse-sfc-stream-", "complete", timeout_s
    )


def run_stream_distinct_hll(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    timeout_s: int = 300,
) -> DataFrame:
    """Streaming distinct-users-per-window via HyperLogLog registers — the
    mergeable-sketch answer to COUNT(DISTINCT) over an unbounded stream.
    The STREAMING state is the register table (window × ≤1024 buckets,
    max(rho) per bucket): max is the canonical streaming aggregate (order-
    free, idempotent under replay, map-side partial), so state stays
    O(windows · m) no matter how many events arrive — exact streaming
    distinct would need per-window user sets.  The final per-window rollup
    of registers runs as a tiny batch reduce over the sink table (register
    rows merge by construction — the same property that merges per-shard
    sketches on a cluster).  Estimator identical to
    queries/sketchq.py::sketch_hll_distinct (deterministic md5-derived
    registers, scaled-BIGINT harmonic sum, one double division)."""
    from lakehouse_sfc_spark.queries.sketchq import (
        _HLL_M,
        _HLL_NUM,
        _HLL_POW,
        _HLL_REST_BITS,
        _HLL_REST_MOD,
        _HLL_RHO_MAX,
    )
    from lakehouse_sfc_spark.sources.loader import load_table

    name = f"hll_{uuid.uuid4().hex[:8]}"
    ev = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .withWatermark("ts", watermark)
    )
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    rest = h % _HLL_REST_MOD
    regs = (
        ev.select(
            F.window("ts", window).alias("w"),
            F.col("ts"),
            F.shiftright(h, _HLL_REST_BITS).alias("bucket"),
            F.when(rest == 0, F.lit(_HLL_RHO_MAX))
            .otherwise(F.lit(_HLL_RHO_MAX) - F.length(F.bin(rest)))
            .alias("rho"),
        )
        .groupBy("w", "bucket")
        .agg(F.max("rho").alias("r"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("ws"), "bucket", "r"
        )
    )
    sink = _replay_to_memory(
        spark, regs, name, "lakehouse-sfc-stream-", "complete", timeout_s
    )
    agg = sink.groupBy("ws").agg(
        F.count(F.lit(1)).alias("nz"),
        F.sum(F.expr(f"shiftright({_HLL_POW}, r)")).alias("present_sum"),
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .groupBy(
            F.window("ts", window).alias("w")
        )
        .agg(
            F.count_distinct(F.col("user_id"))
            .cast("bigint")
            .alias("exact_distinct")
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("ws"),
            "exact_distinct",
        )
    )
    scaled = F.col("present_sum") + (_HLL_M - F.col("nz")) * F.lit(_HLL_POW)
    return (
        agg.join(exact, "ws")
        .select(
            "ws",
            F.col("nz").cast("bigint").alias("nz_buckets"),
            scaled.cast("bigint").alias("reg_sum_scaled"),
            (F.lit(_HLL_NUM) / scaled.cast("double")).alias("hll_est"),
            "exact_distinct",
        )
        .orderBy("ws")
    )


def run_stream_cms_topk(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    d: int = 4,
    w_buckets: int = 512,
    topk: int = 5,
    timeout_s: int = 300,
) -> DataFrame:
    """Streaming per-window heavy-hitter counting via Count-Min Sketch
    counters as the STREAMING STATE: each event feeds d=4 hashed counter
    cells, the state is the (window × d × 512) counter grid — bounded
    regardless of key cardinality, where exact per-key streaming counts
    grow with the user universe — and COUNT/SUM is the canonical
    streaming aggregate (mergeable across micro-batches AND across
    shards: per-day sketches add cell-wise).  The per-window probe of the
    exact top-k users (computed batch-side, as a harness would) reads
    est = min over the key's d cells; CMS guarantees est >= exact, and
    the overestimate column shows the collision load.  Hash/bucket layout
    shared with queries/sketchq.py::sketch_cms_heavy_hitters."""
    from pyspark.sql import Window as W

    from lakehouse_sfc_spark.queries.datapipe import _h32
    from lakehouse_sfc_spark.sources.loader import load_table

    name = f"cms_{uuid.uuid4().hex[:8]}"
    ev = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .withWatermark("ts", watermark)
    )
    rows = ev.select(
        F.window("ts", window).alias("w"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        (
                            _h32(
                                F.concat(
                                    F.lit(f"{i}:"),
                                    F.col("user_id").cast("string"),
                                )
                            )
                            % w_buckets
                        ).alias("b"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("p"),
    ).select("w", "p.i", "p.b")
    counters = (
        rows.groupBy("w", "i", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("ws"), "i", "b", "c"
        )
    )
    sink = _replay_to_memory(
        spark, counters, name, "lakehouse-sfc-stream-", "complete", timeout_s
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .groupBy(
            F.window("ts", window).alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("ws"),
            "user_id",
            "exact_cnt",
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("ws").orderBy(
                    F.desc("exact_cnt"), F.col("user_id")
                )
            ),
        )
        .filter(F.col("rn") <= topk)
    )
    probes = exact.select(
        "ws",
        "user_id",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        (
                            _h32(
                                F.concat(
                                    F.lit(f"{i}:"),
                                    F.col("user_id").cast("string"),
                                )
                            )
                            % w_buckets
                        ).alias("b"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("p"),
    ).select("ws", "user_id", "exact_cnt", "p.i", "p.b")
    return (
        probes.join(F.broadcast(sink), ["ws", "i", "b"])
        .groupBy("ws", "user_id", "exact_cnt")
        .agg(F.min("c").alias("est_cnt"))
        .select(
            "ws",
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
            F.col("est_cnt").cast("bigint").alias("est_cnt"),
            (F.col("est_cnt") - F.col("exact_cnt"))
            .cast("bigint")
            .alias("overestimate"),
        )
        .orderBy("ws", F.desc("exact_cnt"), "user_id")
    )


def run_sliding_agg(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
    timeout_s: int = 300,
) -> DataFrame:
    """Sliding-window aggregation (window/slide) over the full backlog with
    Trigger.AvailableNow.  Each event lands in window/slide overlapping
    windows; Spark's streaming window operator assigns them inside the
    state-store aggregation, so state size is windows x groups, bounded by
    the watermark.  Output matches ``run_tumbling_agg``."""
    name = f"sliding_{uuid.uuid4().hex[:8]}"
    agg = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window, slide).alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("ws"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )
    return _replay_to_memory(
        spark, agg, name, "lakehouse-sfc-sliding-", "complete", timeout_s
    )


def run_session_window_agg(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    timeout_s: int = 300,
) -> DataFrame:
    """Gap-based sessionization via the BUILT-IN ``session_window`` operator
    (the state-store-merging API — complements the custom
    applyInPandasWithState sessionizer, which exists for semantics the
    built-in can't express).  Sessions merge while events are within
    ``gap``; the emitted window end is Spark's contract last_ts + gap, and
    the oracle mirrors MAX(ts) + gap on the batch side.  Complete output
    over the AvailableNow replay emits every session including each user's
    open tail, so the result equals the batch gap sessionization exactly."""
    name = f"sesswin_{uuid.uuid4().hex[:8]}"
    agg = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", gap).alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return _replay_to_memory(
        spark, agg, name, "lakehouse-sfc-sesswin-", "complete", timeout_s
    )


def run_stream_dedup(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "2 hours",
    timeout_s: int = 300,
) -> DataFrame:
    """Streaming exact deduplication: the events stream unioned with itself
    (every row delivered twice — the at-least-once redelivery shape) passes
    through ``dropDuplicatesWithinWatermark`` on event_id, so the downstream
    aggregate must equal the batch aggregate over the ORIGINAL table.

    Scale notes: dedup state is keyed by event_id and expired by the
    watermark, so state size is bounded by (arrival rate x watermark), not
    by stream length — the correct construction for an unbounded 100 TB
    backfill, unlike ``dropDuplicates`` whose state grows forever.
    """
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    s = read_events_stream(spark, sf_dir)
    deduped = (
        s.union(read_events_stream(spark, sf_dir))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_value"),
    )
    return _replay_to_memory(
        spark, agg, name, "lakehouse-sfc-dedup-", "complete", timeout_s
    )


def run_stream_static_join(
    spark: SparkSession,
    sf_dir: str,
    timeout_s: int = 300,
) -> DataFrame:
    """Stream-static join: the events stream enriches against the static
    customer dimension (broadcast per micro-batch — the standard streaming
    dimension-lookup pattern), then aggregates per market segment.  With the
    backlog fully processed the result equals the batch join.

    Scale notes: the static side re-resolves each micro-batch (picking up
    dim updates between batches) and broadcasts, so the stream side never
    shuffles for the join — only the tiny post-join aggregate state lives in
    the state store."""
    from lakehouse_sfc_spark.sources.loader import load_table

    name = f"enrich_{uuid.uuid4().hex[:8]}"
    customers = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = (
        read_events_stream(spark, sf_dir)
        .join(customers, F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    return _replay_to_memory(
        spark, joined, name, "lakehouse-sfc-enrich-", "complete", timeout_s
    )


def _upsert_stream(
    spark: SparkSession, stream: DataFrame, tbl: str, key: str, timeout_s: int
) -> DataFrame:
    """Drain ``stream`` into the sidecar table ``tbl`` and read it back:
    each micro-batch is deduplicated latest-wins on ``key`` by ``ts``; the
    first bootstraps the table (``layout_write``), later ones MERGE through
    ``scoped_upsert``."""
    import shutil

    from lakehouse_sfc_spark.layout.upsert import dedup_latest, scoped_upsert
    from lakehouse_sfc_spark.layout.writer import layout_write

    def _merge(batch_df, batch_id: int) -> None:
        batch = dedup_latest(batch_df, [key], "ts")
        if not os.path.isdir(tbl):
            layout_write(batch, tbl, stats_cols=[key])
        else:
            scoped_upsert(tbl, batch, [key], "ts", stats_cols=[key])

    checkpoint = tbl + ".ckpt"
    with _capped_state_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(_merge)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(timeout_s)
        finally:
            if q.isActive:
                q.stop()
            shutil.rmtree(checkpoint, ignore_errors=True)
    return spark.read.parquet(tbl)


def stream_upsert_ingest(
    spark: SparkSession,
    sf_dir: str,
    timeout_s: int = 300,
    n_files: int = 4,
) -> DataFrame:
    """CDC-style streaming ingestion into the NATIVE sidecar table format:
    the events backlog — delivered at-least-once (two copies) and split into
    ``n_files`` source files — streams through ``foreachBatch``, and each
    micro-batch is MERGEd into the table with latest-wins upsert semantics
    keyed on event_id (first batch bootstraps the table via ``layout_write``
    with record-key stats; later batches go through ``scoped_upsert``, which
    only rewrites files whose key ranges overlap the batch).

    This is the streaming write path of a lakehouse engine: exactly-once
    table state from an at-least-once stream, achieved by idempotent keyed
    MERGE rather than sink-side transaction logs.  At 100 TB the per-batch
    cost is O(overlapping files + batch) — the sidecar prune keeps steady-
    state ingestion from rewriting the table.

    Returns the final table's aggregate (must equal the batch aggregate
    over the ORIGINAL events — the duplicates collapse)."""
    import shutil

    from lakehouse_sfc_spark.sources.loader import load_table

    _prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    work = _mkworkdir("lakehouse-sfc-ingest-")
    src_dir = os.path.join(work, "src")
    tbl = os.path.join(work, "table")
    try:
        ev = load_table(spark, sf_dir, "events")
        # at-least-once delivery: every event arrives twice, spread across
        # n_files so the replay runs several micro-batches with overlapping
        # key ranges (each one a real incremental MERGE)
        ev.unionByName(ev).repartition(n_files).write.parquet(src_dir)

        stream = (
            spark.readStream.schema(_EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        final = _upsert_stream(spark, stream, tbl, "event_id", timeout_s)
        out = materialize_once(
            final.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("double")
                .alias("sum_value"),
            )
        )
        out.count()  # materialize before the temp table dir disappears
        return out
    finally:
        spark.conf.set("spark.sql.session.timeZone", _prev_tz)
        shutil.rmtree(work, ignore_errors=True)


# --- custom stateful operator: session windows ------------------------------

_SESSION_OUT_SCHEMA = (
    "user_id bigint, session_start timestamp_ntz, session_end timestamp_ntz, "
    "n_events int, sum_value double"
)
_SESSION_STATE_SCHEMA = (
    "start_us long, last_us long, n int, sum_value double"
)


def _session_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
):
    """Gap-based sessionizer: events for one user arrive (within a batch) in
    any order; state carries the open session; a processing-time timeout
    flushes it."""
    gap_us = 30 * 60 * 1_000_000

    if state.hasTimedOut:
        start_us, last_us, n, sv = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(last_us, unit="us")],
                "n_events": [n],
                "sum_value": [sv],
            }
        )
        return

    rows = pd.concat(list(pdfs)).sort_values("ts")
    # normalize to epoch-microseconds regardless of pandas resolution or tz
    # (LTZ event-time arrives tz-aware UTC; older stacks delivered naive ns)
    ts_col = rows["ts"]
    if getattr(ts_col.dtype, "tz", None) is not None:
        ts_col = ts_col.dt.tz_convert("UTC").dt.tz_localize(None)
    ts_us = ts_col.astype("datetime64[us]").astype("int64").tolist()
    vals = rows["value"].tolist()

    if state.exists:
        start_us, last_us, n, sv = state.get
    else:
        start_us, last_us, n, sv = None, None, 0, 0.0

    out = []
    for t, v in zip(ts_us, vals):
        if last_us is not None and t - last_us > gap_us and n > 0:
            out.append((key[0], start_us, last_us, n, sv))
            start_us, n, sv = t, 0, 0.0
        if n == 0:
            start_us = t
        last_us = t
        n += 1
        sv += v
    state.update((start_us, last_us, n, sv))
    # event-time timeout: the open session flushes once the watermark passes
    # its gap deadline (deterministic, unlike wall-clock timeouts)
    state.setTimeoutTimestamp(last_us // 1000 + gap_us // 1000)
    if out:
        yield pd.DataFrame(
            {
                "user_id": [r[0] for r in out],
                "session_start": [pd.Timestamp(r[1], unit="us") for r in out],
                "session_end": [pd.Timestamp(r[2], unit="us") for r in out],
                "n_events": [r[3] for r in out],
                "sum_value": [r[4] for r in out],
            }
        )


# Complete-flush variant: end-of-stream punctuation.  The plain stateful
# sessionizer can't emit each user's open tail session under AvailableNow
# (the watermark never passes its gap deadline), so batch parity needs a
# flush signal.  The streaming-idiomatic answer is a per-user sentinel
# ("punctuation") event past every possible gap deadline: it closes the open
# session data-driven, without waiting on watermark timeouts.  At 100 TB
# this is exactly how a backfill drains: append one punctuation row per key
# after the backlog, let the operator flush, ignore the sentinel itself.

_SESSION_FULL_OUT_SCHEMA = (
    "user_id bigint, session_id bigint, session_start timestamp_ntz, "
    "session_end timestamp_ntz, n_events bigint"
)
# seq = number of sessions already CLOSED for this user (session_id = seq+1)
_SESSION_FULL_STATE_SCHEMA = "start_us long, last_us long, n long, seq long"


def _session_full_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
):
    """Gap sessionizer with punctuation handling and per-user session
    ordinals.  Sentinel rows (is_sentinel=1) close the open session but are
    never counted into one."""
    gap_us = 30 * 60 * 1_000_000

    if state.hasTimedOut:
        start_us, last_us, n, seq = state.get
        state.remove()
        if n > 0:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_id": [seq + 1],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                }
            )
        return

    rows = pd.concat(list(pdfs)).sort_values(["ts", "is_sentinel"])
    ts_col = rows["ts"]
    if getattr(ts_col.dtype, "tz", None) is not None:
        ts_col = ts_col.dt.tz_convert("UTC").dt.tz_localize(None)
    ts_us = ts_col.astype("datetime64[us]").astype("int64").tolist()
    sentinels = rows["is_sentinel"].astype("int64").tolist()

    if state.exists:
        start_us, last_us, n, seq = state.get
    else:
        start_us, last_us, n, seq = None, None, 0, 0

    out = []
    for t, is_sent in zip(ts_us, sentinels):
        gap_over = last_us is not None and t - last_us > gap_us
        if n > 0 and (gap_over or is_sent):
            seq += 1
            out.append((key[0], seq, start_us, last_us, n))
            start_us, n = None, 0
        if is_sent:
            last_us = None
            continue
        if n == 0:
            start_us = t
        last_us = t
        n += 1
    state.update((start_us or 0, last_us or 0, n, seq))
    if last_us is not None:
        state.setTimeoutTimestamp(last_us // 1000 + gap_us // 1000)
    if out:
        yield pd.DataFrame(
            {
                "user_id": [r[0] for r in out],
                "session_id": [r[1] for r in out],
                "session_start": [pd.Timestamp(r[2], unit="us") for r in out],
                "session_end": [pd.Timestamp(r[3], unit="us") for r in out],
                "n_events": [r[4] for r in out],
            }
        )


def sessionize_stateful_complete(
    spark: SparkSession, sf_dir: str, timeout_s: int = 300
) -> DataFrame:
    """Streaming sessionization with end-of-stream punctuation: the events
    backlog plus one per-user sentinel row (ts = max(ts) + gap + 1h) streamed
    through ``applyInPandasWithState``.  Every session — including each
    user's tail session — is emitted with its 1-based per-user ordinal, so
    the result equals the batch sessionization (``sessionize_events``)
    restricted to (user_id, session_id, session_start, session_end,
    n_events).

    sum_value is deliberately NOT emitted here: the stateful operator
    accumulates per-row in arrival order, which cannot be made bit-identical
    to the oracle's exact DECIMAL sum across engines; the batch twin covers
    that column."""
    import shutil

    _prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    name = f"sessions_{uuid.uuid4().hex[:8]}"

    # Build the punctuation file: one sentinel per user beyond every gap
    # deadline.  Driver-side work is one tiny aggregate (distinct users +
    # global max ts) — at 100 TB this is the same "drain marker" append a
    # production backfill would do.
    from lakehouse_sfc_spark.sources.loader import load_table

    ev = load_table(spark, sf_dir, "events")
    sentinel_dir = _mkworkdir("lakehouse-sfc-punct-")
    try:
        max_ts = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
        (
            ev.select("user_id")
            .distinct()
            .select(
                F.lit(-1).cast("long").alias("event_id"),
                F.lit(max_ts)
                .cast("timestamp_ntz")
                .alias("ts"),
                F.col("user_id"),
                F.lit("__punctuation__").alias("event_type"),
                F.lit(None).cast("double").alias("value"),
                F.lit(None).cast("string").alias("props"),
            )
            .withColumn(
                "ts", F.col("ts") + F.expr("INTERVAL 90 MINUTES")
            )
            .write.mode("overwrite")
            .parquet(os.path.join(sentinel_dir, "punct"))
        )

        events_src = read_events_stream(spark, sf_dir).withColumn(
            "is_sentinel", F.lit(0)
        )
        punct_schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampNTZType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        )
        punct_src = (
            spark.readStream.schema(punct_schema)
            .parquet(os.path.join(sentinel_dir, "punct"))
            .withColumn("ts", F.col("ts").cast("timestamp_ltz"))
            .withColumn("is_sentinel", F.lit(1))
        )
        src = (
            events_src.unionByName(punct_src)
            .select("user_id", "ts", "is_sentinel")
            .withWatermark("ts", "30 minutes")
        )
        sessions = src.groupBy("user_id").applyInPandasWithState(
            _session_full_fn,
            outputStructType=_SESSION_FULL_OUT_SCHEMA,
            stateStructType=_SESSION_FULL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        return _replay_to_memory(
            spark, sessions, name, "lakehouse-sfc-sessfull-", "append", timeout_s
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", _prev_tz)
        shutil.rmtree(sentinel_dir, ignore_errors=True)


def sessionize_stateful(
    spark: SparkSession, sf_dir: str, timeout_s: int = 300
) -> DataFrame:
    """Streaming sessionization via applyInPandasWithState (30-min gap).
    Returns the sessions closed during the AvailableNow run; the open tail
    session per user stays in state (flushed by timeout in a live stream)."""
    name = f"sessions_{uuid.uuid4().hex[:8]}"
    src = (
        read_events_stream(spark, sf_dir)
        .select("user_id", "ts", "value")
        .withWatermark("ts", "30 minutes")
    )
    sessions = src.groupBy("user_id").applyInPandasWithState(
        _session_fn,
        outputStructType=_SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return _replay_to_memory(
        spark, sessions, name, "lakehouse-sfc-sessions-", "append", timeout_s
    )


def run_stream_interval_join(
    spark: SparkSession,
    sf_dir: str,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
    timeout_s: int = 300,
) -> DataFrame:
    """Stream-stream INTERVAL join: each purchase joins the same user's
    clicks from the preceding hour — the attribution shape (conversion ⋈
    recent impressions) that Structured Streaming's watermarked
    stream-stream join exists for.

    Both sides carry a watermark and the join predicate bounds event time
    on BOTH ends, so the state store can expire rows older than
    (watermark + lookback) — bounded state on an unbounded stream, the
    only construction that survives a 100 TB backlog replay.  With the
    finite backlog driven to completion (AvailableNow) the appended join
    output equals the batch interval join, which is exactly what the
    oracle checks.  The returned frame is the batch REDUCTION of the
    sink (pair counts + per-purchase distinct), keeping the driver row
    small and deterministic."""
    name = f"ivjoin_{uuid.uuid4().hex[:8]}"
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    )
    sink = _replay_to_memory(
        spark, joined, name, "lakehouse-sfc-ivjoin-", "append", timeout_s
    )
    per_purchase = sink.groupBy("p_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.min("p_value").alias("p_value"),
    )
    return per_purchase.agg(
        F.sum("n_clicks").alias("n_pairs"),
        F.count(F.lit(1)).alias("n_purchases_matched"),
        F.max("n_clicks").alias("max_clicks_per_purchase"),
        F.sum(F.col("p_value").cast("decimal(18,4)"))
        .cast("double")
        .alias("matched_value"),
    )


# --- stateful stream as-of enrichment ---------------------------------------
#
# The SCD (slowly-changing-dimension) enrichment shape: a fact stream
# (purchases) is decorated with the LATEST dimension version (signup /
# profile-update events) as of each fact's event time, per user.  Built-in
# stream-stream joins can't express "latest row at or before t" (they match
# ranges, not argmax), so this is the applyInPandasWithState escape hatch:
# state carries one dimension version per key, facts read it as they pass.
#
# Determinism contract (mirrored bit-exactly by the batch oracle): rows are
# processed in (ts, event_id) order, a dim row updates state, a fact row
# reads the CURRENT state — so a fact is enriched by the dim with the
# greatest (ts, event_id) strictly below the fact's own (ts, event_id).

_ASOF_OUT_SCHEMA = (
    "event_id bigint, user_id bigint, purchase_value double, "
    "dim_event_id bigint, dim_value double, age_s bigint"
)
_ASOF_STATE_SCHEMA = "dim_ts_us long, dim_event_id long, dim_value double"


def _asof_enrich_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
):
    """Per-user walk in (ts, event_id) order: dim rows (is_dim=1) update
    the standing dimension version; fact rows emit themselves enriched by
    it (NULL dim columns when no version exists yet)."""
    rows = pd.concat(list(pdfs))
    ts_col = rows["ts"]
    if getattr(ts_col.dtype, "tz", None) is not None:
        ts_col = ts_col.dt.tz_convert("UTC").dt.tz_localize(None)
    rows = rows.assign(
        ts_us=ts_col.astype("datetime64[us]").astype("int64")
    ).sort_values(["ts_us", "event_id"])

    if state.exists:
        dim_ts_us, dim_event_id, dim_value = state.get
    else:
        dim_ts_us, dim_event_id, dim_value = None, None, None

    out_id, out_pv, out_did, out_dv, out_age = [], [], [], [], []
    for eid, is_dim, ts_us, val in zip(
        rows["event_id"], rows["is_dim"], rows["ts_us"], rows["value"]
    ):
        if is_dim:
            # monotone state update: a dim version arriving in a LATER
            # micro-batch but with an earlier (ts, event_id) (cross-file
            # disorder within the watermark) must not roll the standing
            # version backwards — within a batch rows are sorted, so this
            # guard only ever bites across batches
            if dim_ts_us is not None and (int(ts_us), int(eid)) <= (
                dim_ts_us,
                dim_event_id,
            ):
                continue
            dim_ts_us, dim_event_id, dim_value = int(ts_us), int(eid), float(val)
        else:
            out_id.append(int(eid))
            out_pv.append(float(val))
            out_did.append(dim_event_id)
            out_dv.append(dim_value)
            out_age.append(
                None
                if dim_ts_us is None
                else (int(ts_us) - dim_ts_us) // 1_000_000
            )
    if dim_ts_us is not None:
        state.update((dim_ts_us, dim_event_id, dim_value))
    if out_id:
        # object dtype keeps None as SQL NULL (a float64 column would turn
        # unmatched rows into NaN, which hashes differently from NULL)
        yield pd.DataFrame(
            {
                "event_id": out_id,
                "user_id": [key[0]] * len(out_id),
                "purchase_value": out_pv,
                "dim_event_id": pd.Series(out_did, dtype="object"),
                "dim_value": pd.Series(out_dv, dtype="object"),
                "age_s": pd.Series(out_age, dtype="object"),
            }
        )


def run_stream_asof_enrich(
    spark: SparkSession, sf_dir: str, timeout_s: int = 300
) -> DataFrame:
    """Stream as-of enrichment of purchases by the latest same-user signup
    (the SCD dimension) via applyInPandasWithState; AvailableNow replay of
    the backlog equals the batch as-of join the oracle computes.

    Scale shape: state is ONE dimension version per user (constant per
    key, unlike the sessionizer's open-window payload), facts stream
    through — the state store grows with |dimension keys|, never with the
    fact volume, which is what makes per-event enrichment viable on an
    unbounded stream.

    Ordering contract: within a batch rows are processed in (ts,
    event_id) order; ACROSS batches the state update is monotone (an
    out-of-order dim from a later file can never roll the standing
    version backwards).  A fact arriving in a later batch than a dim
    that FOLLOWS it in event time is enriched with that newer dim — the
    standard streaming-enrichment concession; the single-file backlog
    (read_events_stream's documented contract) makes replays exact."""
    name = f"asof_{uuid.uuid4().hex[:8]}"
    src = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type").isin("purchase", "signup"))
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            (F.col("event_type") == "signup").cast("int").alias("is_dim"),
        )
        .withWatermark("ts", "2 hours")
    )
    enriched = src.groupBy("user_id").applyInPandasWithState(
        _asof_enrich_fn,
        outputStructType=_ASOF_OUT_SCHEMA,
        stateStructType=_ASOF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = _replay_to_memory(
        spark, enriched, name, "lakehouse-sfc-asof-", "append", timeout_s
    )
    return sink.orderBy("event_id")


_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the documents table (file source, whole-file
    micro-batches like read_events_stream; documents carry no event time,
    so consumers aggregate in complete mode rather than with watermarks)."""
    return (
        spark.readStream.schema(_DOCS_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def run_stream_decontaminate(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    mod: int = 23,
    timeout_s: int = 300,
) -> DataFrame:
    """INGEST-TIME decontamination: the document stream's k-shingles join a
    STATIC benchmark shingle set (built once from the batch side — the eval
    suite is fixed while the corpus streams), flagging contaminated
    documents with hit counts as they arrive.  Stream-static inner join
    per micro-batch plus a complete-mode aggregate; with the backlog
    replayed the result equals the batch ``text_decontaminate`` contract.

    Scale shape: the benchmark side is tiny and broadcast into every
    micro-batch; the stream side never shuffles before the join, and the
    aggregate state is bounded by the number of CONTAMINATED docs."""
    from lakehouse_sfc_spark.queries.datapipe import _ngrams, _tokens
    from lakehouse_sfc_spark.sources.loader import load_table

    name = f"decon_{uuid.uuid4().hex[:8]}"
    mod_col = F.col("doc_id") % mod

    # build the static side exactly once
    bench = materialize_once(
        load_table(spark, sf_dir, "documents")
        .filter(F.size(_tokens(F.col("text"))) >= k)
        .filter(mod_col == 0)
        .select(
            F.col("doc_id").alias("b_id"),
            F.explode(_ngrams(_tokens(F.col("text")), k)).alias("s"),
        )
    )
    from lakehouse_sfc_spark.sources.loader import compute_width

    # whole-file micro-batches arrive as ONE partition; exchange the pruned
    # raw rows to full width so the shingle projection parallelizes (the
    # same single-core-pre-shuffle fix as the batch text operators)
    train = (
        read_docs_stream(spark, sf_dir)
        .filter(F.size(_tokens(F.col("text"))) >= k)
        .filter(mod_col != 0)
        .repartition(compute_width(spark))
        .select(
            "doc_id",
            F.explode(_ngrams(_tokens(F.col("text")), k)).alias("s"),
        )
    )
    # streaming aggs forbid COUNT(DISTINCT); collect_set + size is the
    # supported equivalent (state = the distinct hit shingles per doc,
    # bounded by each contaminated doc's shingle count)
    flagged = (
        train.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(
            F.size(F.collect_set("s")).alias("n_hit"),
            F.size(F.collect_set("b_id")).alias("n_bench_docs"),
        )
    )
    return _replay_to_memory(
        spark, flagged, name, "lakehouse-sfc-decon-", "complete", timeout_s
    )


def stream_cdc_tombstones(
    spark: SparkSession,
    sf_dir: str,
    timeout_s: int = 300,
    n_files: int = 4,
) -> DataFrame:
    """CDC changelog apply WITH DELETES into the native sidecar table:
    the events backlog becomes a per-user changelog (click = DELETE,
    anything else = UPSERT of that user's row), streams through
    ``foreachBatch``, and each micro-batch MERGEs latest-wins on
    (user_id, ts).  Deletes are applied as TOMBSTONE rows (Hudi
    soft-delete semantics): the table keeps one row per key — the key's
    LAST change — and the live view filters op != 'delete'.

    Tombstones are what make this ORDER-INDEPENDENT: a delete and an
    upsert for the same key can arrive in any batch order and
    latest-wins-by-(ts, event_id) still lands on the key's true last
    change — a hard delete (merge_into matched_delete, see snap_merge)
    would instead resurrect the row if a stale upsert arrived after the
    delete.  That is exactly why log-compacted CDC systems retain
    tombstones until compaction; at 100 TB the periodic tombstone purge
    is one delete_where pass.

    Returns the LIVE view (user_id, last_event_id, last_value) — equal to
    the batch last-op-per-key query regardless of file split or batch
    arrival order."""
    import shutil

    from lakehouse_sfc_spark.sources.loader import load_table

    _prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    work = _mkworkdir("lakehouse-sfc-cdc-")
    src_dir = os.path.join(work, "src")
    tbl = os.path.join(work, "table")
    try:
        ev = load_table(spark, sf_dir, "events")
        # column order matters: dedup_latest tie-breaks by the remaining
        # columns IN ORDER after the precombine ts, so event_id must come
        # first for the (ts-tie -> higher event_id wins) contract the
        # oracle mirrors
        ops = ev.select(
            "user_id",
            "ts",
            "event_id",
            F.when(F.col("event_type") == "click", "delete")
            .otherwise("upsert")
            .alias("op"),
            "value",
        )
        # plain repartition — deliberately NOT time-ordered, to prove the
        # tombstone apply is batch-order-independent
        ops.repartition(n_files).write.parquet(src_dir)

        cdc_schema = T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("ts", ops.schema["ts"].dataType),
                T.StructField("event_id", T.LongType()),
                T.StructField("op", T.StringType()),
                T.StructField("value", T.DoubleType()),
            ]
        )
        stream = (
            spark.readStream.schema(cdc_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        final = _upsert_stream(spark, stream, tbl, "user_id", timeout_s)
        out = materialize_once(
            final.filter(F.col("op") == "upsert")
            .select(
                "user_id",
                F.col("event_id").alias("last_event_id"),
                F.col("value").alias("last_value"),
            )
            .orderBy("user_id")
        )
        out.count()  # materialize before the temp table dir disappears
        return out
    finally:
        spark.conf.set("spark.sql.session.timeZone", _prev_tz)
        shutil.rmtree(work, ignore_errors=True)


# --- watermark late-data drop accounting --------------------------------------

_LATE_FILES = 4
_LATE_DELAY = "1 hour"
_LATE_STRAGGLER_MOD = 37


def run_late_drop(
    spark: SparkSession, sf_dir: str, timeout_s: int = 120
) -> DataFrame:
    """Watermark LATE-DATA DROP semantics, measured — not assumed: the
    events backlog is replayed as {_LATE_FILES} time-ordered source files
    in which every ``event_id % {_LATE_STRAGGLER_MOD} == 0`` row from the
    first half is DISPLACED two files later (the realistic
    mostly-ordered-with-stragglers stream), through a watermarked 1-hour
    tumbling aggregation (delay {_LATE_DELAY}), one file per micro-batch.

    The drop rule this pins (empirically, Spark 4.1, and asserted in
    tests/test_streaming_late.py so an upgrade that changes it fails
    loudly): a row in micro-batch k is dropped iff its WINDOW END is
    <= max(event time over batches 0..k-2) - delay — i.e. the filter
    watermark lags the data by TWO batches (the progress log's
    ``eventTime.watermark`` for batch k is max over 0..k-1; the filter
    applies the PREVIOUS batch's committed value).  The oracle replays
    the same rule in SQL.  total_dropped is measured as input rows minus
    survived rows — NOT from numRowsDroppedByWatermark, which counts rows
    arriving at the STATE operator, i.e. after map-side partial
    aggregation: two same-window rows dropped in one batch collapse into
    one partial and the counter reads 1 (a real metric trap, pinned in
    tests/test_streaming_late.py).

    At 100 TB this operator is the curve you tune `withWatermark` on:
    delay too small silently deletes straggler data (what this measures),
    delay too large holds state forever."""
    import shutil

    from lakehouse_sfc_spark.sources.loader import load_table
    from pyspark.sql.window import Window

    _prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    work = _mkworkdir("lakehouse-sfc-late-")
    src_dir = os.path.join(work, "src")
    os.makedirs(src_dir)
    try:
        ev = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
            .select("event_id", "ts", "value")
        )
        chunk = (
            F.ntile(_LATE_FILES).over(Window.orderBy("ts", "event_id")) - 1
        )
        f = ev.withColumn("chunk", chunk).withColumn(
            "file",
            F.when(
                (F.col("event_id") % _LATE_STRAGGLER_MOD == 0)
                & (F.col("chunk") < _LATE_FILES // 2),
                F.col("chunk") + 2,
            ).otherwise(F.col("chunk")),
        )
        f = materialize_once(f)  # one deterministic assignment, reused
        n_input = f.count()
        # ONE partitioned write instead of _LATE_FILES sequential
        # filter+coalesce jobs (each re-scanned the checkpoint; measured
        # 2.8 s → <1 s at sf0.01).  repartition("file") leaves exactly one
        # task per file value, so each file=k dir holds one part file.
        part_root = os.path.join(work, "parts")
        (
            f.select("event_id", "ts", "value", "file")
            .repartition(_LATE_FILES, "file")
            .write.partitionBy("file")
            .parquet(part_root)
        )
        for k in range(_LATE_FILES):
            part_dir = os.path.join(part_root, f"file={k}")
            srcs = [
                p for p in os.listdir(part_dir) if p.endswith(".parquet")
            ]
            assert len(srcs) == 1, f"expected 1 part file, got {srcs}"
            dst = os.path.join(src_dir, f"batch-{k:02d}.parquet")
            os.rename(os.path.join(part_dir, srcs[0]), dst)
            os.utime(dst, (1_000_000 + k * 100,) * 2)

        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, value double"
            )  # watermark requires TIMESTAMP; session tz is UTC
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        agg = (
            stream.withWatermark("ts", _LATE_DELAY)
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("double")
                .alias("sum_value"),
            )
        )
        name = f"late_drop_{uuid.uuid4().hex[:8]}"
        checkpoint = os.path.join(work, "ckpt")
        with _capped_state_partitions(spark):
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("update")
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination(timeout_s)
            finally:
                if q.isActive:
                    q.stop()
        # update-mode sink holds one row per (window, update); the FINAL
        # update per window is the one with the highest count (counts are
        # strictly monotone per update)
        sink = spark.table(name)
        wlast = Window.partitionBy("w").orderBy(F.desc("cnt"))
        final = materialize_once(
            sink.withColumn("rn", F.row_number().over(wlast))
            .filter(F.col("rn") == 1)
        )
        kept = final.agg(F.sum("cnt")).collect()[0][0] or 0
        dropped = n_input - int(kept)
        out = materialize_once(
            final.select(
                # back to NTZ so the schema matches the batch/oracle side
                F.col("w.start").cast("timestamp_ntz").alias("ws"),
                "cnt",
                "sum_value",
                F.lit(int(dropped)).cast("bigint").alias("total_dropped"),
            ).orderBy("ws")
        )
        out.count()  # materialize before src_dir disappears
        return out
    finally:
        spark.conf.set("spark.sql.session.timeZone", _prev_tz)
        shutil.rmtree(work, ignore_errors=True)
