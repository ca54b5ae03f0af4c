"""Sources: format-sniffing loader, TPC-H pipe-delimited CSV ingest, and the
test-table registry.

Reference parity:
- S1 format sniffing  -> ``lakehouse_op/io_loader.py:67-148``
- S2 TPC-H CSV ingest -> ``lakehouse_op/tpch_all_loader.py:77-91``
- S3 table reader + temp view -> ``lakehouse_op/run_queries.py:86-125``
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_sfc_spark import TABLES

_FORMAT_BY_SUFFIX = {
    ".parquet": "parquet",
    ".csv": "csv",
    ".tsv": "csv",
    ".json": "json",
    ".jsonl": "json",
}

_DEFAULT_OPTIONS = {
    "csv": {"header": "true", "inferSchema": "true"},
    "json": {},
    "parquet": {},
}


def sniff_format(path: str) -> tuple[str, dict[str, str]]:
    """Detect csv/tsv/parquet/json by file suffix with a 1-level directory
    peek, falling back to parquet (reference: io_loader.py:67-112)."""

    def _suffix_of(p: str) -> str | None:
        _, ext = os.path.splitext(p)
        return ext.lower() or None

    suffix = _suffix_of(path)
    if suffix not in _FORMAT_BY_SUFFIX and os.path.isdir(path):
        for entry in sorted(os.listdir(path)):
            if entry.startswith((".", "_")):
                continue
            s = _suffix_of(entry)
            if s in _FORMAT_BY_SUFFIX:
                suffix = s
                break
    fmt = _FORMAT_BY_SUFFIX.get(suffix or "", "parquet")
    options = dict(_DEFAULT_OPTIONS.get(fmt, {}))
    if suffix == ".tsv":
        options["sep"] = "\t"
    return fmt, options


def load_input_df(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Load any supported input; sniffed format unless given explicitly."""
    sniffed_fmt, sniffed_opts = sniff_format(path)
    fmt = fmt or sniffed_fmt
    opts = {**sniffed_opts, **(options or {})}
    return spark.read.format(fmt).options(**opts).load(path)


# --- TPC-H dbgen CSV ingest (pipe-delimited, headerless, trailing '|') -----

TPCH_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
            T.StructField("r_comment", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
            T.StructField("n_comment", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.DateType()),
            T.StructField("l_commitdate", T.DateType()),
            T.StructField("l_receiptdate", T.DateType()),
            T.StructField("l_shipinstruct", T.StringType()),
            T.StructField("l_shipmode", T.StringType()),
            T.StructField("l_comment", T.StringType()),
        ]
    ),
}


def tpch_csv_reader(spark: SparkSession, path: str, table: str) -> DataFrame:
    """dbgen ``.tbl`` ingest: pipe-delimited, headerless, explicit schema,
    trailing ``_dummy`` column dropped (reference: tpch_all_loader.py:77-91)."""
    schema = TPCH_SCHEMAS[table]
    schema_with_dummy = T.StructType(
        list(schema.fields) + [T.StructField("_dummy", T.StringType())]
    )
    df = (
        spark.read.option("sep", "|")
        .option("dateFormat", "yyyy-MM-dd")
        .schema(schema_with_dummy)
        .csv(path)
    )
    return df.drop("_dummy")


# --- Date inference for string columns --------------------------------------


def infer_date_columns(
    df: DataFrame,
    threshold: float = 0.9,
    fmt: str = "yyyy-MM-dd",
    columns: list[str] | None = None,
) -> DataFrame:
    """Cast string columns to DATE when >= ``threshold`` of their non-null
    values parse (reference: wlg/datasource/csv.py:49-60,
    parquet.py:58-66 — same 90% rule, evaluated there per pandas batch).

    One distributed pass: every candidate's parse-success ratio is computed
    in a single aggregate over one scan, then the qualifying casts apply
    lazily — no per-column jobs, no driver data movement beyond one row."""
    candidates = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.StringType)
        and (columns is None or f.name in columns)
    ]
    if not candidates:
        return df
    aggs = []
    for c in candidates:
        parsed = F.try_to_timestamp(F.col(c), F.lit(fmt))
        aggs += [
            F.count(c).alias(f"__n_{c}"),
            F.count(parsed).alias(f"__ok_{c}"),
        ]
    row = df.agg(*aggs).collect()[0]
    to_cast = [
        c
        for c in candidates
        if row[f"__n_{c}"] > 0
        and row[f"__ok_{c}"] / row[f"__n_{c}"] >= threshold
    ]
    for c in to_cast:
        df = df.withColumn(c, F.to_date(F.col(c), fmt))
    return df


# --- JDBC source (S13) ------------------------------------------------------


def jdbc_options(
    url: str,
    table: str,
    partition_column: str | None = None,
    bounds: tuple[int, int] | None = None,
    num_partitions: int | None = None,
    fetchsize: int = 10_000,
    **extra: str,
) -> dict[str, str]:
    """Options for a parallel JDBC scan (reference reads Postgres with a
    server-side cursor, wlg/datasource/postgres.py:29-101; Spark-first this
    is ``spark.read.format("jdbc")`` with range partitioning).

    Scale note: without partition_column the whole table arrives through ONE
    connection on one executor; always pass a numeric/indexed column plus its
    bounds for any table that matters."""
    opts = {"url": url, "dbtable": table, "fetchsize": str(fetchsize)}
    if partition_column is not None:
        if bounds is None or num_partitions is None:
            raise ValueError(
                "partition_column needs bounds=(lower, upper) and num_partitions"
            )
        opts.update(
            {
                "partitionColumn": partition_column,
                "lowerBound": str(bounds[0]),
                "upperBound": str(bounds[1]),
                "numPartitions": str(num_partitions),
            }
        )
    opts.update({k: str(v) for k, v in extra.items()})
    return opts


# --- Test-table registry ----------------------------------------------------


# Parquet TIMESTAMP(NANOS) columns (written by pandas datetime64[ns]) are
# illegal for Spark's reader; read them as raw long nanos and truncate to
# microsecond timestamps (matching DuckDB's ns->us coercion).
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


_SHIPPED_APPS: set[str] = set()


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship this package to Python workers once per session via addPyFile —
    the same mechanism as ``spark-submit --py-files`` on a real cluster.

    Spark pickles module-level UDF kernels (the Arrow pandas_udf /
    mapInPandas / applyInPandas stages) BY REFERENCE, so the worker process
    must be able to ``import lakehouse_sfc_spark``.  When the driver process
    happened to run from the repo root, the cwd satisfied that silently;
    from any other working directory every Python-worker stage would fail
    with a ModuleNotFoundError.  Shipping a zip removes the cwd dependence
    entirely.  Must run before the session's first Python-worker task
    (``load_table`` precedes every query, so it does)."""
    try:
        app_id = spark.sparkContext.applicationId
    except Exception:
        return
    if app_id in _SHIPPED_APPS:
        return
    _SHIPPED_APPS.add(app_id)
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg_name = os.path.basename(pkg_dir)  # lakehouse_sfc_spark
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}_{app_id}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for f in files:
                    if not f.endswith(".py"):
                        continue
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        pkg_name, os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        # best-effort: a session that forbids addPyFile keeps the old
        # behavior (works whenever the repo is importable on workers)
        pass


# Analyzed-relation cache (the catalog pattern every engine uses): building
# a parquet relation costs a file listing + footer read + schema resolution
# per call — ~0.1 s per table on this host, paid on EVERY query build since
# queries are declared fresh each run.  DataFrames are immutable, so reuse
# is safe; the key carries the file's (size, mtime_ns) so a regenerated
# dataset can never serve a stale relation, and the applicationId scopes
# entries to the live SparkContext.  At 100 TB the same caching amortizes
# object-store LIST calls across a session's queries.
_TABLE_CACHE: dict[tuple, DataFrame] = {}
_TABLE_CACHE_MAX = 256


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_package_on_executors(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        # Directory-backed datasets: a directory's own (size, mtime) may
        # not change when a part file is overwritten IN PLACE, so fold the
        # max descendant (mtime_ns, size) into the key — RECURSIVELY,
        # since Hive-partitioned layouts nest part files a level down and
        # the partition dir's mtime only moves on entry create/delete.
        # Single files (the testdata shape) keep the cheap one-stat key.
        child_key = None
        if os.path.isdir(path):
            stats = []
            for root, dirs, fnames in os.walk(path):
                dirs[:] = [
                    d for d in dirs if not d.startswith((".", "_"))
                ]
                for f in fnames:
                    if not f.startswith((".", "_")):
                        stats.append(os.stat(os.path.join(root, f)))
            child_key = max(
                ((c.st_mtime_ns, c.st_size) for c in stats),
                default=None,
            )
        key = (
            spark.sparkContext.applicationId,
            os.path.abspath(path),
            st.st_size,
            st.st_mtime_ns,
            child_key,
        )
    except OSError:
        key = None  # let the Spark reader raise its own error path
    if key is not None and key in _TABLE_CACHE:
        return _TABLE_CACHE[key]
    nanos_cols = _NANOS_TS_COLS.get(name, ())
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos_cols:
        if isinstance(df.schema[c].dataType, T.LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    if key is not None:
        if len(_TABLE_CACHE) >= _TABLE_CACHE_MAX:
            _TABLE_CACHE.clear()  # bounded: entries are cheap to rebuild
        _TABLE_CACHE[key] = df
    return df


def dataset_fingerprint(sf_dir: str, tables: tuple[str, ...] = TABLES) -> str:
    """Short stable id for the CONTENT of a test dataset: absolute path plus
    (size, mtime) of each table file.  Derived caches (layout copies, cell
    partitions, bucketed tables) key on this so a regenerated dataset — or a
    different directory sharing the same basename — can never serve a stale
    cache."""
    import hashlib

    h = hashlib.sha256(os.path.abspath(sf_dir).encode())
    for name in sorted(tables):
        p = os.path.join(sf_dir, f"{name}.parquet")
        try:
            st = os.stat(p)
            h.update(f"{name}:{st.st_size}:{st.st_mtime_ns}".encode())
        except OSError:
            h.update(f"{name}:absent".encode())
    return h.hexdigest()[:12]


# --- Derived-dataset caches -------------------------------------------------
#
# Layout copies, upsert states, snapshot chains, edge lists, IVF cells and
# dedup labels are built once per dataset and reused by every later query
# build.  This section is the only code that knows where they live
# (``<repo>/.scratch/<kind>/<dataset-basename>/<fingerprint>``) and how a
# directory cache is published (tmp sibling + atomic rename + ``_SUCCESS``).
# Every one of them publishes through ``build_once``: stats sidecars and
# snapshot manifests name files relative to the table directory, so a
# table built in the tmp sibling stays readable after the rename.

_SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch",
)


def scratch_dir(kind: str, sf_dir: str, tables: tuple[str, ...]) -> str:
    """``<repo>/.scratch/<kind>/<dataset-basename>/<fingerprint>`` for the
    derived cache ``kind`` (a slash path carrying its version tag, e.g.
    ``"graph_edges/v1"``).  Fingerprint-keyed on ``tables`` of ``sf_dir``
    so a regenerated (or same-named) dataset never serves a stale cache.
    On first miss, stale sibling fingerprints of the SAME basename are
    pruned, and so are the other versions of a kind that ends in a
    ``v<N>`` tag (``snap_cache/v3`` beside ``snap_cache/v4``; siblings not
    named ``v<M>`` stay), so the footprint stays one copy per dataset, not
    one per mtime or version bump."""
    import re
    import shutil

    fp = dataset_fingerprint(sf_dir, tables)
    parent = os.path.join(
        _SCRATCH, kind, os.path.basename(os.path.normpath(sf_dir))
    )
    path = os.path.join(parent, fp)
    if os.path.exists(path):
        return path
    versions, tag = os.path.split(os.path.join(_SCRATCH, kind))
    if re.fullmatch(r"v\d+", tag) and os.path.isdir(versions):
        for old in os.listdir(versions):
            if old != tag and re.fullmatch(r"v\d+", old):
                shutil.rmtree(os.path.join(versions, old), ignore_errors=True)
    if os.path.isdir(parent):
        for stale in os.listdir(parent):
            # Keep in-flight tmp siblings of the CURRENT fingerprint
            # (``<fp>.tmp.<pid>``, see _atomic_cache_write) — pruning them
            # mid-write would race a concurrent builder of the same cache —
            # UNLESS the builder pid is dead (crash leftover: prune, else
            # the scratch dir leaks across rounds until the fp changes).
            if stale.startswith(fp + ".tmp."):
                if _tmp_builder_dead(stale, fp):
                    shutil.rmtree(os.path.join(parent, stale), ignore_errors=True)
            elif stale != fp:
                shutil.rmtree(os.path.join(parent, stale), ignore_errors=True)
    return path


def build_once(path: str, build) -> str:
    """Return ``path`` at once when ``path/_SUCCESS`` exists; otherwise run
    ``build(tmp)`` into a tmp sibling (``build`` creates the directory,
    e.g. ``df.write.parquet`` or ``os.makedirs``), add ``_SUCCESS`` if the
    build did not, and publish it atomically at ``path``.  A build that
    raises leaves nothing behind, so the next call rebuilds."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path

    def write_to(tmp: str) -> None:
        build(tmp)
        marker = os.path.join(tmp, "_SUCCESS")
        if not os.path.exists(marker):
            open(marker, "w").close()

    _atomic_cache_write(write_to, path)
    return path


def _tmp_builder_dead(name: str, fp: str) -> bool:
    """True when a ``<fp>.tmp.<pid>`` scratch dir's builder process is no
    longer alive (or the suffix is malformed) — safe to prune."""
    suffix = name[len(fp + ".tmp.") :]
    try:
        pid = int(suffix)
    except ValueError:
        return True
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return True
    except PermissionError:
        return False  # alive, owned by someone else
    return False


def _atomic_cache_write(write_to, path: str) -> None:
    """Publish a fingerprint-keyed cache dir atomically: materialize into a
    tmp sibling, then os.rename into place (atomic on one filesystem), so a
    concurrent reader either misses (_SUCCESS absent) or sees the complete
    directory — never a partial write.  ``write_to`` is a callable taking
    the destination path.  A ``write_to`` that raises takes its tmp dir
    with it.  Losing the rename race to another builder of the same
    fingerprint is fine: their result is equivalent; ours is discarded.

    Rename failure is adjudicated by errno, not swallowed: losing the race
    to a COMPLETE sibling (``_SUCCESS`` present) discards our copy, but a
    partial dir already at ``path`` without ``_SUCCESS`` (e.g. a crash from
    a pre-atomic writer) is evicted and the rename retried once — otherwise
    every run would rebuild, fail ENOTEMPTY, discard, and read the stale
    partial forever.  Unexpected errnos re-raise."""
    import errno
    import shutil

    tmp = f"{path}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        write_to(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, path)
        return
    except OSError as exc:
        if exc.errno not in (errno.ENOTEMPTY, errno.EEXIST, errno.EISDIR):
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            # Lost the race to a complete equivalent build: ours is surplus.
            shutil.rmtree(tmp, ignore_errors=True)
            return
    # Incomplete dir squatting on the cache path: evict and retry once.
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rename(tmp, path)
    except OSError:
        # Second loss: only plausible cause is a concurrent builder that
        # just published; verify completeness rather than guess.
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            raise


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register each test parquet as a temp view (reference semantics of
    ``prepare_table_view``, one engine: ours)."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def compute_width(spark) -> int:
    """Parallelism target for spreading a COMPUTE-heavy projection over a
    narrow scan: the cluster's core count (x2 for stragglers), capped by
    the configured shuffle width.  An untuned session's 200 shuffle
    partitions would just add per-partition overhead for a compute spread —
    unlike a JOIN/AGG exchange, there is no data-size reason to go wider
    than the cores."""
    cores = spark.sparkContext.defaultParallelism
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(shuffle_n, cores * 2))


def materialize_once(df: DataFrame, width: int | None = None) -> DataFrame:
    """Materialize ``df`` once for all its consumers.  This is the only
    checkpoint call in the package, so the policy below is set here alone.

    Use when a relation feeds 2+ consumers that would otherwise each
    re-derive its whole subtree (exchange reuse cannot dedup a broadcast
    side against a shuffle side), as the projection barrier that stops
    CollapseProject from inlining an expensive projection into each
    consumer, or to cut an iterative loop's lineage each round.  ``width``
    spreads a compute-heavy projection leaving a narrow scan (pass
    ``compute_width(spark)``); omit it when the input partitioning is
    already right.  A column-keyed ``repartition`` stays on ``df``.

    Policy: lazy — the first action materializes it, so a ``count()`` or
    collect that is needed anyway doubles as the materializer and no extra
    job runs.  A caller whose source disappears before the result is read
    (a temp directory removed in ``finally``) runs one action on the result
    first.  Storage is the default level (MEMORY_AND_DISK on
    executor-local storage).  The result carries no hash partitioning (its
    scan reports UnknownPartitioning), so a consumer grouping or joining on
    the key of a ``repartition`` in front of it still exchanges.

    Scale caveat: the checkpoint TRUNCATES LINEAGE.  Until the first action
    completes, a failed task is retried from lineage like any other; after
    it, the partitions live on executor-local storage with NO recompute
    fallback, so on a multi-executor cluster a lost executor fails the
    query instead of recomputing, and the materialization costs
    O(relation) executor memory and disk.  There is no reliable mode
    (``checkpoint()`` to a checkpoint directory) because no caller needs
    one yet; when one does, it replaces this body."""
    if width:
        df = df.repartition(width)
    return df.localCheckpoint(eager=False)
