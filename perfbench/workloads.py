"""The two workloads.  Each is a closed loop with one client: set up,
then issue one operation at a time until the run's seconds have passed.

- ``skip_scan``: pruned scans plus a count over four layouts of lineitem.
- ``headline_queries``: the registry's headline queries, build plus collect.

A traced run adds layer probes after the loop: the layout writes the
workload has not made, an upsert drift (``scoped_upsert`` batches, each
followed by probe boxes against the table as it now stands), the curve
keys and the scheduling floor; on ``skip_scan`` also one pass of the
headline queries.
"""

from __future__ import annotations

import datetime
import os
import random
from urllib.parse import urlparse

import numpy as np
import pyarrow.parquet as pq

from harness import HEADLINE_QUERIES, LAYOUTS, SCAN_LAYOUTS, Bench, dir_bytes, median
from layers import OpStats

LAYOUT_COLS = ["l_shipdate", "l_quantity"]
#: record keys of the upsert drift.  ``(l_orderkey, l_linenumber)`` is not
#: unique in the package's lineitem, so, as the package's own drift
#: queries do, the second key is ``__rid``, an md5 over the whole raw row
RECORD_KEYS = ["l_orderkey", "__rid"]
NUM_FILES = 16
#: probes scanned on every layout before the loop: each layout's first
#: scan reads its sidecar and builds its first relation
WARMUP_PROBES = 1
N_PROBES = 500

#: RQ1 selectivity bands; S1's lower edge is one row in ten thousand so a
#: drawn target is never zero
BANDS = (
    ("S1", 0.0001, 0.001),
    ("S2", 0.001, 0.01),
    ("S3", 0.01, 0.1),
    ("S4", 0.1, 0.2),
)

_EPOCH = datetime.datetime(1970, 1, 1)


# -- predicate generation ----------------------------------------------------


def gen_probes(samplers, dists: dict, seed: int, n: int, bands=BANDS) -> list[dict]:
    """``n`` probes drawn from the profiled histograms: 2-d boxes on both
    layout columns (Gaussian copula) and 1-d ranges on ``l_shipdate``.
    Bands cycle S1..S4 and the shape flips after each cycle, so every eight
    probes hold each band in each shape once.  The target inside a band is
    drawn uniformly.  Bounds are in profile units (epoch-ms for dates)."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        band, lo, hi = bands[i % len(bands)]
        target = rng.uniform(lo, hi)
        if (i // len(bands)) % 2 == 0:
            box = samplers.sample_copula(
                [dists[c] for c in LAYOUT_COLS], target, rho=0.4, rng=rng
            )
            bounds = dict(zip(LAYOUT_COLS, box))
        else:
            bounds = {"l_shipdate": samplers.sample_between(dists["l_shipdate"], target, rng)}
        out.append({"band": band, "lo": lo, "hi": hi, "target": target, "bounds": bounds})
    return out


def _ms_to_us(ms: float) -> int:
    return int(round(ms * 1000.0))


def to_preds(bounds: dict) -> list:
    from lakehouse_sfc_spark.table.pruning import Pred

    preds = []
    for col, (lo, hi) in bounds.items():
        if col == "l_shipdate":
            lo = _EPOCH + datetime.timedelta(microseconds=_ms_to_us(lo))
            hi = _EPOCH + datetime.timedelta(microseconds=_ms_to_us(hi))
        preds.append(Pred(col, "between", (lo, hi)))
    return preds


def load_columns(files: list[str], keys: list[str] = ()) -> dict[str, np.ndarray]:
    """The layout columns, and ``keys``, of ``files`` as numpy (dates as
    epoch-µs)."""
    t = pq.read_table(files, columns=list(keys) + LAYOUT_COLS)
    out = {k: t[k].to_numpy(zero_copy_only=False) for k in keys}
    out["l_shipdate"] = t["l_shipdate"].cast("int64").to_numpy()
    out["l_quantity"] = t["l_quantity"].to_numpy()
    return out


def oracle_count(cols: dict[str, np.ndarray], bounds: dict) -> int:
    """Unpruned filter count over every row of a table state."""
    mask = np.ones(len(cols["l_quantity"]), dtype=bool)
    for col, (lo, hi) in bounds.items():
        if col == "l_shipdate":
            lo, hi = _ms_to_us(lo), _ms_to_us(hi)
        mask &= (cols[col] >= lo) & (cols[col] <= hi)
    return int(mask.sum())


def parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


# -- shared pieces -------------------------------------------------------------


def _profile_and_probes(b: Bench, li, n: int, seed: int):
    from lakehouse_sfc_spark.profiler import profile, stats
    from lakehouse_sfc_spark.wlgen import samplers

    prof, _ = profile.profile_df(li.select(*LAYOUT_COLS))
    dists = stats.build_uni_dists(prof)
    with b.span("wlgen.gen"):
        return gen_probes(samplers, dists, seed, n)


def _in_band_frac(probes: list[dict], cols, n_rows: int) -> float:
    hits = 0
    for p in probes:
        sel = oracle_count(cols, p["bounds"]) / n_rows
        hits += p["lo"] <= sel <= p["hi"]
    return hits / len(probes)


def _gate_write(b: Bench, path: str, n_rows: int, what: str) -> None:
    """Written row count equals the input, and every written file has a
    sidecar entry."""
    from lakehouse_sfc_spark.layout import stats

    files = parquet_files(path)
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    side = stats.read_sidecar(path) or {"files": {}}
    listed = {urlparse(u).path or u for u in side["files"]}
    b.check(rows == n_rows, f"{what}: {rows} rows written, {n_rows} expected")
    b.check(set(files) <= listed, f"{what}: files without a sidecar entry")


def _sfc_probe(b: Bench, li) -> None:
    """Time ``add_sfc_key`` plus a forced evaluation for each curve."""
    from pyspark.sql import functions as F

    from lakehouse_sfc_spark.sfc import keys

    for curve in ("zorder", "hilbert"):
        with b.span(f"sfc.{curve}_key"):
            keys.add_sfc_key(li, LAYOUT_COLS, curve=curve).agg(F.max("_sfc")).collect()


def _pruned_count(b: Bench, ops: OpStats, tbl, preds, traced: bool):
    """One skip-scan operation: ``SfcTable.scan`` plus a count.  Returns
    (latency, count, pruner metrics)."""
    from pyspark.sql import functions as F

    from lakehouse_sfc_spark.runner import metrics

    tracer = b.tracer
    if tracer:
        tracer.enabled = traced
    gid = b.job_group()
    t0 = b.clock()
    cdf = tbl.scan(preds).agg(F.count(F.lit(1)).alias("n"))
    with b.span("exec.action"):
        n = cdf.collect()[0][0]
    lat = b.clock() - t0
    if tracer and traced and tracer.op is not None:
        ops.add(b.job_counts(gid), metrics.plan_scan_metrics(cdf))
    if tracer:
        tracer.enabled = True
    return lat, n, tbl.last_scan_metrics


# -- skip_scan -----------------------------------------------------------------


def skip_scan(b: Bench) -> dict:
    from lakehouse_sfc_spark.layout import stats, writer
    from lakehouse_sfc_spark.sources import loader
    from lakehouse_sfc_spark.table import catalog, pruning

    ops = OpStats()
    src = os.path.join(b.data_dir, "lineitem.parquet")
    with b.untimed():
        cols = load_columns([src])
        n_rows = len(cols["l_quantity"])
    with b.timed_setup():
        spark = b.start_session()
        li = loader.load_table(spark, b.data_dir, "lineitem")
        probes = _profile_and_probes(b, li, N_PROBES, b.seed)
        tables = {}
        for lay in SCAN_LAYOUTS:
            path = os.path.join(b.run_dir, "skip", lay)
            writer.layout_write(
                li, path, layout=lay, layout_cols=LAYOUT_COLS,
                stats_cols=LAYOUT_COLS, num_files=NUM_FILES,
            )
            with b.untimed():
                _gate_write(b, path, n_rows, f"layout_write {lay}")
            tables[lay] = catalog.SfcTable(spark, path)
        with b.untimed():
            expected = [oracle_count(cols, p["bounds"]) for p in probes]
            sidecars = {lay: stats.read_sidecar(t.path) for lay, t in tables.items()}
            b.layer["wlgen.in_band_frac"] = _in_band_frac(probes, cols, n_rows)
        # warm-up: the last probes, which the loop never reaches
        for j in range(len(probes) - WARMUP_PROBES, len(probes)):
            for lay in SCAN_LAYOUTS:
                preds = to_preds(probes[j]["bounds"])
                _, n, _ = _pruned_count(b, ops, tables[lay], preds, traced=False)
                with b.untimed():
                    b.check(n == expected[j], f"warm-up scan {lay} probe {j}")

    # operation i scans probe i // 4 on layout i mod 4: every box is scanned
    # on every layout, so the layouts are compared on the same boxes
    survivor_sets: set[tuple] = set()
    per_layout = {lay: [0, 0] for lay in SCAN_LAYOUTS}
    deadline = b.start_loop()
    i = 0
    while b.clock() < deadline and i < (len(probes) - WARMUP_PROBES) * len(SCAN_LAYOUTS):
        j, k = divmod(i, len(SCAN_LAYOUTS))
        lay = SCAN_LAYOUTS[k]
        preds = to_preds(probes[j]["bounds"])
        b.next_op()
        try:
            lat, n, m = _pruned_count(b, ops, tables[lay], preds, traced=True)
        except Exception:
            b.crashed(f"scan {lay} probe {j}")
            i += 1
            continue
        ops.latency.append(lat)
        b.lat["query"].append(lat)
        b.check(n == expected[j], f"scan {lay} probe {j}: {n} != {expected[j]}")
        b.scan_bytes[0] += m["bytes_scanned"]
        b.scan_bytes[1] += m["bytes_total"]
        per_layout[lay][0] += m["files_scanned"]
        per_layout[lay][1] += m["files_total"]
        with b.untimed():
            survivors, _ = pruning.prune_files(sidecars[lay], preds)
        survivor_sets.add((lay, tuple(sorted(survivors))))
        i += 1

    b.end_loop()
    b.details["scans_run"] = i
    b.details["files_scanned"] = {k: f"{v[0]}/{v[1]}" for k, v in per_layout.items()}
    b.details["distinct_survivor_sets"] = len(survivor_sets)
    b.details["relation_cache_capacity"] = pruning._PRUNED_CACHE_MAX
    extra = {"table.distinct_survivor_sets": len(survivor_sets)}
    if b.tracer:
        written = {lay: t.path for lay, t in tables.items()}
        extra.update(_layer_probes(b, spark, ops, written, probes, queries_done=False))
    return _finish(b, ops, "query", extra)


# -- upsert drift (traced runs) ------------------------------------------------

DRIFT_BATCHES = 2
DRIFT_PROBES = 10
UPDATE_FRAC = 0.01
INSERT_FRAC = 0.005
INSERT_KEY_OFFSET = 1 << 40


def _change_set(base, seed: int):
    """Updated rows (new quantity, same key, version 1) and inserted rows
    (shifted order keys), drawn from the seed."""
    from pyspark.sql import functions as F

    upd = base.filter(F.rand(seed) < UPDATE_FRAC).withColumn(
        "l_quantity", F.floor(F.rand(seed + 1) * 50 + 1).cast("double")
    )
    ins = base.filter(F.rand(seed + 2) < INSERT_FRAC).withColumn(
        "l_orderkey", F.col("l_orderkey") + F.lit(INSERT_KEY_OFFSET)
    )
    return upd.unionByName(ins).withColumn("_v", F.lit(1))


def _drift_probe(b: Bench, spark, ops: OpStats, li, n_rows: int,
                 probes: list[dict]) -> dict:
    """Upsert drift on a zorder table (RQ7): seeded update batches, each
    ingested with ``scoped_upsert`` and followed by the probe boxes.
    Returns per-layer metrics the spans do not carry."""
    from pyspark.sql import functions as F

    from lakehouse_sfc_spark.layout import upsert, writer
    from lakehouse_sfc_spark.queries.layouts import _with_rid
    from lakehouse_sfc_spark.table import catalog

    base = _with_rid(li).withColumn("_v", F.lit(0))
    path = os.path.join(b.run_dir, "drift")
    with b.untimed():
        # the drift's own base table, kept out of the write metrics: it
        # carries the key column and key stats the other layouts lack
        writer.layout_write(
            base, path, layout="zorder", layout_cols=LAYOUT_COLS,
            stats_cols=RECORD_KEYS + LAYOUT_COLS, num_files=NUM_FILES,
        )
        _gate_write(b, path, n_rows, "layout_write drift base")
    batches = upsert.build_update_batches(
        _change_set(base, b.seed), os.path.join(b.run_dir, "batches"), DRIFT_BATCHES,
        seed=b.seed,
    )
    tbl = catalog.SfcTable(spark, path)
    state = {"rows": n_rows, "batch_bytes": 0, "written": 0}
    scanned = [0, 0]
    for k, batch in enumerate(batches):
        with b.untimed():
            okeys = load_columns(parquet_files(batch), ["l_orderkey"])["l_orderkey"]
            inserts = int((okeys >= INSERT_KEY_OFFSET).sum())
        _ingest(b, spark, path, batch, inserts, state)
        with b.untimed():
            expected = _expected_probes(path, probes)
        for j, p in enumerate(probes):
            _, n, m = _pruned_count(b, ops, tbl, to_preds(p["bounds"]), traced=True)
            b.check(n == expected[j], f"probe {j} after batch {k}: {n} != {expected[j]}")
            scanned[0] += m["bytes_scanned"]
            scanned[1] += m["bytes_total"]
    b.details["drift_files_after"] = len(parquet_files(path))
    return {
        "layout.write_amp": state["written"] / state["batch_bytes"],
        "table.bytes_scanned_frac.after_upsert": scanned[0] / scanned[1],
    }


def _ingest(b: Bench, spark, path: str, batch: str, n_insert: int, state: dict) -> None:
    """``scoped_upsert`` of one batch; checks the row count and key
    uniqueness afterwards."""
    from lakehouse_sfc_spark.layout import upsert

    before = set(parquet_files(path))
    upsert.scoped_upsert(
        path, spark.read.parquet(batch), RECORD_KEYS, "_v",
        layout="zorder", layout_cols=LAYOUT_COLS,
    )
    with b.untimed():
        state["rows"] += n_insert
        state["batch_bytes"] += dir_bytes(batch, ".parquet")[1]
        state["written"] += sum(
            os.path.getsize(f) for f in parquet_files(path) if f not in before
        )
        cols = load_columns(parquet_files(path), RECORD_KEYS)
        rows = len(cols["l_quantity"])
        distinct = len(set(zip(*(cols[k].tolist() for k in RECORD_KEYS))))
        b.check(
            rows == distinct == state["rows"],
            f"upsert {os.path.basename(batch)}: {rows} rows, {distinct} keys,"
            f" {state['rows']} keys expected",
        )


def _expected_probes(path: str, probes: list[dict]) -> list[int]:
    cols = load_columns(parquet_files(path))
    return [oracle_count(cols, p["bounds"]) for p in probes]


# -- headline_queries ------------------------------------------------------------


def _canon(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, datetime.datetime):
        return "dt:" + v.isoformat()
    if isinstance(v, datetime.date):
        return "d:" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    return f"{type(v).__name__}:{v!r}"


def canon_rows(cols: list[str], rows) -> list[str]:
    """Order-free, column-name-sorted rendering; floats compared bit-exact."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)


def _oracle(data_dir: str, tmp: str):
    import duckdb

    from lakehouse_sfc_spark import TABLES

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t)}.parquet')"
        )
    return con


def _table_bytes(files: list[str], data_dir: str) -> int:
    """Bytes of the tables behind a plan's input files: a dataset table is
    its one file, any other table (a layout directory) every file in it."""
    roots = set()
    for f in files:
        p = urlparse(f).path or f
        roots.add(p if os.path.dirname(p) == data_dir else os.path.dirname(p))
    return sum(
        os.path.getsize(r) if os.path.isfile(r) else dir_bytes(r, ".parquet")[1]
        for r in roots
    )


def _run_query(b: Bench, ops: OpStats, spark, q: str):
    """One headline operation: build the query, then collect its rows, the
    action set-up also ran, so the loop reuses set-up's compiled plans and
    no projection is pruned away as a count would allow.  Returns
    (latency, row count, executed-plan scan metrics)."""
    from lakehouse_sfc_spark.queries import registry
    from lakehouse_sfc_spark.runner import metrics

    gid = b.job_group()
    t0 = b.clock()
    with b.span(f"queries.{q}.build"):
        df = registry.QUERIES[q].fn(spark, b.data_dir)
    with b.span("exec.action", query=q):
        n = len(df.collect())
    lat = b.clock() - t0
    pm = metrics.plan_scan_metrics(df)
    if b.tracer:
        jc = b.job_counts(gid)
        ops.query_jobs[q].append(jc[0])
        if b.tracer.op is not None:
            ops.add(jc, pm)
    return lat, n, pm


def headline_queries(b: Bench) -> dict:
    from lakehouse_sfc_spark.queries import registry

    ops = OpStats()
    oracle_sql = registry.oracles()
    with b.untimed():
        con = _oracle(b.data_dir, os.path.join(b.run_dir, "duckdb"))
    expected: dict[str, int] = {}
    denom: dict[str, int] = {}
    with b.timed_setup():
        spark = b.start_session()
        for q in HEADLINE_QUERIES:
            df = registry.QUERIES[q].fn(spark, b.data_dir)
            rows = df.collect()
            with b.untimed():
                expected[q] = len(rows)
                denom[q] = _table_bytes(df.inputFiles(), b.data_dir)
                if q in oracle_sql:
                    cur = con.execute(oracle_sql[q])
                    ocols = [d[0] for d in cur.description]
                    b.check(
                        canon_rows(df.columns, [tuple(r) for r in rows])
                        == canon_rows(ocols, cur.fetchall()),
                        f"{q}: result differs from its oracle",
                    )
    con.close()

    per_query: dict[str, list[float]] = {q: [] for q in HEADLINE_QUERIES}
    deadline = b.start_loop()
    rnd = random.Random(b.seed)
    passes = 0
    while passes == 0 or b.clock() < deadline:
        order = list(HEADLINE_QUERIES)
        rnd.shuffle(order)
        for q in order:
            if passes and b.clock() >= deadline:
                break
            b.next_op()
            try:
                lat, n, pm = _run_query(b, ops, spark, q)
            except Exception:
                b.crashed(q)
                continue
            ops.latency.append(lat)
            per_query[q].append(lat)
            b.lat["op"].append(lat)
            b.check(n == expected[q], f"{q}: {n} rows, {expected[q]} expected")
            b.scan_bytes[0] += pm["bytes_scanned"]
            b.scan_bytes[1] += denom[q]
        passes += 1
    b.end_loop()
    # one latency per query, so the median is not weighted by which
    # queries a partial last pass reached
    b.lat["query"] = [median(v) for v in per_query.values() if v]
    b.details["passes"] = passes
    b.details["per_query_s"] = per_query
    extra = {}
    if b.tracer:
        extra = _layer_probes(b, spark, ops, {}, None, queries_done=True)
    return _finish(b, ops, "op", extra)


# -- traced runs ------------------------------------------------------------------


def _layer_probes(b: Bench, spark, ops: OpStats, written: dict[str, str],
                  probes: list[dict] | None, queries_done: bool) -> dict:
    """After the loop of a traced run, call every layer the workload's own
    operations did not, so each per-layer metric is measured in every
    traced run: the remaining layout writes, profiling and probe
    generation, an upsert drift, one pass of the headline queries, the
    curve keys and the scheduling floor."""
    from lakehouse_sfc_spark.layout import writer
    from lakehouse_sfc_spark.sources import loader

    b.tracer.op = None
    src = os.path.join(b.data_dir, "lineitem.parquet")
    with b.untimed():
        cols = load_columns([src])
        n_rows = len(cols["l_quantity"])
    li = loader.load_table(spark, b.data_dir, "lineitem")
    if probes is None:
        probes = _profile_and_probes(b, li, DRIFT_PROBES, b.seed)
        with b.untimed():
            b.layer["wlgen.in_band_frac"] = _in_band_frac(probes, cols, n_rows)
    paths = dict(written)
    for lay in LAYOUTS:
        if lay not in paths:
            paths[lay] = os.path.join(b.run_dir, "probe", lay)
            writer.layout_write(
                li, paths[lay], layout=lay, layout_cols=LAYOUT_COLS,
                stats_cols=LAYOUT_COLS, num_files=NUM_FILES,
            )
    on_disk = sum(dir_bytes(p)[1] for p in paths.values())
    extra = {"layout.space_amp": on_disk / (len(paths) * os.path.getsize(src))}
    try:
        extra.update(
            _drift_probe(b, spark, ops, li, n_rows, probes[:DRIFT_PROBES])
        )
    except Exception:
        b.crashed("upsert drift probe")
    if not queries_done:
        for q in HEADLINE_QUERIES:
            try:
                _run_query(b, ops, spark, q)
            except Exception:
                b.crashed(f"query probe {q}")
    _sfc_probe(b, li)
    extra["exec.stage_floor_s"] = b.stage_floor_s()
    return extra


def _finish(b: Bench, ops: OpStats, rate_kind: str, extra: dict) -> dict:
    """End-to-end metrics of the run, or per-layer metrics when traced."""
    from layers import derive

    b.details["samples"] = {k: len(v) for k, v in b.lat.items()}
    b.details["latencies_s"] = {k: [round(x, 4) for x in v] for k, v in b.lat.items()}
    for k, v in b.lat.items():
        if len(v) >= 100:
            b.details[f"{k}_p90_s"] = float(np.quantile(v, 0.9))
    e2e = b.end_to_end(rate_kind)
    b.details["end_to_end"] = e2e
    if not b.tracer:
        return e2e
    return derive(b, ops, {**extra, **b.layer})


WORKLOADS = {
    "skip_scan": skip_scan,
    "headline_queries": headline_queries,
}
