"""Layout-aware benchmark of lakehouse_sfc_spark.

    python3 perfbench/run.py --workload skip_scan --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The input tables are the package's own
sf0.01 test dataset, committed under ``perfbench/data``; each run works in
``.perfbench_work/run`` and leaves its full result, host shape included,
under ``.perfbench_work/out``.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer metrics, whose
spans go to ``.perfbench_work/out/spans-*.jsonl``).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
SCALE = 0.01
#: named apart from other sf0.01 copies: the package keys its ``.scratch``
#: caches on the dataset directory's name and prunes same-named siblings
DATA_DIR = HERE / "data" / "perfbench-sf0.01"
RUN_DIR = WORK / "run"
OUT_DIR = WORK / "out"
CACHE_ROOT = ROOT / ".scratch"

WORKLOAD_NAMES = ("skip_scan", "headline_queries")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def driver_mem_gb() -> int:
    """An eighth of physical RAM, between 1 and 4 GiB: the package's 24g
    default would exceed a small host, and a heap the runs fill steadies
    the JVM's resident size from run to run."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(1, min(4, total // (8 << 30)))


def configure_env() -> dict:
    """Keep every file the run writes inside the checkout and size the
    session to the host.  Returns the settings, for the result."""
    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    env = {
        "TZ": "UTC",
        "TMPDIR": str(tmp),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_gb()}g",
        "SPARK_GRAFT_LOCAL_DIR": str(local),
        "SPARK_LOCAL_DIRS": str(local),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    time.tzset()
    tempfile.tempdir = None
    return env


def ensure_query_caches() -> str:
    """The headline queries keep derived tables (layout copies, drift
    states, dedup labels) under the package's ``.scratch``, keyed by the
    dataset.  They are built once per checkout, before the first run of
    any workload, in a separate process so the measured run still starts
    with a cold JVM; every run therefore starts with them warm, traced
    runs of ``skip_scan`` (whose layer probes run the headline queries)
    included.  Returns the state found, for the result."""
    marker = WORK / f"caches-{DATA_DIR.name}"
    if marker.exists() and glob.glob(str(CACHE_ROOT / "**" / DATA_DIR.name), recursive=True):
        return "warm"
    subprocess.run([sys.executable, __file__, "--build-caches"], check=True, timeout=600)
    marker.touch()
    return "warm (built before this run)"


def build_caches() -> int:
    """Run every headline query once, so the package builds its caches."""
    from harness import HEADLINE_QUERIES

    from lakehouse_sfc_spark.queries import registry
    from lakehouse_sfc_spark.session import get_spark

    spark = get_spark(app_name="perfbench-caches")
    try:
        for q in HEADLINE_QUERIES:
            registry.QUERIES[q].fn(spark, str(DATA_DIR)).collect()
    finally:
        spark.stop()
    return 0


def host_shape(b, env: dict, caches: str) -> dict:
    sc = b.spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "driver_memory": sc.getConf().get("spark.driver.memory", ""),
        "spark.local.dir": sc.getConf().get("spark.local.dir", ""),
        "spark_version": b.spark.version,
        "java_version": sc._jvm.System.getProperty("java.version"),
        "master": sc.master,
        "scratch_caches_at_start": caches,
    }


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if not (ROOT / "lakehouse_sfc_spark" / "__init__.py").is_file():
        print(f"perfbench: no lakehouse_sfc_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    env = configure_env()
    if argv == ["--build-caches"]:
        return build_caches()
    args = parse_args(argv)
    data_dir = str(DATA_DIR)
    caches = ensure_query_caches()
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    RUN_DIR.mkdir(parents=True)
    OUT_DIR.mkdir(parents=True, exist_ok=True)

    import workloads
    from harness import END_TO_END, PER_LAYER, Bench
    from layers import TARGETS

    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), data_dir, str(RUN_DIR))
    if b.tracer:
        b.tracer.install(TARGETS)
    try:
        values = workloads.WORKLOADS[args.workload](b)
        host = host_shape(b, env, caches)
    finally:
        if b.tracer:
            b.tracer.uninstall()
        b.stop_session()
        shutil.rmtree(RUN_DIR, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "scale": SCALE,
        "host": host,
        "details": b.details,
        "failures": b.failures[:50],
        "result": result,
    }
    if b.tracer:
        spans = OUT_DIR / f"spans-{stem}.jsonl"
        b.tracer.dump(str(spans))
        detail["spans_file"] = str(spans.relative_to(ROOT))
    (OUT_DIR / f"result-{stem}.json").write_text(json.dumps(detail, indent=1, default=str))
    print("perfbench: host " + json.dumps(host))
    print("perfbench: details " + json.dumps(b.details, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
