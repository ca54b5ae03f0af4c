"""Runtime behaviour of ``sources.loader.materialize_once``, the package's
only checkpoint call.

Both checks run in a subprocess with its own ``local[2,2]`` session: two
task threads and up to two attempts per task, so a task that fails once is
retried instead of failing the job (the shared test session allows one
attempt).

- Retry: an Arrow kernel that raises on the first attempt of one partition
  feeds a materialized relation read by two consumers.  Both consumers see
  the rows of a run without the fault, and every partition's kernel ran
  once per attempt — the second consumer read the materialization instead
  of re-running the kernel.
- Vanished source: a relation read from a temp parquet directory, passed
  through ``materialize_once`` and then one action, still collects after the
  directory is deleted (the pattern of the streaming entries that remove
  their work directory in ``finally``).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]

_SCRIPT = r"""
import json, os, shutil, sys, uuid

repo, work = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)

import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import functions as F

from lakehouse_sfc_spark.session import get_spark
from lakehouse_sfc_spark.sources.loader import materialize_once

spark = get_spark(
    app_name="materialize-once-check", master="local[2,2]", shuffle_partitions=2
)
SCHEMA = "id long, v long"


def run(tag, fail):
    marks = os.path.join(work, tag)
    os.makedirs(marks)

    def kernel(batches):
        ctx = TaskContext.get()
        attempt = f"p{ctx.partitionId()}-a{ctx.attemptNumber()}"
        open(os.path.join(marks, f"{attempt}-{uuid.uuid4().hex}"), "w").close()
        if fail and ctx.partitionId() == 1 and ctx.attemptNumber() == 0:
            raise RuntimeError("injected first-attempt fault")
        for rb in batches:
            ids = rb.column("id")
            v = pc.bit_wise_and(pc.multiply(ids, 2654435761), 0xFFFF)
            yield pa.RecordBatch.from_arrays([ids, v], names=["id", "v"])

    base = spark.range(0, 4000, 1, 4)
    rel = materialize_once(base.mapInArrow(kernel, SCHEMA))
    by_bucket = sorted(
        tuple(r)
        for r in rel.groupBy((F.col("v") % 7).alias("b"))
        .agg(F.count(F.lit(1)), F.sum("v"))
        .collect()
    )
    top = sorted(tuple(r) for r in rel.orderBy(F.desc("v"), "id").limit(25).collect())
    runs = sorted(name.rsplit("-", 1)[0] for name in os.listdir(marks))
    return {"by_bucket": by_bucket, "top": top, "runs": runs}


clean = run("clean", fail=False)
faulty = run("faulty", fail=True)

src = os.path.join(work, "src")
spark.range(0, 500, 1, 3).selectExpr("id", "id * 3 AS v").write.parquet(src)
out = materialize_once(spark.read.parquet(src).filter(F.col("id") % 5 == 0))
out.count()
shutil.rmtree(src)
gone = sorted(tuple(r) for r in out.collect())

spark.stop()
print(json.dumps({"clean": clean, "faulty": faulty, "gone": gone}))
"""


@pytest.mark.slow
def test_materialize_once_retry_and_vanished_source(tmp_path):
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(REPO), str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    clean, faulty = got["clean"], got["faulty"]

    # the retried relation holds exactly the fault-free rows, for both
    # consumers
    assert faulty["by_bucket"] == clean["by_bucket"]
    assert faulty["top"] == clean["top"]
    assert sum(r[1] for r in clean["by_bucket"]) == 4000

    # the kernel ran once per task attempt: the fault really fired and was
    # retried, and the second consumer read the materialization
    assert clean["runs"] == ["p0-a0", "p1-a0", "p2-a0", "p3-a0"]
    assert faulty["runs"] == ["p0-a0", "p1-a0", "p1-a1", "p2-a0", "p3-a0"]

    # materialized before the source directory was deleted
    assert got["gone"] == [[i, 3 * i] for i in range(0, 500, 5)]
