"""The Arrow/NumPy minhash kernel must be bit-identical to the JVM fold.

The round-12 optimization replaced the interpreted higher-order-function
signature fold with ``np.minimum.reduceat`` over the batch's flat gram-hash
buffer (guide §4.2).  Both paths are pure int64 arithmetic, so equality is
exact, not approximate — any drift is a bug, not tolerance.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from lakehouse_sfc_spark.queries.datapipe import (
    _MH_COEF,
    _MH_K,
    _MH_P,
    _h32,
    _mh_arrow_kernel,
    _mh_signatures_arrow,
)


def _mh_signatures(ngr):
    """The JVM MinHash(64) fold the Arrow kernel replaced: (doc_id, mh)
    with each n-gram md5-hashed once and the 64 affine permutations folded
    in one ``F.aggregate`` pass.  Kept here as the kernel's reference."""
    coef = F.array(
        *[
            F.struct(
                F.lit(a).cast("long").alias("a"), F.lit(b).cast("long").alias("b")
            )
            for a, b in _MH_COEF
        ]
    )
    mh_expr = F.aggregate(
        F.transform(F.col("ng"), lambda g: _h32(g) % F.lit(_MH_P)),
        F.array_repeat(F.lit(_MH_P).cast("long"), _MH_K),
        lambda acc, h: F.zip_with(
            acc, coef, lambda m, c: F.least(m, (h * c["a"] + c["b"]) % F.lit(_MH_P))
        ),
    )
    return ngr.select("doc_id", mh_expr.alias("mh"))


def _ref_sig(hashes: list[int]) -> list[int]:
    return [min((h * a + b) % _MH_P for h in hashes) for a, b in _MH_COEF]


def test_kernel_matches_python_reference():
    rows = [[1], [5, 9, 2_000_000_000], [123456789, 7]]
    rb = pa.RecordBatch.from_arrays(
        [pa.array([10, 11, 12], type=pa.int64()), pa.array(rows, type=pa.list_(pa.int64()))],
        names=["doc_id", "hg"],
    )
    (out,) = list(_mh_arrow_kernel(iter([rb])))
    got = out.column("mh").to_pylist()
    assert got == [_ref_sig(r) for r in rows]
    assert out.column("doc_id").to_pylist() == [10, 11, 12]


def test_kernel_sliced_batch_and_empty():
    # A sliced ListArray keeps absolute offsets into the full values buffer;
    # the kernel must not let the final segment swallow trailing data.
    full = pa.array([[3, 4], [7], [8, 9, 10]], type=pa.list_(pa.int64()))
    ids = pa.array([1, 2, 3], type=pa.int64())
    rb = pa.RecordBatch.from_arrays([ids, full], names=["doc_id", "hg"])
    sliced = rb.slice(0, 2)
    (out,) = list(_mh_arrow_kernel(iter([sliced])))
    assert out.column("mh").to_pylist() == [_ref_sig([3, 4]), _ref_sig([7])]
    (empty,) = list(_mh_arrow_kernel(iter([rb.slice(0, 0)])))
    assert len(empty) == 0
    assert empty.column("mh").type == pa.list_(pa.int64())


@pytest.mark.usefixtures("spark")
def test_arrow_signatures_bit_identical_to_jvm(spark):
    docs = spark.createDataFrame(
        [
            (1, ["the quick brown", "quick brown fox", "brown fox jumps"]),
            (2, ["one two three"]),
            (3, ["alpha beta gamma", "beta gamma delta"]),
        ],
        "doc_id long, ng array<string>",
    )
    jvm = {r["doc_id"]: r["mh"] for r in _mh_signatures(docs).collect()}
    arrow = {r["doc_id"]: r["mh"] for r in _mh_signatures_arrow(docs).collect()}
    assert jvm == arrow
    assert all(len(v) == _MH_K for v in arrow.values())
    assert all(0 <= x < _MH_P for v in arrow.values() for x in v)


def test_kernel_numpy_matches_reference_large():
    rng = np.random.default_rng(7)
    rows = [rng.integers(0, _MH_P, size=rng.integers(1, 40)).tolist() for _ in range(50)]
    rb = pa.RecordBatch.from_arrays(
        [
            pa.array(list(range(50)), type=pa.int64()),
            pa.array(rows, type=pa.list_(pa.int64())),
        ],
        names=["doc_id", "hg"],
    )
    (out,) = list(_mh_arrow_kernel(iter([rb])))
    assert out.column("mh").to_pylist() == [_ref_sig(r) for r in rows]


def test_simhash_kernel_bit_identical_to_jvm(spark):
    from pyspark.sql import functions as F

    from lakehouse_sfc_spark.queries.datapipe import (
        _simhash,
        _simhash_arrow_kernel,
        _simhash_relation,
    )

    docs = spark.createDataFrame(
        [
            (1, "web", [1, 2, 3]),
            (2, "web", [0xFFFFFFFF, 0x7FFFFFFF]),
            (3, "pdf", [42]),
            (4, "pdf", [7, 7, 8, 9, 1 << 31]),
        ],
        "doc_id long, source string, hs array<long>",
    )
    jvm = {
        r["doc_id"]: r["sim"]
        for r in docs.select(
            "doc_id", _simhash(F.col("hs")).alias("sim")
        ).collect()
    }
    arrow = {
        r["doc_id"]: r["sim"]
        for r in docs.mapInArrow(
            _simhash_arrow_kernel, "doc_id long, source string, sim long"
        ).collect()
    }
    assert jvm == arrow

    # end-to-end relation on a real text frame (note: a whitespace-only doc
    # tokenizes to [""], so it KEEPS one hash — the pre-kernel behavior,
    # which the oracles mirror; only a NULL-ish empty array would drop)
    d = spark.createDataFrame(
        [(1, "a", "x y z"), (2, "a", "   "), (3, "b", "x x x")],
        "doc_id long, source string, text string",
    )
    rows = {r["doc_id"]: r["sim"] for r in _simhash_relation(d).collect()}
    assert sorted(rows) == [1, 2, 3]
    jvm_rel = {
        r["doc_id"]: r["sim"]
        for r in d.select(
            "doc_id",
            _simhash(
                F.filter(
                    F.transform(
                        F.array_distinct(
                            F.split(
                                F.trim(
                                    F.regexp_replace(F.lower("text"), r"\s+", " ")
                                ),
                                " ",
                            )
                        ),
                        lambda x: F.conv(
                            F.substring(F.md5(x), 1, 8), 16, 10
                        ).cast("long"),
                    ),
                    lambda h: h.isNotNull(),
                )
            ).alias("sim"),
        ).collect()
    }
    assert rows == jvm_rel
