"""The Arrow/NumPy double-fold kernels must be bit-identical to the JVM folds.

Round 13 moved the ANN family's interpreted ``_dot``/``_l2`` HOF folds into
vectorized kernels (guide §4.2).  Unlike the int64 minhash kernel, these are
IEEE-754 doubles where SUMMATION ORDER changes the bits — the kernels
accumulate strictly left-to-right from 0.0 (one vectorized add per array
position, never np.sum's pairwise reassociation), so equality is exact.
Cases below include -0.0 terms, magnitude cliffs that expose any
reassociation, and tie-broken argmin assignment.
"""

from __future__ import annotations

import ast
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from lakehouse_sfc_spark.queries.datapipe import (
    _cosv_pair_kernel,
    _dot,
    _l2,
    _nearest_centroid_kernel,
    _seq_pair_rowsum,
    _sq_dists,
)


def _ref_fold(a, b, kind):
    acc = 0.0
    for x, y in zip(a, b):
        t = x * y if kind == "dot" else (x - y) * (x - y)
        acc = acc + t
    return acc


def _vec_cases():
    rng = np.random.default_rng(13)
    cases = [
        ([0.0], [-0.0]),
        ([-0.0, -0.0, -0.0], [1.0, 1.0, 1.0]),
        # magnitude cliff: pairwise summation would reassociate these
        ([1e16, 1.0, -1e16, 1.0], [1.0, 1.0, 1.0, 1.0]),
        ([0.1] * 7, [0.3] * 7),
        (list(rng.standard_normal(64)), list(rng.standard_normal(64))),
        (list(rng.standard_normal(16) * 1e8), list(rng.standard_normal(16) * 1e-8)),
    ]
    return [( [float(x) for x in a], [float(y) for y in b]) for a, b in cases]


@pytest.mark.parametrize("kind", ["dot", "l2"])
def test_seq_pair_rowsum_matches_python_reference(kind):
    cases = _vec_cases()
    # pad to two width groups so the group-by-width path is exercised
    a_col = pa.array([a for a, _ in cases], type=pa.list_(pa.float64()))
    b_col = pa.array([b for _, b in cases], type=pa.list_(pa.float64()))
    got = _seq_pair_rowsum(a_col, b_col, kind)
    want = [_ref_fold(a, b, kind) for a, b in cases]
    assert [repr(float(g)) for g in got] == [repr(w) for w in want]
    # sliced input keeps absolute offsets — same discipline as the minhash
    # kernel
    got_sliced = _seq_pair_rowsum(a_col.slice(2, 3), b_col.slice(2, 3), kind)
    assert [repr(float(g)) for g in got_sliced] == [
        repr(w) for w in want[2:5]
    ]


def test_seq_pair_rowsum_ragged_raises():
    a = pa.array([[1.0, 2.0], [3.0]], type=pa.list_(pa.float64()))
    b = pa.array([[1.0, 2.0], [3.0, 4.0]], type=pa.list_(pa.float64()))
    with pytest.raises(ValueError):
        _seq_pair_rowsum(a, b, "dot")


def test_folds_bit_identical_to_jvm(spark):
    cases = _vec_cases()
    # uniform width per DataFrame row set is NOT required by the JVM fold;
    # group cases by width so each kernel call sees its uniform batch
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(cases)],
        "i long, a array<double>, b array<double>",
    )
    jvm = {
        r["i"]: (r["d"], r["l"])
        for r in df.select(
            "i",
            _dot(F.col("a"), F.col("b")).alias("d"),
            _l2(F.col("a"), F.col("b")).alias("l"),
        ).collect()
    }
    for i, (a, b) in enumerate(cases):
        ac = pa.array([a], type=pa.list_(pa.float64()))
        bc = pa.array([b], type=pa.list_(pa.float64()))
        assert repr(float(_seq_pair_rowsum(ac, bc, "dot")[0])) == repr(jvm[i][0])
        assert repr(float(_seq_pair_rowsum(ac, bc, "l2")[0])) == repr(jvm[i][1])
        # one query row against a one-row codebook, both ways round: the
        # driver ranks cells as (q-c)^2, the JVM fold computes (a-b)^2
        qa, qb = np.array([a]), np.array([b])
        assert repr(float(_sq_dists(qa, qb)[0, 0])) == repr(jvm[i][1])
        assert repr(float(_sq_dists(qb, qa)[0, 0])) == repr(jvm[i][1])


def test_sq_dists_width_mismatch_raises():
    with pytest.raises(ValueError):
        _sq_dists(np.zeros((2, 3)), np.zeros((4, 2)))


def test_cosv_kernel_bit_identical_to_jvm(spark):
    rng = np.random.default_rng(7)
    rows = []
    for i in range(40):
        e = [float(x) for x in rng.standard_normal(8)]
        q = [float(x) for x in rng.standard_normal(8)]
        nrm = float(np.sqrt(sum(x * x for x in e)))
        qn = float(np.sqrt(sum(x * x for x in q)))
        rows.append((i, i + 1000, e, nrm, q, qn))
    df = spark.createDataFrame(
        rows,
        "a_id long, b_id long, emb array<double>, nrm double,"
        " qemb array<double>, qnrm double",
    )
    cos = _dot(F.col("emb"), F.col("qemb")) / (F.col("nrm") * F.col("qnrm"))
    jvm = {r["a_id"]: r["c"] for r in df.select("a_id", cos.alias("c")).collect()}
    got = {
        r["a_id"]: r["cosv"]
        for r in df.mapInArrow(
            _cosv_pair_kernel, "a_id long, b_id long, cosv double"
        ).collect()
    }
    assert {k: repr(v) for k, v in got.items()} == {
        k: repr(v) for k, v in jvm.items()
    }


def _jvm_assign(spark, vec_rows, cent_rows, keyed):
    """The pre-r13 broadcast-join + min_by assignment, as reference."""
    if keyed:
        vecs = spark.createDataFrame(
            vec_rows, "vec_id long, s int, e array<double>"
        )
        cents = spark.createDataFrame(
            cent_rows, "cs int, cid long, ce array<double>"
        )
        d = _l2(F.col("e"), F.col("ce"))
        out = (
            vecs.join(F.broadcast(cents), F.col("s") == F.col("cs"))
            .select("vec_id", "s", "cid", d.alias("d"))
            .groupBy("vec_id", "s")
            .agg(
                F.min_by(
                    F.struct("cid", "d"), F.struct("d", "cid")
                ).alias("w")
            )
            .select("vec_id", "s", "w.cid", "w.d")
        )
        return {(r["vec_id"], r["s"]): (r["cid"], r["d"]) for r in out.collect()}
    vecs = spark.createDataFrame(vec_rows, "vec_id long, emb array<double>")
    cents = spark.createDataFrame(cent_rows, "cid long, cemb array<double>")
    d = _l2(F.col("emb"), F.col("cemb"))
    out = (
        vecs.join(F.broadcast(cents))
        .select("vec_id", "cid", d.alias("d"))
        .groupBy("vec_id")
        .agg(F.min_by(F.struct("cid", "d"), F.struct("d", "cid")).alias("w"))
        .select("vec_id", "w.cid", "w.d")
    )
    return {r["vec_id"]: (r["cid"], r["d"]) for r in out.collect()}


def test_assign_kernel_bit_identical_to_jvm_min_by(spark):
    rng = np.random.default_rng(3)
    vec_rows = [
        (i, [float(x) for x in rng.standard_normal(8)]) for i in range(30)
    ]
    # duplicate centroids force distance TIES: min_by must pick the lowest cid
    base = [float(x) for x in rng.standard_normal(8)]
    cent_rows = [
        (7, list(base)),
        (3, list(base)),
        (5, [float(x) for x in rng.standard_normal(8)]),
    ]
    jvm = _jvm_assign(spark, vec_rows, cent_rows, keyed=False)
    book = {
        None: (
            np.array(sorted(c for c, _ in cent_rows), dtype=np.int64),
            np.array(
                [v for _, v in sorted(cent_rows, key=lambda p: p[0])],
                dtype=np.float64,
            ),
        )
    }
    df = spark.createDataFrame(vec_rows, "vec_id long, emb array<double>")
    got = {
        r["vec_id"]: (r["cid"], r["dist"])
        for r in df.mapInArrow(
            _nearest_centroid_kernel(book, "emb", None, emit_dist=True),
            "vec_id long, emb array<double>, cid long, dist double",
        ).collect()
    }
    assert {k: (c, repr(d)) for k, (c, d) in got.items()} == {
        k: (c, repr(d)) for k, (c, d) in jvm.items()
    }
    # every tie (cids 3 vs 7 share a centroid) resolves to 3
    assert all(c != 7 for c, _ in got.values())


def test_assign_kernel_subspaced_matches_jvm(spark):
    rng = np.random.default_rng(11)
    vec_rows = [
        (i, s, [float(x) for x in rng.standard_normal(4)])
        for i in range(12)
        for s in range(2)
    ]
    cent_rows = [
        (s, cid, [float(x) for x in rng.standard_normal(4)])
        for s in range(2)
        for cid in (0, 1, 2)
    ]
    jvm = _jvm_assign(spark, vec_rows, cent_rows, keyed=True)
    book = {}
    for s in (0, 1):
        pairs = sorted((c, v) for ss, c, v in cent_rows if ss == s)
        book[s] = (
            np.array([c for c, _ in pairs], dtype=np.int64),
            np.array([v for _, v in pairs], dtype=np.float64),
        )
    df = spark.createDataFrame(vec_rows, "vec_id long, s int, e array<double>")
    got = {
        (r["vec_id"], r["s"]): (r["cid"], r["dist"])
        for r in df.mapInArrow(
            _nearest_centroid_kernel(book, "e", "s", emit_dist=True),
            "vec_id long, s int, e array<double>, cid long, dist double",
        ).collect()
    }
    assert {k: (c, repr(d)) for k, (c, d) in got.items()} == {
        k: (c, repr(d)) for k, (c, d) in jvm.items()
    }


def test_assign_kernel_scores_the_named_columns(spark):
    """A batch carrying ``e`` and ``emb`` of the same width plus an
    unrelated ``s`` is scored on the named vector, under the named key."""
    vec_rows = [
        (0, [0.0, 0.0], [10.0, 10.0], 5),
        (1, [10.0, 10.0], [0.0, 0.0], 6),
    ]
    book = {
        None: (
            np.array([1, 2], dtype=np.int64),
            np.array([[0.0, 0.0], [10.0, 10.0]], dtype=np.float64),
        )
    }
    df = spark.createDataFrame(
        vec_rows, "vec_id long, e array<double>, emb array<double>, s int"
    )
    got = {
        r["vec_id"]: r["cid"]
        for r in df.mapInArrow(
            _nearest_centroid_kernel(book, "emb", None),
            "vec_id long, e array<double>, emb array<double>, s int, cid long",
        ).collect()
    }
    assert got == {0: 2, 1: 1}
    keyed = {7: book[None]}
    got = {
        r["vec_id"]: r["cid"]
        for r in df.withColumn("g", F.lit(7)).mapInArrow(
            _nearest_centroid_kernel(keyed, "e", "g"),
            "vec_id long, e array<double>, emb array<double>, s int, g int, "
            "cid long",
        ).collect()
    }
    assert got == {0: 1, 1: 2}


# --- one vector-scoring core --------------------------------------------------
#
# Squared L2 used to be written out in six places (a second JVM fold inside
# sample_kcenter, a driver-side Python loop, three NumPy loops and a dead
# operators/ivf.py with its own k-means), and the k-means codebook round was
# pasted into three query entries.  The guards below keep one form each: the
# JVM folds are _dot/_l2, the rows x codebook loop is _sq_dists, and the
# seed/assign/decimal-mean/collect round is _lloyd_codebook.

PKG = Path(__file__).resolve().parent.parent / "lakehouse_sfc_spark"


def _is_f_call(node, attr):
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == attr
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
    )


def _calls_by_function(match):
    """{(module path, innermost enclosing def)} of every call ``match``
    accepts, over the whole package."""
    found = set()

    def walk(node, fn, rel):
        for child in ast.iter_child_nodes(node):
            inner = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            if match(child):
                found.add((rel, inner))
            walk(child, inner, rel)

    for p in sorted(PKG.rglob("*.py")):
        rel = str(p.relative_to(PKG))
        walk(ast.parse(p.read_text(encoding="utf-8")), None, rel)
    return found


def test_jvm_pair_fold_only_in_dot_and_l2():
    folds = _calls_by_function(
        lambda n: _is_f_call(n, "aggregate")
        and bool(n.args)
        and _is_f_call(n.args[0], "zip_with")
    )
    assert folds == {
        ("queries/datapipe.py", "_dot"),
        ("queries/datapipe.py", "_l2"),
    }, f"pair folds outside _dot/_l2: {sorted(folds)}"


def _is_decimal_mean(n):
    if not (_is_f_call(n, "sum") and n.args):
        return False
    arg = n.args[0]
    return (
        isinstance(arg, ast.Call)
        and isinstance(arg.func, ast.Attribute)
        and arg.func.attr == "cast"
        and any(
            isinstance(a, ast.Constant) and a.value == "decimal(18,9)"
            for a in arg.args
        )
    )


def test_codebook_round_only_in_lloyd_helper():
    collects = _calls_by_function(
        lambda n: isinstance(n, ast.Call)
        and isinstance(n.func, ast.Name)
        and n.func.id == "_collect_codebook"
    )
    means = _calls_by_function(_is_decimal_mean)
    owner = {("queries/datapipe.py", "_lloyd_codebook")}
    assert collects == owner, f"codebook collected in {sorted(collects)}"
    assert means == owner, f"decimal centroid mean in {sorted(means)}"


def test_no_second_l2_implementation():
    assert not (PKG / "operators" / "ivf.py").exists()
    bad = sorted(
        str(p.relative_to(PKG))
        for p in PKG.rglob("*.py")
        if "_py_l2" in p.read_text(encoding="utf-8")
    )
    assert not bad, f"{bad} still define or call _py_l2"
