"""SnapshotTable: time travel, COW scoping, CDF, schema evolution, vacuum.

Parity targets (SURVEY.md §1.4): Delta versionAsOf + change data feed,
Hudi commit timeline / incremental pull, Iceberg snapshots + expiry.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lakehouse_sfc_spark.sources.loader import load_table
from lakehouse_sfc_spark.table import Pred
from lakehouse_sfc_spark.table.snapshots import SnapshotTable

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def orders(spark):
    return load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )


@pytest.fixture()
def table(spark, orders, tmp_path):
    return SnapshotTable.create(
        orders,
        str(tmp_path / "t"),
        stats_cols=["o_orderkey"],
        layout="linear",
        layout_cols=["o_orderkey"],
        num_files=8,
    )


def test_create_and_read(table, orders):
    assert table.latest_version() == 0
    assert table.read(0).count() == orders.count()
    assert len(table.manifest(0)["files"]) == 8


def test_upsert_is_scoped_and_time_travel_isolated(table, orders, spark):
    n0 = orders.count()
    # key-local batch: linear layout on o_orderkey makes files range-disjoint,
    # so a narrow key range must rewrite ~1 of the 8 files, not the table
    batch = (
        orders.filter(F.col("o_orderkey") <= 100)
        .withColumn("o_totalprice", F.col("o_totalprice") + 5.0)
    )
    m = table.upsert(batch, ["o_orderkey"], "o_totalprice")
    assert m["files_rewritten"] < 4, "COW upsert rewrote most of the table"
    # untouched files are carried by reference (no copies)
    shared = set(table.manifest(0)["files"]) & set(table.manifest(1)["files"])
    assert len(shared) == 8 - m["files_rewritten"]
    # v1 content: updated rows bumped, count unchanged
    v1 = table.read(1)
    assert v1.count() == n0
    bumped = (
        v1.join(orders.select("o_orderkey", F.col("o_totalprice").alias("orig")),
                "o_orderkey")
        .filter(F.col("o_orderkey") <= 100)
        .filter(F.col("o_totalprice") != F.col("orig") + 5.0)
        .count()
    )
    assert bumped == 0
    # time travel: v0 still returns the ORIGINAL prices
    dec = F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    v0_sum = table.read(0).agg(dec).collect()[0][0]
    orig_sum = orders.agg(dec).collect()[0][0]
    assert v0_sum == orig_sum


def test_delete_where_scoped(table, orders):
    m = table.delete_where([Pred("o_orderkey", ">", 10_000_000)])
    # nothing matches: stats prune every file, zero rewrites
    assert m["files_rewritten"] == 0
    assert table.read().count() == orders.count()
    m2 = table.delete_where([Pred("o_orderkey", "<=", 100)])
    assert 0 < m2["files_rewritten"] < 4
    assert (
        table.read().count()
        == orders.filter(F.col("o_orderkey") > 100).count()
    )


def test_cdf_insert_update_delete(table, orders, spark):
    upd = (
        orders.filter(F.col("o_orderkey").between(10, 20))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    )
    ins = (
        orders.filter(F.col("o_orderkey").between(30, 35))
        .withColumn("o_orderkey", F.col("o_orderkey") + 1_000_000)
    )
    table.upsert(upd.unionByName(ins), ["o_orderkey"], "o_totalprice")
    table.delete_where([Pred("o_orderkey", "between", (50, 60))])
    cdf = table.changes(0, 2, ["o_orderkey"])
    got = {
        r["_change_type"]: r["cnt"]
        for r in cdf.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    n_upd = orders.filter(F.col("o_orderkey").between(10, 20)).count()
    n_ins = ins.count()
    n_del = orders.filter(F.col("o_orderkey").between(50, 60)).count()
    assert got.get("update", 0) == n_upd
    assert got.get("insert", 0) == n_ins
    assert got.get("delete", 0) == n_del
    # CDF scans only changed files, not the whole table
    scanned = {os.path.basename(f) for f in cdf.inputFiles()}
    all_files = {
        os.path.basename(f)
        for v in (0, 1, 2)
        for f in table.manifest(v)["files"]
    }
    assert len(scanned) < len(all_files)
    # post image carries the new price; delete carries the pre image
    post = cdf.filter(
        (F.col("_change_type") == "update") & (F.col("o_orderkey") == 10)
    ).collect()
    orig = orders.filter(F.col("o_orderkey") == 10).collect()
    if post and orig:
        assert post[0]["o_totalprice"] == orig[0]["o_totalprice"] + 1.0


def test_moved_but_unchanged_rows_not_in_cdf(table, orders):
    # a COW rewrite carries every row of the file; only genuinely changed
    # rows may surface in the CDF
    upd = (
        orders.filter(F.col("o_orderkey") == 5)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    )
    table.upsert(upd, ["o_orderkey"], "o_totalprice")
    cdf = table.changes(0, 1, ["o_orderkey"]).collect()
    assert len(cdf) == 1
    assert cdf[0]["_change_type"] == "update"
    assert cdf[0]["o_orderkey"] == 5


def test_schema_evolution_merged_read(table, orders):
    ev = (
        orders.limit(5)
        .withColumn("o_orderkey", F.col("o_orderkey") + 2_000_000)
        .withColumn("o_flag", F.lit("x"))
    )
    table.append(ev)
    latest = table.read()
    assert "o_flag" in latest.columns
    assert latest.filter(F.col("o_flag").isNotNull()).count() == 5
    # historical read keeps the narrow schema
    assert "o_flag" not in table.read(0).columns


def test_vacuum_expires_only_unreferenced(table, orders, spark):
    table.delete_where([Pred("o_orderkey", "<=", 200)])
    live_before = set(table.manifest(1)["files"])
    res = table.vacuum(retain_last=1)
    assert res["versions_expired"] == [0]
    # latest still fully readable
    assert (
        table.read().count()
        == orders.filter(F.col("o_orderkey") > 200).count()
    )
    # every file of the retained manifest still exists
    for uri in live_before:
        assert os.path.exists(uri.replace("file://", ""))
    # expired version is gone
    with pytest.raises(FileNotFoundError):
        table.manifest(0)


def test_empty_delete_everything(table, spark):
    table.delete_where([Pred("o_orderkey", ">=", 0)])
    assert table.read().count() == 0
    # schema preserved for the empty snapshot
    assert table.read().columns == [
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    ]


def test_cdf_emit_pre_images(table, orders, spark):
    """emit_pre=True turns each update into a retraction pair: preimage
    with old values, postimage with new — and the signed sum of the pair
    nets to exactly the price delta (the MV-maintenance contract)."""
    upd = (
        orders.filter(F.col("o_orderkey").between(10, 20))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    )
    table.upsert(upd, ["o_orderkey"], "o_totalprice")
    cdf = table.changes(0, 1, ["o_orderkey"], emit_pre=True)
    counts = {
        r["_change_type"]: r["cnt"]
        for r in cdf.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    n_upd = orders.filter(F.col("o_orderkey").between(10, 20)).count()
    assert counts.get("update_postimage", 0) == n_upd
    assert counts.get("update_preimage", 0) == n_upd
    assert "update" not in counts
    # retraction algebra: sum(post) - sum(pre) == n_upd * 1.0 exactly
    signed = cdf.select(
        F.when(F.col("_change_type") == "update_postimage", 1)
        .otherwise(-1)
        .alias("sign"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
    )
    net = signed.agg(
        F.sum(F.col("sign") * F.col("p")).alias("net")
    ).collect()[0]["net"]
    assert float(net) == pytest.approx(n_upd * 1.0)
    # a key that wasn't touched must not appear at all
    assert cdf.filter(F.col("o_orderkey") == 5).count() == 0


def test_optimize_rewrites_layout_preserving_data_and_history(
    table, orders, spark
):
    """OPTIMIZE must be a pure physical rewrite: same rows, new files, old
    versions still readable, scoped variant rewrites only overlapping
    files."""
    before = table.read(0)
    n0 = before.count()
    files_v0 = set(table.manifest(0)["files"])

    m = table.optimize(
        layout="zorder", layout_cols=["o_orderkey", "o_custkey"], num_files=3
    )
    assert m["operation"] == "OPTIMIZE"
    v_opt = m["version"]
    after = table.read(v_opt)
    assert after.count() == n0
    # row-level equality via anti-joins both ways
    cols = before.columns
    assert before.join(after, cols, "left_anti").count() == 0
    assert after.join(before, cols, "left_anti").count() == 0
    # all-new files at the optimized version, old manifest untouched
    assert len(m["files"]) == 3
    assert not (set(m["files"]) & files_v0)
    assert set(table.manifest(0)["files"]) == files_v0
    assert table.read(0).count() == n0

    # scoped optimize: only files overlapping the predicate are rewritten
    m2 = table.optimize(
        layout="linear",
        layout_cols=["o_orderkey"],
        num_files=1,
        preds=[Pred("o_orderkey", "between", (1, 50))],
    )
    assert m2["version"] == v_opt + 1
    carried = set(m2["files"]) & set(m["files"])
    assert carried, "scoped optimize should carry untouched files"
    assert table.read(m2["version"]).count() == n0


def test_merge_into_update_delete_insert(table, orders, spark):
    """MERGE clause semantics: matched+condition deletes, matched updates,
    unmatched inserts, untouched targets survive — all in ONE commit."""
    k = F.col("o_orderkey")
    updates = orders.filter(k.between(10, 19)).withColumn(
        "o_totalprice", F.col("o_totalprice") + 9.0
    )
    deletes = orders.filter(k.between(30, 39))
    inserts = orders.filter(k.between(1, 5)).withColumn(
        "o_orderkey", k + 1_000_000
    )
    src = updates.unionByName(deletes).unionByName(inserts)
    m = table.merge_into(
        src, ["o_orderkey"], matched_delete=k.between(30, 39)
    )
    assert m["operation"] == "MERGE"
    after = table.read(m["version"])
    n0 = orders.count()
    n_del = orders.filter(k.between(30, 39)).count()
    n_ins = inserts.count()
    assert after.count() == n0 - n_del + n_ins
    # deleted keys gone
    assert after.filter(k.between(30, 39)).count() == 0
    # updated row carries the new price
    got = after.filter(k == 10).collect()
    want = orders.filter(k == 10).collect()
    if got and want:
        assert got[0]["o_totalprice"] == want[0]["o_totalprice"] + 9.0
    # inserted keys present
    assert after.filter(k > 1_000_000).count() == n_ins
    # untouched row unchanged
    a50 = after.filter(k == 50).collect()
    o50 = orders.filter(k == 50).collect()
    assert [r["o_totalprice"] for r in a50] == [
        r["o_totalprice"] for r in o50
    ]
    # v0 unaffected (time travel)
    assert table.read(0).count() == n0


def test_check_constraints_enforced_on_writes(table, orders, spark):
    """CHECK constraints: existing data validated at add time, violating
    appends/upserts rejected, valid commits pass, and the constraint
    survives unrelated commits (it rides the manifest)."""
    m = table.set_constraint("price_positive", "o_totalprice > 0")
    assert m["operation"] == "ADD CONSTRAINT"

    bad = orders.limit(2).withColumn("o_totalprice", F.lit(-1.0))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="price_positive"):
        table.append(bad)
    with _pytest.raises(ValueError, match="price_positive"):
        table.upsert(bad, ["o_orderkey"], "o_totalprice")

    ok = orders.limit(2).withColumn(
        "o_orderkey", F.col("o_orderkey") + 2_000_000
    )
    m2 = table.append(ok)
    assert m2["operation"] == "APPEND"
    assert m2["constraints"] == {"price_positive": "o_totalprice > 0"}

    # unrelated delete keeps carrying the constraint...
    m3 = table.delete_where([Pred("o_orderkey", "between", (1, 3))])
    assert m3["constraints"] == {"price_positive": "o_totalprice > 0"}
    # ...so a later violating write still fails
    with _pytest.raises(ValueError, match="price_positive"):
        table.append(bad)

    # adding a constraint the existing data violates is rejected outright
    with _pytest.raises(ValueError, match="existing rows violate"):
        table.set_constraint("impossible", "o_orderkey < 0")


def test_cdf_postimage_preserves_nulled_columns(table, orders, spark):
    """An update that sets a column to NULL must surface NULL in the
    update_postimage row — a coalesce-with-preimage backfill would break
    +post/-pre retraction algebra downstream."""
    # bump the precombine column so the update WINS latest-wins, while
    # NULLing a different column — the one whose post image must stay NULL
    upd = (
        orders.filter(F.col("o_orderkey").between(10, 12))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
        .withColumn("o_custkey", F.lit(None).cast("bigint"))
    )
    table.upsert(upd, ["o_orderkey"], "o_totalprice")
    cdf = table.changes(0, 1, ["o_orderkey"], emit_pre=True)
    post = cdf.filter(
        (F.col("_change_type") == "update_postimage")
        & F.col("o_orderkey").between(10, 12)
    ).collect()
    assert post, "expected update_postimage rows"
    assert all(r["o_custkey"] is None for r in post), post
    pre = cdf.filter(
        (F.col("_change_type") == "update_preimage")
        & F.col("o_orderkey").between(10, 12)
    ).collect()
    assert all(r["o_custkey"] is not None for r in pre), pre


def test_merge_matched_delete_scope(table, orders, spark):
    """WHEN MATCHED ... DELETE applies only to MATCHED rows (Delta
    semantics): a matched delete row's sentinel payload is never written,
    so it must not trip CHECK constraints; an UNMATCHED source row that
    happens to satisfy the same predicate still INSERTS — and, being a
    written row, IS constraint-checked."""
    table.set_constraint("price_positive", "o_totalprice > 0")
    k = F.col("o_orderkey")
    # matched delete with a constraint-violating sentinel payload: the row
    # is a command, never written, so the constraint must not fire
    del_matched = orders.filter(k.between(20, 22)).withColumn(
        "o_totalprice", F.lit(-1.0)
    )
    m = table.merge_into(
        del_matched, ["o_orderkey"], matched_delete=F.col("o_totalprice") < 0
    )
    after = table.read(m["version"])
    assert after.filter(k.between(20, 22)).count() == 0
    assert after.filter(F.col("o_totalprice") < 0).count() == 0

    # unmatched row satisfying the delete predicate: INSERTS under Delta
    # semantics; its payload is written, so the CHECK constraint applies
    ins_bad = orders.filter(k == 1).withColumn(
        "o_orderkey", k + 9_000_000
    ).withColumn("o_totalprice", F.lit(-1.0))
    with pytest.raises(ValueError, match="price_positive"):
        table.merge_into(
            ins_bad, ["o_orderkey"], matched_delete=F.col("o_totalprice") < 0
        )
    # with a valid payload the unmatched row inserts even though it
    # satisfies matched_delete — the clause never applies to unmatched rows
    ins_ok = orders.filter(k == 1).withColumn(
        "o_orderkey", k + 9_000_000
    ).withColumn("o_totalprice", F.lit(123.0))
    m2 = table.merge_into(
        ins_ok, ["o_orderkey"], matched_delete=F.lit(True)
    )
    after2 = table.read(m2["version"])
    assert after2.filter(k > 9_000_000).count() == 1


def test_merge_rejects_duplicate_source_keys(table, orders, spark):
    """Multiple source rows matching the same target key is an ambiguous
    MERGE (Delta/Iceberg raise); we raise rather than writing duplicates."""
    k = F.col("o_orderkey")
    dup = orders.filter(k.between(10, 12)).unionByName(
        orders.filter(k == 10)
    )
    with pytest.raises(ValueError, match="duplicate record keys"):
        table.merge_into(dup, ["o_orderkey"])


def test_merge_allows_duplicate_insert_only_keys(table, orders):
    """Delta's duplicate-match rule applies to MATCHED rows only: multiple
    unmatched source rows sharing a key are a legal insert-only merge —
    they all insert (no target row has an ambiguous update)."""
    k = F.col("o_orderkey")
    fresh = orders.filter(k == 20).withColumn(
        "o_orderkey", k + 8_000_000
    )
    dup_inserts = fresh.unionByName(fresh)
    m = table.merge_into(dup_inserts, ["o_orderkey"])
    assert table.read(m["version"]).filter(k == 8_000_020).count() == 2


def test_restore_is_metadata_only_and_keeps_history(table, orders):
    """RESTORE re-points the manifest at the target version's files without
    moving bytes; the mistaken versions stay time-travelable."""
    n0 = orders.count()
    table.delete_where([Pred("o_orderkey", "<", 1000)])
    assert table.read().count() < n0
    m = table.restore(0)
    assert m["operation"] == "RESTORE"
    assert m["restored_from"] == 0
    # live state == v0 exactly, file set shared byte-for-byte
    assert table.read().count() == n0
    assert table.manifest(2)["files"] == table.manifest(0)["files"]
    # history preserved: the delete's state is still readable
    assert table.read(1).count() < n0
    assert table.versions() == [0, 1, 2]


def test_restore_carries_constraints_forward(table):
    """A restore rewinds data, not governance: constraints added after the
    target version still bind post-restore writes."""
    table.set_constraint("pos_price", "o_totalprice >= 0")
    table.restore(0)
    import pytest as _pytest

    bad = table.read().limit(1).withColumn(
        "o_totalprice", F.lit(-5.0)
    )
    with _pytest.raises(ValueError, match="pos_price"):
        table.append(bad)


def test_tags_resolve_and_survive_commits(table, orders):
    """Named refs point at immutable versions; later commits don't move
    them, and reading by name equals reading by number."""
    n0 = orders.count()
    table.set_tag("initial")  # defaults to latest (v0)
    table.delete_where([Pred("o_orderkey", "<", 1000)])
    table.set_tag("post-delete", 1)
    assert table.tags() == {"initial": 0, "post-delete": 1}
    assert table.read_tag("initial").count() == n0
    assert table.read_tag("post-delete").count() == table.read(1).count()
    import pytest as _pytest

    with _pytest.raises(KeyError, match="unknown tag"):
        table.read_tag("nope")
    with _pytest.raises(FileNotFoundError):
        table.set_tag("future", 99)


def test_wap_stage_is_invisible_until_publish(table, orders):
    """WAP: staged rows never appear on main; publish is a metadata-only
    fast-forward; the audit view sees base + staged."""
    n0 = orders.count()
    batch = orders.limit(50).withColumn(
        "o_orderkey", F.col("o_orderkey") + 5_000_000
    )
    table.stage_append("wap", batch, num_files=2)
    assert table.read().count() == n0  # main untouched
    assert table.latest_version() == 0
    assert table.read_branch("wap").count() == n0 + 50
    m = table.publish_branch("wap")
    assert m["operation"] == "WAP_PUBLISH"
    assert table.read().count() == n0 + 50
    assert table.read(0).count() == n0  # time travel preserved


def test_wap_discard_deletes_staged_files(table, orders):
    import os

    batch = orders.limit(10).withColumn(
        "o_orderkey", F.col("o_orderkey") + 5_000_000
    )
    b = table.stage_append("bad", batch, num_files=1)
    staged = [u.replace("file://", "") for u in b["staged_files"]]
    assert all(os.path.exists(p) for p in staged)
    res = table.discard_branch("bad")
    assert res["files_deleted"] == len(staged)
    assert not any(os.path.exists(p) for p in staged)
    with pytest.raises(FileNotFoundError):
        table.read_branch("bad")


def test_wap_publish_refuses_after_main_advanced(table, orders):
    """Iceberg's cherry-pick conflict rule: a branch staged on version N
    cannot fast-forward once main moved past N."""
    batch = orders.limit(10).withColumn(
        "o_orderkey", F.col("o_orderkey") + 5_000_000
    )
    table.stage_append("stale", batch, num_files=1)
    table.append(
        orders.limit(5).withColumn(
            "o_orderkey", F.col("o_orderkey") + 6_000_000
        )
    )
    with pytest.raises(ValueError, match="re-stage"):
        table.publish_branch("stale")
    table.discard_branch("stale")


def test_wap_publish_enforces_table_constraints(table, orders):
    """WAP's audit is for checks BEYOND the table's declared invariants —
    publishing still enforces CHECK constraints, like every write path."""
    table.set_constraint("pos_price", "o_totalprice >= 0")
    v_before = table.latest_version()  # set_constraint is itself a commit
    bad = orders.limit(5).withColumn(
        "o_orderkey", F.col("o_orderkey") + 7_000_000
    ).withColumn("o_totalprice", F.lit(-5.0))
    table.stage_append("sneaky", bad, num_files=1)
    with pytest.raises(ValueError, match="pos_price"):
        table.publish_branch("sneaky")
    assert table.latest_version() == v_before  # nothing published
    table.discard_branch("sneaky")


def test_vacuum_keeps_files_needed_by_staged_branch(table, orders):
    """A staged WAP branch references the BASE version's files through
    branch-*.json, not a version manifest; vacuuming past that base must
    not delete them or the in-flight audit breaks (ADVICE r6)."""
    base_files = set(table.manifest(0)["files"])
    batch = orders.limit(10).withColumn(
        "o_orderkey", F.col("o_orderkey") + 5_000_000
    )
    table.stage_append("audit", batch, num_files=1)
    # advance main twice so version 0 (the branch's base) becomes expirable
    table.delete_where([Pred("o_orderkey", "<=", 100)])
    table.delete_where([Pred("o_orderkey", "<=", 200)])
    n_expected = table.read_branch("audit").count()
    table.vacuum(retain_last=1)
    # every base file the branch references must survive the vacuum
    for uri in base_files:
        assert os.path.exists(uri.replace("file://", "")), uri
    # the audit view is still fully readable after vacuum
    assert table.read_branch("audit").count() == n_expected


def test_shallow_clone_diverges_without_copying(spark, tmp_path):
    """clone_to is metadata-only (v0 references the source's files), the
    clone and source diverge independently, and a second clone into the
    same directory refuses."""
    import pyspark.sql.functions as F

    from lakehouse_sfc_spark.table.snapshots import SnapshotTable

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    src = SnapshotTable.create(
        df, str(tmp_path / "src"), stats_cols=["k"], num_files=2
    )
    clone = src.clone_to(str(tmp_path / "clone"))
    # zero-copy: every v0 file of the clone lives under the SOURCE dir
    assert all(
        str(tmp_path / "src") in u for u in clone.manifest(0)["files"]
    )
    assert clone.manifest(0)["operation"] == "CLONE"
    assert clone.manifest(0)["source_version"] == 0
    assert clone.read().count() == 100
    # divergence: append to the clone, source unchanged
    clone.append(
        spark.range(5).select(
            (F.col("id") + 1000).alias("k"), F.lit(0).cast("long").alias("v")
        )
    )
    assert clone.read().count() == 105
    assert src.read().count() == 100
    # the appended files land under the CLONE dir, not the source's
    new_files = [
        u
        for u in clone.manifest()["files"]
        if u not in clone.manifest(0)["files"]
    ]
    assert new_files and all(str(tmp_path / "clone") in u for u in new_files)
    import pytest as _pytest

    with _pytest.raises(FileExistsError):
        src.clone_to(str(tmp_path / "clone"))
    # head-version clone survives a source vacuum (head files are retained);
    # the DOCUMENTED caveat is vacuuming past the cloned version
    src.vacuum(retain_last=1)
    assert clone.read().count() == 105


def test_evolve_spec_is_metadata_only_and_reclusters_future_writes(
    table, orders, spark
):
    import datetime

    files_before = set(table.manifest()["files"])
    m = table.evolve_spec(
        layout="linear", layout_cols=["o_custkey"], stats_cols=["o_custkey"]
    )
    # metadata-only: same files, widened stats union, spec recorded
    assert set(m["files"]) == files_before
    assert m["operation"] == "EVOLVE-SPEC"
    assert m["stats_cols"] == ["o_orderkey", "o_custkey"]
    assert m["spec"] == {"layout": "linear", "layout_cols": ["o_custkey"]}
    assert m["spec_history"][-1]["version"] == m["version"]

    # a post-evolution append is clustered on o_custkey: its files carry
    # custkey stats and are disjoint in custkey ranges (linear layout)
    extra = orders.withColumn(
        "o_orderkey", F.col("o_orderkey") + 50_000_000
    )
    m2 = table.append(extra, num_files=4)
    new_files = {
        u: s for u, s in m2["files"].items() if u not in files_before
    }
    assert len(new_files) == 4
    assert all("o_custkey" in s["cols"] for s in new_files.values())
    ranges = sorted(
        (s["cols"]["o_custkey"]["min"], s["cols"]["o_custkey"]["max"])
        for s in new_files.values()
    )
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo  # disjoint custkey clustering
    # spec carries across commits
    assert m2["spec"] == m["spec"]


def test_evolve_spec_scan_prunes_per_file_spec(table, orders):
    """Old files (no custkey stats) must always survive a custkey
    predicate; new files must prune by it — and the scan result must
    still equal the exact filtered read."""
    from lakehouse_sfc_spark.table.pruning import prune_files

    files_before = set(table.manifest()["files"])
    table.evolve_spec(
        layout="linear", layout_cols=["o_custkey"], stats_cols=["o_custkey"]
    )
    extra = orders.withColumn(
        "o_orderkey", F.col("o_orderkey") + 50_000_000
    )
    m2 = table.append(extra, num_files=4)

    lo = orders.agg(F.min("o_custkey")).collect()[0][0]
    pred = Pred("o_custkey", "<=", lo)  # matches only the lowest-key file
    pseudo = {"columns": m2["stats_cols"], "files": m2["files"]}
    keep, metrics = prune_files(pseudo, [pred])
    kept_old = [u for u in keep if u in files_before]
    kept_new = [u for u in keep if u not in files_before]
    assert set(kept_old) == files_before  # conservative: no custkey stats
    assert len(kept_new) < 4  # new files actually pruned

    got = table.scan([pred]).count()
    want = table.read().filter(F.col("o_custkey") <= lo).count()
    assert got == want


def test_row_lineage_ids_stable_across_updates(spark, orders, tmp_path):
    t = SnapshotTable.create(
        orders,
        str(tmp_path / "lin"),
        stats_cols=["o_orderkey"],
        layout="linear",
        layout_cols=["o_orderkey"],
        num_files=4,
        lineage_keys=["o_orderkey"],
    )
    n0 = orders.count()
    m0 = t.manifest()
    assert m0["lineage"] == {"keys": ["o_orderkey"], "next_row_id": n0 + 1}
    v0 = t.read(0)
    # ids are 1..n in key order, all stamped by commit 0
    assert v0.agg(F.min("_row_id"), F.max("_row_id")).collect()[0] == (1, n0)
    assert v0.select("_last_updated_version").distinct().collect() == [(0,)]
    id_of = dict(
        v0.filter(F.col("o_orderkey") <= 200)
        .select("o_orderkey", "_row_id")
        .collect()
    )

    updates = orders.filter(F.col("o_orderkey") <= 100).withColumn(
        "o_totalprice", F.col("o_totalprice") + 5.0
    )
    inserts = orders.filter(F.col("o_orderkey") % 50 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    n_ins = inserts.count()
    m1 = t.upsert(updates.unionByName(inserts), ["o_orderkey"],
                  "o_totalprice")
    assert m1["lineage"]["next_row_id"] == n0 + n_ins + 1
    v1 = t.read(1)
    assert v1.count() == n0 + n_ins
    # updated rows KEEP their ids and bump last_updated
    upd = dict(
        v1.filter(F.col("o_orderkey") <= 100)
        .select("o_orderkey", "_row_id")
        .collect()
    )
    for k, rid in upd.items():
        assert id_of[k] == rid
    lu = {
        r["o_orderkey"]: r["_last_updated_version"]
        for r in v1.filter(F.col("o_orderkey") <= 200).collect()
    }
    assert all(v == 1 for k, v in lu.items() if k <= 100)
    assert all(v == 0 for k, v in lu.items() if k > 100)
    # inserts draw fresh ids continuing the counter, in key order
    fresh = (
        v1.filter(F.col("o_orderkey") >= 10_000_000)  # key 0 exists -> 10M
        .orderBy("o_orderkey")
        .select("_row_id", "_last_updated_version")
        .collect()
    )
    assert [r["_row_id"] for r in fresh] == list(
        range(n0 + 1, n0 + n_ins + 1)
    )
    assert all(r["_last_updated_version"] == 1 for r in fresh)

    # row ids are globally unique
    assert v1.select("_row_id").distinct().count() == n0 + n_ins


def test_row_lineage_append_and_merge_guard(spark, orders, tmp_path):
    t = SnapshotTable.create(
        orders.limit(50),
        str(tmp_path / "lin2"),
        stats_cols=["o_orderkey"],
        lineage_keys=["o_orderkey"],
    )
    base_next = t.manifest()["lineage"]["next_row_id"]
    extra = orders.filter(F.col("o_orderkey") % 11 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 20_000_000
    )
    n_extra = extra.count()
    m = t.append(extra)
    assert m["lineage"]["next_row_id"] == base_next + n_extra
    appended = t.read().filter(F.col("o_orderkey") >= 20_000_000)
    assert appended.agg(F.min("_row_id")).collect()[0][0] == base_next
    assert (
        appended.select("_last_updated_version").distinct().collect()
        == [(1,)]
    )
    with pytest.raises(NotImplementedError):
        t.merge_into(extra, ["o_orderkey"])


def test_remove_orphans_spares_all_referenced_files(table, orders, spark):
    import shutil

    from lakehouse_sfc_spark.layout.stats import local_path as _local

    # rewrite some files so OLD versions reference files the head does not
    table.upsert(
        orders.filter(F.col("o_orderkey") <= 100).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1.0
        ),
        ["o_orderkey"],
        "o_totalprice",
    )
    src = _local(next(iter(table.manifest()["files"])))
    for i in range(2):
        shutil.copyfile(src, os.path.join(table.path, f"junk-{i}.parquet"))

    # default grace window: freshly-copied junk is younger than the
    # cutoff, so it must be classified in-flight, NOT orphaned
    assert table.remove_orphans(dry_run=True)["n_orphans"] == 0
    dry = table.remove_orphans(dry_run=True, older_than_s=0.0)
    assert dry["n_orphans"] == 2 and dry["dry_run"]
    for uri in dry["orphans"]:
        assert os.path.exists(_local(uri))  # dry run deletes nothing

    res = table.remove_orphans(older_than_s=0.0)
    assert res["n_orphans"] == 2
    for uri in res["orphans"]:
        assert not os.path.exists(_local(uri))
    # EVERY version's files survive (not just the head's)
    for v in table.versions():
        for uri in table.manifest(v)["files"]:
            assert os.path.exists(_local(uri))
    assert table.read(0).count() == orders.count()
    assert (
        table.remove_orphans(dry_run=True, older_than_s=0.0)["n_orphans"]
        == 0
    )


def test_remove_orphans_keeps_staged_branch_files(table, orders):
    import shutil

    from lakehouse_sfc_spark.layout.stats import local_path as _local

    table.stage_append(
        "audit",
        orders.filter(F.col("o_orderkey") % 13 == 0).withColumn(
            "o_orderkey", F.col("o_orderkey") + 40_000_000
        ),
    )
    src = _local(next(iter(table.manifest()["files"])))
    shutil.copyfile(src, os.path.join(table.path, "stray.parquet"))
    res = table.remove_orphans(older_than_s=0.0)
    # ONLY the stray goes; the staged branch's files are live
    assert res["n_orphans"] == 1
    assert res["orphans"][0].endswith("stray.parquet")
    assert table.read_branch("audit").count() > 0


def test_cherry_pick_recovers_one_commit(table, orders):
    dec = F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    v0_sum = table.read(0).agg(dec).collect()[0][0]
    upd = orders.filter(F.col("o_orderkey") % 9 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 50.0
    )
    table.upsert(upd, ["o_orderkey"], "o_totalprice")  # v1
    v1_sum = table.read(1).agg(dec).collect()[0][0]
    table.append(
        orders.limit(10).withColumn(
            "o_orderkey", F.col("o_orderkey") + 30_000_000
        )
    )  # v2
    table.restore(0)  # v3: both commits wiped from head
    assert table.read().agg(dec).collect()[0][0] == v0_sum
    table.cherry_pick(1, ["o_orderkey"], "o_totalprice")  # v4
    # exactly v1's effect recovered: no append rows resurrected
    assert table.read().agg(dec).collect()[0][0] == v1_sum
    assert table.read().count() == orders.count()


def test_cherry_pick_refuses_deletes(table, orders):
    table.delete_where([Pred("o_orderkey", "<=", 100)])  # v1 has deletes
    table.restore(0)
    with pytest.raises(NotImplementedError, match="delete"):
        table.cherry_pick(1, ["o_orderkey"], "o_totalprice")


# --- relocatable manifests and the no-replace commit ------------------------


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()), key=repr)


def _state(t: SnapshotTable, key_preds) -> dict:
    """Everything a reader sees: each version's rows, the CDF from v0 to
    the head, and a pruned scan's rows and surviving file names."""
    from lakehouse_sfc_spark.table.pruning import prune_files

    m = t.manifest()
    kept, _ = prune_files(
        {"columns": m["stats_cols"], "files": m["files"]}, key_preds
    )
    return {
        "versions": {v: _rows(t.read(v)) for v in t.versions()},
        "changes": _rows(t.changes(0, t.latest_version(), ["o_orderkey"])),
        "scan": _rows(t.scan(key_preds)),
        "kept": sorted(os.path.relpath(f, t.path) for f in kept),
    }


def _raw_manifest(t: SnapshotTable, v: int) -> dict:
    import json

    with open(os.path.join(t.path, "_log", f"v{v:05d}.json")) as fh:
        return json.load(fh)


def test_copied_table_and_clone_read_the_same(spark, orders, tmp_path):
    """A table with upsert, delete and a shallow clone, copied elsewhere as
    a directory (the original then removed): every version, the CDF and
    a pruned scan read the same, from the copy's own files."""
    lake = tmp_path / "lake"
    t = SnapshotTable.create(
        orders, str(lake / "src"), stats_cols=["o_orderkey"],
        layout="linear", layout_cols=["o_orderkey"], num_files=8,
    )
    t.upsert(
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0),
        ["o_orderkey"], "o_totalprice",
    )
    t.delete_where([Pred("o_orderkey", "<=", 300)])
    c = t.clone_to(str(lake / "clone"))
    c.append(orders.limit(5).withColumn(
        "o_orderkey", F.col("o_orderkey") + 9_000_000
    ))
    preds = [Pred("o_orderkey", "between", (1000, 2000))]
    expect = {n: _state(x, preds) for n, x in (("src", t), ("clone", c))}
    assert expect["src"]["kept"] and len(expect["src"]["kept"]) < 8

    import shutil

    copy = tmp_path / "copy"
    shutil.copytree(lake, copy)
    shutil.rmtree(lake)
    for name in ("src", "clone"):
        moved = SnapshotTable(spark, str(copy / name))
        assert _state(moved, preds) == expect[name], name
        for v in moved.versions():
            assert all(
                f.startswith(f"{copy}{os.sep}")
                for f in moved.manifest(v)["files"]
            )


def test_old_format_manifest_still_reads_and_prunes(table, orders):
    """New manifests hold relative keys; a manifest keyed the old way —
    absolute ``file://`` URIs — resolves to the same files and reads,
    diffs and prunes the same."""
    import json

    table.upsert(
        orders.filter(F.col("o_orderkey") <= 100)
        .withColumn("o_totalprice", F.col("o_totalprice") + 5.0),
        ["o_orderkey"], "o_totalprice",
    )
    preds = [Pred("o_orderkey", "<=", 500)]
    expect = _state(table, preds)
    for v in table.versions():
        raw = _raw_manifest(table, v)
        assert not any(k.startswith(("file:", "/")) for k in raw["files"])
        raw["files"] = {
            "file://" + os.path.abspath(os.path.join(table.path, k)): info
            for k, info in raw["files"].items()
        }
        with open(os.path.join(table.path, "_log", f"v{v:05d}.json"),
                  "w") as fh:
            json.dump(raw, fh)
    assert _state(table, preds) == expect


def test_clone_built_in_tmp_sibling_then_renamed(spark, tmp_path):
    """``build_once`` builds into ``<path>.tmp.<pid>`` and renames it into
    place; a clone built that way still resolves its source's files and
    its own appended ones."""
    from lakehouse_sfc_spark.sources.loader import build_once

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    src = SnapshotTable.create(
        df, str(tmp_path / "src"), stats_cols=["k"], num_files=2
    )

    def build(path: str) -> None:
        src.clone_to(path).append(
            spark.range(5).select(
                (F.col("id") + 1000).alias("k"),
                F.lit(0).cast("long").alias("v"),
            )
        )

    clone = SnapshotTable(spark, build_once(str(tmp_path / "clone"), build))
    assert clone.read(0).count() == 100
    assert clone.read().count() == 105
    src_dir = f"{tmp_path / 'src'}{os.sep}"
    assert all(f.startswith(src_dir) for f in clone.manifest(0)["files"])
    assert all(os.path.exists(f) for f in clone.manifest()["files"])


def test_publish_never_replaces_a_committed_version(table):
    """Two writers committing the same version: the second raises, the
    first one's manifest stays byte-identical, and no temp file is left."""
    from pyspark.sql.types import StructType

    log = os.path.join(table.path, "_log")
    final = os.path.join(log, "v00000.json")
    with open(final, "rb") as fh:
        before = fh.read()
    m = table.manifest(0)
    with pytest.raises(FileExistsError):
        table._publish(
            0, "CREATE", {}, StructType.fromJson(m["schema"]),
            m["stats_cols"],
        )
    with open(final, "rb") as fh:
        assert fh.read() == before
    assert not [f for f in os.listdir(log) if f.endswith(".tmp")]
    assert table.versions() == [0]


# --- the manifest schema is the snapshot schema -----------------------------


def _jobs_in(spark, build):
    """``build()``'s result and the number of Spark jobs it ran, counted by
    ``statusTracker`` under a job group of its own."""
    import uuid

    sc = spark.sparkContext
    gid = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _evolve(table, orders):
    """v1: append 5 rows under new keys with a new column ``o_flag``."""
    table.append(
        orders.limit(5)
        .withColumn("o_orderkey", F.col("o_orderkey") + 2_000_000)
        .withColumn("o_flag", F.lit("x"))
    )


def test_scan_without_predicates_reads_everything(table, orders):
    assert table.scan([]).count() == orders.count()


def test_evolved_column_survives_narrow_rewrites(table, orders):
    """An evolving append, then a narrow upsert that touches no evolved
    file, then a delete of every row: each later manifest and read keeps
    ``o_flag``; v0 stays narrow."""
    _evolve(table, orders)
    table.upsert(
        orders.filter(F.col("o_orderkey") <= 50)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0),
        ["o_orderkey"], "o_totalprice",
    )
    table.delete_where([Pred("o_orderkey", ">=", 0)])
    assert table.versions() == [0, 1, 2, 3]
    for v in table.versions():
        names = [f["name"] for f in table.manifest(v)["schema"]["fields"]]
        assert ("o_flag" in names) == (v > 0), (v, names)
        assert table.read(v).columns == names, v
    assert table.read(2).filter(F.col("o_flag") == "x").count() == 5
    assert table.read(3).count() == 0


def test_type_change_refused_before_staging(table, orders):
    files = set(os.listdir(table.path))
    with pytest.raises(ValueError, match="o_totalprice"):
        table.append(
            orders.limit(5).withColumn(
                "o_totalprice", F.col("o_totalprice").cast("string")
            )
        )
    assert table.versions() == [0]
    assert set(os.listdir(table.path)) == files


def test_snapshot_reads_build_without_a_job(table, orders, spark):
    table.upsert(
        orders.filter(F.col("o_orderkey") <= 100)
        .withColumn("o_totalprice", F.col("o_totalprice") + 5.0),
        ["o_orderkey"], "o_totalprice",
    )
    preds = [Pred("o_orderkey", "<=", 500)]
    for build in (
        lambda: table.read(),
        lambda: table.read(0),
        lambda: table.scan(preds),
        lambda: table.changes(0, 1, ["o_orderkey"]),
    ):
        df, jobs = _jobs_in(spark, build)
        assert jobs == 0, df.columns
    want = orders.filter(F.col("o_orderkey") <= 500).count()
    assert table.scan(preds).count() == want


def test_one_file_set_under_two_schemas(table, orders):
    """Deleting the evolved rows leaves v0's exact file set under v1's
    wider schema: each version reads its own manifest's columns."""
    _evolve(table, orders)
    table.delete_where([Pred("o_orderkey", ">=", 2_000_000)])
    assert set(table.manifest(2)["files"]) == set(table.manifest(0)["files"])
    narrow, wide = table.read(0), table.read(2)
    assert "o_flag" not in narrow.columns
    assert wide.columns == narrow.columns + ["o_flag"]
    assert wide.filter(F.col("o_flag").isNotNull()).count() == 0
    assert wide.count() == narrow.count() == orders.count()
    assert "o_flag" not in table.read(0).columns  # and back again
