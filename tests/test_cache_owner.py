"""Derived-dataset cache ownership guard.

``sources/loader.py`` is the only module that knows where derived caches
live (``.scratch/<kind>/<dataset-basename>/<fingerprint>``) and how a
directory cache is published (``scratch_dir`` / ``build_once``).  When the
query modules each found the repo root, keyed the directory and checked
``_SUCCESS`` themselves, two of the copies skipped the atomic publish and
an environment knob forked five builders into a cache-bypass path.  The
snapshot chains kept a second protocol — probing for their last manifest
and rebuilding in place — because their manifests held absolute
``file://`` URIs.  This test statically keeps the protocol in one place.

The same holds for in-session materialization: ``materialize_once`` in the
same module is the only checkpoint call, so its policy (lazy, local, the
scale caveat) is decided once, and no engine module caches or persists a
frame that would stay pinned until the session ends."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "lakehouse_sfc_spark"
OWNER = PKG / "sources" / "loader.py"
LAYOUTS = "lakehouse_sfc_spark.queries.layouts"


def _offenders(paths, needles) -> list[str]:
    return sorted(
        str(p.relative_to(ROOT))
        for p in paths
        if any(n in p.read_text(encoding="utf-8") for n in needles)
    )


def test_no_lazy_build_knob():
    bad = _offenders(PKG.rglob("*.py"), ("SPARK_GRAFT_LAZY_BUILD",))
    assert not bad, f"{bad} read the removed lazy-build knob"


def test_only_loader_knows_the_cache_protocol():
    bad = _offenders(
        (p for p in PKG.rglob("*.py") if p != OWNER),
        ('".scratch"', "_fingerprinted_dir", "_atomic_cache_write"),
    )
    assert not bad, (
        f"{bad} build cache paths or publish caches themselves; go through "
        "sources.loader.scratch_dir / build_once instead"
    )


def test_query_modules_import_no_private_layouts_names():
    bad = []
    for p in sorted((PKG / "queries").glob("*.py")):
        for node in ast.walk(ast.parse(p.read_text(encoding="utf-8"))):
            if isinstance(node, ast.ImportFrom) and node.module == LAYOUTS:
                bad += [
                    f"{p.name}: {a.name}"
                    for a in node.names
                    if a.name.startswith("_")
                ]
    assert not bad, f"private names imported from {LAYOUTS}: {bad}"


SNAPSHOTS = "lakehouse_sfc_spark.table.snapshots"


def test_query_modules_import_no_private_snapshots_names():
    bad = []
    for p in sorted((PKG / "queries").glob("*.py")):
        for node in ast.walk(ast.parse(p.read_text(encoding="utf-8"))):
            if isinstance(node, ast.ImportFrom) and node.module == SNAPSHOTS:
                bad += [
                    f"{p.name}: {a.name}"
                    for a in node.names
                    if a.name.startswith("_")
                ]
    assert not bad, f"private names imported from {SNAPSHOTS}: {bad}"


def test_query_modules_probe_no_manifests():
    bad = _offenders((PKG / "queries").glob("*.py"), ("_manifest_path(",))
    assert not bad, (
        f"{bad} probe snapshot manifests to decide whether a cached chain "
        "is complete; publish the chain with build_once instead"
    )


def test_no_file_uri_keys_in_tables_or_queries():
    paths = [*(PKG / "table").glob("*.py"), *(PKG / "queries").glob("*.py")]
    bad = _offenders(paths, ("file:" + "//",))
    assert not bad, (
        f"{bad} build file:// keys; manifests and sidecars key files "
        "relative to the table directory (layout.stats.relative_keys)"
    )


def test_only_loader_checkpoints():
    bad = _offenders(
        (p for p in PKG.rglob("*.py") if p != OWNER), ("localCheckpoint",)
    )
    assert not bad, (
        f"{bad} checkpoint frames themselves; go through "
        "sources.loader.materialize_once instead"
    )


def test_engine_modules_neither_cache_nor_persist():
    dirs = ("queries", "operators", "layout", "table", "streaming")
    paths = [p for d in dirs for p in (PKG / d).rglob("*.py")]
    bad = _offenders(paths, (".cache(", ".persist("))
    assert not bad, (
        f"{bad} cache or persist a frame; use "
        "sources.loader.materialize_once, whose blocks are released when "
        "the frame is garbage-collected"
    )
