"""Sidecar format ownership guard.

``layout/stats.py`` is the only module that knows the stats sidecar's file
name and key format: it decodes Spark's file URIs, writes keys relative to
the table directory, and resolves them on read.  When other modules built
or rewrote sidecar keys themselves, every directory rename needed a
rewrite pass over the sidecar, and a table under a path with a space could
not be scanned.  This test statically keeps the format in one place."""

from __future__ import annotations

from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "lakehouse_sfc_spark"
OWNER = PKG / "layout" / "stats.py"
REHOME = "_rehome" + "_sidecar"


def _offenders(paths, needles) -> list[str]:
    return sorted(
        str(p.relative_to(ROOT))
        for p in paths
        if any(n in p.read_text(encoding="utf-8") for n in needles)
    )


def test_only_stats_module_names_the_sidecar_file():
    modules = [*PKG.rglob("*.py"), *ROOT.glob("tools/*.py"), *ROOT.glob("*.py")]
    bad = _offenders(
        (p for p in modules if p != OWNER), ("SIDECAR_NAME", "_sfc_stats.json")
    )
    assert not bad, (
        f"{bad} name the sidecar file; go through layout.stats.read_sidecar / "
        "write_sidecar instead"
    )


def test_no_sidecar_rehome_pass():
    sources = [
        *PKG.rglob("*.py"),
        *ROOT.glob("tools/*.py"),
        *ROOT.glob("tests/*.py"),
        *ROOT.glob("perfbench/*.py"),
        *ROOT.glob("*.py"),
    ]
    bad = _offenders(sources, (REHOME,))
    assert not bad, (
        f"{bad} reintroduce {REHOME}: sidecar keys are relative to the table "
        "directory, so a rename needs no rewrite"
    )
