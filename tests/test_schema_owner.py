"""Snapshot schema guard.

A snapshot manifest records its table schema, and every read of a listed
file set goes through ``table.pruning.read_listed`` with it.  Reads used
to re-infer the schema with ``mergeSchema``: one footer-merge Spark job per
read, and a manifest schema that drifted from the data unnoticed.  This
test statically keeps schema inference by footer merge out of the
package."""

from __future__ import annotations

from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "lakehouse_sfc_spark"


def test_no_merge_schema_reads():
    bad = sorted(
        str(p.relative_to(PKG.parent))
        for p in PKG.rglob("*.py")
        if "mergeSchema" in p.read_text(encoding="utf-8")
    )
    assert not bad, f"{bad} infer schemas by footer merge; read with the manifest schema"
