"""Unit tests for the derived-dataset cache protocol in
lakehouse_sfc_spark/sources/loader.py: errno-adjudicated atomic rename
(ADVICE r11 medium), dead-pid tmp pruning (ADVICE r11 low), and the
``build_once`` gate every directory cache goes through.

Pure-filesystem tests — no Spark session; write_to is a plain directory
maker so the protocol is exercised in isolation.
"""

import os

import pytest

from lakehouse_sfc_spark.sources import loader
from lakehouse_sfc_spark.sources.loader import (
    _atomic_cache_write,
    _tmp_builder_dead,
    build_once,
    scratch_dir,
)


def _make(payload: str, success: bool = True):
    """A write_to callable materializing a dir with one payload file."""

    def write_to(p: str) -> None:
        os.makedirs(p)
        with open(os.path.join(p, "part-0"), "w") as fh:
            fh.write(payload)
        if success:
            open(os.path.join(p, "_SUCCESS"), "w").close()

    return write_to


def test_publish_into_empty_slot(tmp_path):
    path = str(tmp_path / "fp")
    _atomic_cache_write(_make("fresh"), path)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert open(os.path.join(path, "part-0")).read() == "fresh"
    assert not [d for d in os.listdir(tmp_path) if ".tmp." in d]


def test_stale_partial_dir_is_evicted_and_replaced(tmp_path):
    """A crash-leftover partial dir (no _SUCCESS) squatting on the cache
    path must NOT win forever: the fresh build evicts it and publishes."""
    path = str(tmp_path / "fp")
    os.makedirs(path)
    with open(os.path.join(path, "part-0"), "w") as fh:
        fh.write("stale-partial")  # no _SUCCESS
    _atomic_cache_write(_make("fresh"), path)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert open(os.path.join(path, "part-0")).read() == "fresh"


def test_losing_race_to_complete_sibling_discards_ours(tmp_path):
    """A COMPLETE dir already at path (concurrent builder won) is kept;
    our equivalent copy is discarded silently."""
    path = str(tmp_path / "fp")
    _make("winner")(path)
    _atomic_cache_write(_make("loser"), path)
    assert open(os.path.join(path, "part-0")).read() == "winner"
    assert not [d for d in os.listdir(tmp_path) if ".tmp." in d]


def test_unexpected_errno_reraises(tmp_path, monkeypatch):
    path = str(tmp_path / "fp")

    def boom(src, dst):
        raise OSError(13, "Permission denied")

    monkeypatch.setattr(os, "rename", boom)
    with pytest.raises(OSError):
        _atomic_cache_write(_make("x"), path)
    # tmp scratch cleaned up even on the raise path
    assert not [d for d in os.listdir(tmp_path) if ".tmp." in d]


def test_tmp_builder_dead_detection():
    fp = "abc123"
    # own pid: alive
    assert not _tmp_builder_dead(f"{fp}.tmp.{os.getpid()}", fp)
    # pid 1 exists but is not ours: PermissionError path -> alive
    # (in a container we may BE uid 0 and pid 1 is live -> still alive)
    assert not _tmp_builder_dead(f"{fp}.tmp.1", fp)
    # malformed suffix: prune
    assert _tmp_builder_dead(f"{fp}.tmp.notanumber", fp)
    # a pid far above pid_max on this box: dead
    dead = 2**22 + 12345
    assert _tmp_builder_dead(f"{fp}.tmp.{dead}", fp)


def _tmp_siblings(parent) -> list[str]:
    return [d for d in os.listdir(parent) if ".tmp." in d]


def test_build_once_skips_build_when_complete(tmp_path):
    path = str(tmp_path / "fp")
    _make("cached")(path)

    def build(p: str) -> None:
        raise AssertionError("build ran over a complete cache")

    assert build_once(path, build) == path
    assert open(os.path.join(path, "part-0")).read() == "cached"


def test_build_once_failed_build_leaves_nothing(tmp_path):
    path = str(tmp_path / "fp")

    def build(p: str) -> None:
        _make("half", success=False)(p)
        raise RuntimeError("build died mid-write")

    with pytest.raises(RuntimeError, match="mid-write"):
        build_once(path, build)
    assert not os.path.exists(path)
    assert not _tmp_siblings(tmp_path)
    # nothing was published, so the next call builds
    build_once(path, _make("rebuilt"))
    assert open(os.path.join(path, "part-0")).read() == "rebuilt"
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


def test_build_once_adds_missing_success_marker(tmp_path):
    path = str(tmp_path / "nested" / "fp")
    build_once(path, _make("bare", success=False))
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert open(os.path.join(path, "part-0")).read() == "bare"
    assert not _tmp_siblings(tmp_path / "nested")


def test_scratch_dir_drops_other_versions_of_its_kind(tmp_path, monkeypatch):
    """A version bump leaves no tree of the old version behind; siblings
    that are not ``v<M>`` tags, and other kinds, stay."""
    root = tmp_path / ".scratch"
    monkeypatch.setattr(loader, "_SCRATCH", str(root))
    for d in (
        "snap_cache/v2/sf0.01/aaa",
        "snap_cache/v3/sf0.001/bbb/orders_snap",
        "snap_cache/merge_chain",
        "layout_cache/v1/sf0.01/ccc",
        "layout_cache/month_partitioned/sf0.01/ddd",
        "layout_cache/drift_states/v2/sf0.01/eee",
    ):
        (root / d).mkdir(parents=True)
    sf = str(tmp_path / "sf0.01")

    path = scratch_dir("snap_cache/v4", sf, ("orders",))
    assert path.startswith(str(root / "snap_cache" / "v4" / "sf0.01"))
    assert sorted(os.listdir(root / "snap_cache")) == ["merge_chain"]

    scratch_dir("layout_cache/month_partitioned", sf, ("lineitem",))
    assert (root / "layout_cache" / "v1").is_dir()
    scratch_dir("layout_cache/v2", sf, ("lineitem",))
    assert sorted(os.listdir(root / "layout_cache")) == [
        "drift_states", "month_partitioned",
    ]
    assert (root / "layout_cache/drift_states/v2/sf0.01/eee").is_dir()
