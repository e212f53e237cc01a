"""Batch-id stores without Spark (fast lane): the construction marker an
operator state keeps beside its manifest, and the refusal of a
directory that holds data in a layout from before snapshot stores."""

from __future__ import annotations

import os

import pytest

from helium_etl_lite_spark.etl.snapshot import (
    CONSTRUCTION,
    STATE,
    SnapshotStore,
    check_construction,
    commit_batch_atomic,
    read_snapshot,
    refuse_old_layout,
)


def _publish_empty(root):
    SnapshotStore(root).publish(
        {"version": 1, "height": 0, "first_block": 0, "tables": {}}
    )


def test_construction_marker_is_durable_and_a_wrong_one_is_refused(
    tmp_path, monkeypatch
):
    # A marker left empty by a power cut would make the next probe refuse
    # a good state, so the stamp syncs the marker's content before the
    # rename publishes it, and the directory entry after.
    state = str(tmp_path / "state")
    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        st = os.fstat(fd)
        events.append(("fsync", (st.st_dev, st.st_ino)))
        real_fsync(fd)

    def replace(src, dst, **kw):
        events.append(("replace", dst))
        real_replace(src, dst, **kw)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    check_construction(state, "algo-v1", stamp=True)
    marker = os.path.join(state, CONSTRUCTION)
    with open(marker) as f:
        assert f.read() == "algo-v1"

    def ino(path):
        st = os.stat(path)
        return ("fsync", (st.st_dev, st.st_ino))

    rename = events.index(("replace", marker))
    assert ino(marker) in events[:rename]
    assert ino(state) in events[rename:]

    # the same construction passes, on a fold-in or a probe
    check_construction(state, "algo-v1", stamp=True)
    check_construction(state, "algo-v1", stamp=False)
    # another one is refused either way, and nothing is rewritten
    events.clear()
    with pytest.raises(ValueError, match="built under 'algo-v1'"):
        check_construction(state, "algo-v2", stamp=False)
    with pytest.raises(ValueError, match="rebuild the state"):
        check_construction(state, "algo-v2", stamp=True)
    assert events == []
    with open(marker) as f:
        assert f.read() == "algo-v1"


def test_state_with_data_but_no_marker_is_refused(tmp_path):
    # Stamping a state whose rows were built under an unknown construction
    # would legitimize them; probing it would silently match nothing.
    state = str(tmp_path / "state")
    _publish_empty(state)
    for stamp in (False, True):
        with pytest.raises(ValueError, match="no construction marker"):
            check_construction(state, "algo-v1", stamp=stamp)
    assert not os.path.exists(os.path.join(state, CONSTRUCTION))
    # no store at all is the empty state: a probe passes and writes nothing
    empty = str(tmp_path / "empty")
    check_construction(empty, "algo-v1", stamp=False)
    assert not os.path.exists(empty)


@pytest.mark.parametrize(
    "layout",
    ["rewards/block_range=1", "shard=7", "batch=0"],
    ids=["plain-follower-table", "sharded-set-state", "batch-count-state"],
)
def test_old_layout_without_a_manifest_is_refused(tmp_path, layout):
    # Read as a snapshot store, a directory in an old layout is empty: a
    # probe would pass every document as new. The refusal runs before
    # any Spark work, on the read and on the first commit alike.
    root = str(tmp_path / "store")
    part = os.path.join(root, layout)
    os.makedirs(part)
    with open(os.path.join(part, "part-00000.parquet"), "wb") as f:
        f.write(b"PAR1 landed rows PAR1")
    for attempt in (
        lambda: refuse_old_layout(root),
        lambda: read_snapshot(None, root, STATE),
        lambda: commit_batch_atomic(None, root, {}, 0, 0, height=0, first_block=0),
    ):
        with pytest.raises(RuntimeError, match="no longer read") as exc:
            attempt()
        assert layout.split("/")[-1] in str(exc.value) and root in str(exc.value)
    assert not os.path.exists(os.path.join(root, "_snapshots"))
    # the same directories under a manifest are no longer an old layout
    _publish_empty(root)
    refuse_old_layout(root)


def test_snapshot_store_without_current_is_not_an_old_layout(tmp_path):
    # A crash before a store's first publish leaves fragments under v=
    # directories and no CURRENT: that store is empty, not refused.
    root = str(tmp_path / "store")
    os.makedirs(os.path.join(root, STATE, "v=1", "block_range=0"))
    refuse_old_layout(root)
    assert read_snapshot(None, root, STATE) is None
