"""The follower cursor without Spark (fast lane): the plain sink's JSON
cursor record (CursorStore), its crash behaviour, read_cursor()'s
choice between the two sinks, and `cli status` on a plain store."""

from __future__ import annotations

import json
import logging

from helium_etl_lite_spark import cli
from helium_etl_lite_spark.etl.pipeline import (
    CursorStore,
    FollowerConfig,
    _open_cursor,
    read_cursor,
)
from helium_etl_lite_spark.etl.snapshot import SnapshotStore


def test_cursor_store_round_trip(tmp_path):
    store = CursorStore(str(tmp_path))
    assert store.read() is None
    store.write(1099, 1000)
    assert store.read() == (1099, 1000)
    store.write(1129, 1000)
    assert store.read() == (1129, 1000)
    assert store.path == str(tmp_path / "_meta" / "follower_info.json")
    with open(store.path) as f:
        assert json.load(f) == {"height": 1129, "first_block": 1000}


def test_crash_before_rename_keeps_previous_cursor(tmp_path):
    # A writer killed before its rename leaves a stale, possibly
    # truncated follower_info.json.tmp beside the live record. The
    # previous cursor still reads back, and the next write succeeds.
    store = CursorStore(str(tmp_path))
    store.write(1099, 1000)
    with open(store.path + ".tmp", "w") as f:
        f.write('{"height": 11')
    assert store.read() == (1099, 1000)
    store.write(1129, 1000)
    assert store.read() == (1129, 1000)
    assert not (tmp_path / "_meta" / "follower_info.json.tmp").exists()


def test_read_cursor_reads_only_the_configured_sink(tmp_path):
    out = str(tmp_path)
    assert read_cursor(out, atomic=False) is None
    assert read_cursor(out, atomic=True) is None
    CursorStore(out).write(1099, 1000)
    assert read_cursor(out, atomic=False) == (1099, 1000)
    # An atomic follower on a store holding only a plain cursor must not
    # take it: its first snapshot would then lack every earlier block.
    assert read_cursor(out, atomic=True) is None
    SnapshotStore(out).publish(
        {"version": 1, "height": 2049, "first_block": 2000, "tables": {}}
    )
    assert read_cursor(out, atomic=True) == (2049, 2000)
    assert read_cursor(out, atomic=False) == (1099, 1000)


def test_atomic_follower_on_a_plain_store_starts_a_new_snapshot(tmp_path):
    # The atomic follower ignores the plain cursor and seeds its own
    # manifest, so under backfill it re-lands from the first block.
    out = str(tmp_path)
    CursorStore(out).write(1099, 1000)
    cfg = FollowerConfig(out_dir=out, atomic=True, backfill=True)
    assert _open_cursor(None, cfg, lambda: 1000) == (999, 1000)
    m = SnapshotStore(out).current()
    assert (m["version"], m["height"], m["first_block"]) == (1, 999, 1000)
    assert _open_cursor(None, cfg, lambda: 5000) == (999, 1000)  # now read back


def test_status_reads_the_json_cursor(tmp_path, capsys):
    out = str(tmp_path)
    CursorStore(out).write(1059, 1000)
    st = cli.cmd_status({"out_dir": out}, log=logging.getLogger("t"))
    assert st["sink"] == "plain"
    assert (st["height"], st["first_block"]) == (1059, 1000)
    assert st["tables"] == {}
    assert '"height": 1059' in capsys.readouterr().out
