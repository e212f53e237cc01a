"""The follower cursor (fast lane): CursorStore over the snapshot
manifest, its crash behaviour, cursor seeding, the refusal of a
plain-parquet store and of a manifest from before fragment commits,
`cli status`, the durable order of a publish, the config checks and the
maintenance verbs' argument checks — all without Spark — and the
follower over a landed source with no block yet."""

from __future__ import annotations

import json
import logging
import os

import pytest

from helium_etl_lite_spark import cli
from helium_etl_lite_spark.etl.pipeline import CursorStore, FollowerConfig, _open_cursor
from helium_etl_lite_spark.etl.snapshot import SnapshotStore


def test_cursor_store_round_trip(tmp_path):
    out = str(tmp_path)
    cursor = CursorStore(out)
    assert cursor.read() is None
    cursor.write(1099, 1000)
    assert cursor.read() == (1099, 1000)
    assert SnapshotStore(out).current() == {
        "version": 1, "height": 1099, "first_block": 1000, "tables": {},
    }
    # a data commit, then a cursor write: the tables carry over
    tables = {"rewards": {"1": 2}}
    SnapshotStore(out).publish(
        {"version": 2, "height": 1119, "first_block": 1000, "tables": tables}
    )
    assert cursor.read() == (1119, 1000)
    cursor.write(1129, 1000)
    assert cursor.read() == (1129, 1000)
    assert SnapshotStore(out).current() == {
        "version": 3, "height": 1129, "first_block": 1000, "tables": tables,
    }


def test_crash_before_rename_keeps_previous_cursor(tmp_path):
    # A writer killed before its rename leaves a stale, possibly
    # truncated CURRENT.tmp beside the live CURRENT. The previous
    # cursor still reads back, and the next publish succeeds.
    out = str(tmp_path)
    cursor = CursorStore(out)
    cursor.write(1099, 1000)
    tmp = tmp_path / "_snapshots" / "CURRENT.tmp"
    tmp.write_text("")
    assert cursor.read() == (1099, 1000)
    cursor.write(1129, 1000)
    assert cursor.read() == (1129, 1000)
    assert SnapshotStore(out).current_version() == 2
    assert not tmp.exists()


def test_open_cursor_seeds_version_one(tmp_path):
    out = str(tmp_path)
    cfg = FollowerConfig(out_dir=out, backfill=True)
    assert _open_cursor(cfg, lambda: 1000) == (999, 1000)
    m = SnapshotStore(out).current()
    assert (m["version"], m["height"], m["first_block"], m["tables"]) == (1, 999, 1000, {})

    def no_probe():
        raise AssertionError("a committed cursor must not be re-probed")

    assert _open_cursor(cfg, no_probe) == (999, 1000)  # read back
    assert SnapshotStore(out).current_version() == 1


def _tree(root):
    return {
        os.path.relpath(os.path.join(d, f), root): open(os.path.join(d, f), "rb").read()
        for d, _, files in os.walk(root)
        for f in files
    }


def test_open_cursor_refuses_a_plain_layout_store(tmp_path):
    # A store the former plain-parquet sink wrote has tables but no
    # manifest. Seeding a cursor there would skip every landed block
    # under backfill = false, so the follower refuses it untouched.
    for table in ("rewards", "transactions"):
        out = tmp_path / table
        part = out / table / "block_range=1"
        part.mkdir(parents=True)
        (part / "part-00000.parquet").write_bytes(b"PAR1 landed rows PAR1")
        (out / "_meta").mkdir()
        (out / "_meta" / "follower_info.json").write_text(
            json.dumps({"height": 1099, "first_block": 1000})
        )
        before = _tree(out)
        probed = []
        cfg = FollowerConfig(out_dir=str(out), backfill=False)
        with pytest.raises(RuntimeError, match="backfill = true") as exc:
            _open_cursor(cfg, lambda: probed.append(1) or 5000)
        assert str(out) in str(exc.value)
        assert probed == []
        assert _tree(out) == before


def test_status_reads_the_manifest(tmp_path, capsys):
    out = str(tmp_path)
    log = logging.getLogger("t")
    st = cli.cmd_status({"out_dir": out}, log=log)
    assert (st["snapshot_version"], st["height"], st["first_block"], st["tables"]) == (
        None, None, None, {},
    )
    for v in (1, 2):
        part = tmp_path / "rewards" / f"v={v}" / "block_range=1"
        part.mkdir(parents=True)
        (part / "part-00000.parquet").write_bytes(b"x" * 10)
    SnapshotStore(out).publish(
        {"version": 2, "height": 1059, "first_block": 1000,
         "tables": {"rewards": {"1": [[1, 1000, 1029], [2, 1030, 1059]]}}}
    )
    capsys.readouterr()
    st = cli.cmd_status({"out_dir": out}, log=log)
    assert (st["snapshot_version"], st["height"], st["first_block"]) == (2, 1059, 1000)
    assert st["tables"] == {
        "rewards": {"n_partitions": 1, "n_fragments": 2, "n_files": 2, "n_bytes": 20}
    }
    assert '"height": 1059' in capsys.readouterr().out


def test_manifest_from_before_fragment_commits_is_refused(tmp_path):
    # A manifest mapping block_range -> version is a store from before
    # fragment commits: the follower, the serving views and `status`
    # refuse it, naming out_dir, before anything is probed or written.
    from helium_etl_lite_spark import serving
    from helium_etl_lite_spark.etl.pipeline import IncrementalFollower

    out = str(tmp_path)
    SnapshotStore(out).publish(
        {"version": 2, "height": 1059, "first_block": 1000, "tables": {"rewards": {"1": 2}}}
    )
    before = _tree(out)

    class NoSource:
        def tip(self):
            raise AssertionError("the source must not be probed")

        first = tip

    follower = IncrementalFollower(None, NoSource(), FollowerConfig(out_dir=out, backfill=True))
    for call in (
        follower.catch_up,
        lambda: serving.register_views(None, out),
        lambda: cli.cmd_status({"out_dir": out}, log=logging.getLogger("t")),
    ):
        with pytest.raises(RuntimeError, match="before fragment commits") as exc:
            call()
        assert out in str(exc.value)
    assert _tree(out) == before


@pytest.mark.parametrize("backfill", [True, False])
def test_once_over_an_empty_landed_source(spark, tmp_path, backfill):
    # No block has landed yet: `once` loads nothing and seeds no
    # cursor, so the first real block decides where the cursor starts.
    from helium_etl_lite_spark.etl import fixtures

    bp, tp, out = (str(tmp_path / d) for d in ("blocks", "txns", "out"))
    os.makedirs(bp)
    os.makedirs(tp)
    cfg = {"blocks_path": bp, "txns_path": tp, "out_dir": out, "backfill": backfill}
    log = logging.getLogger("t")
    assert cli.cmd_once(spark, cfg, log=log) == 0
    assert SnapshotStore(out).current() is None
    blocks, txns = fixtures.make_chain(spark, first_block=1000, n_blocks=3)
    blocks.write.mode("overwrite").parquet(bp)
    txns.write.mode("overwrite").parquet(tp)
    assert cli.cmd_once(spark, cfg, log=log) == (3 if backfill else 1)
    assert CursorStore(out).read() == (1002, 1000 if backfill else 1002)


@pytest.mark.parametrize("value", [0, -5, "10"])
def test_load_config_rejects_non_positive_sizes(tmp_path, value):
    # 0 would commit an empty range every pass and never advance the
    # cursor; a negative size would loop forever committing it backwards.
    base = 'blocks_path = "b"\ntxns_path = "t"\nout_dir = "o"\n'
    path = tmp_path / "settings.toml"
    for key in ("max_blocks_per_batch", "block_range_size"):
        path.write_text(base + f"{key} = {json.dumps(value)}\n")
        with pytest.raises(SystemExit, match=f"invalid {key}"):
            cli.load_config(str(path))
        path.write_text(base + f"{key} = 25\n")
        assert cli.load_config(str(path))[key] == 25


@pytest.mark.parametrize(
    "line",
    [
        'backfill = "false"', 'backfill = "true"', "backfill = 0",
        "tick_seconds = 0", "tick_seconds = -1.5", 'tick_seconds = "10"',
        "tick_seconds = true", "tick_seconds = inf", "tick_seconds = nan",
        'source_format = "jsonl"',
    ],
)
def test_load_config_rejects_mistyped_backfill_and_tick(tmp_path, line):
    # bool("false") is True, so a quoted false used to backfill from the
    # first block; a tick of 0 or less made `start` poll without sleeping;
    # a mistyped source_format picked the parquet reader.
    base = 'blocks_path = "b"\ntxns_path = "t"\nout_dir = "o"\n'
    path = tmp_path / "settings.toml"
    key = line.split(" = ")[0]
    path.write_text(base + line + "\n")
    with pytest.raises(SystemExit, match=f"invalid {key}"):
        cli.load_config(str(path))
    path.write_text(base + "backfill = false\ntick_seconds = 0.5\n")
    cfg = cli.load_config(str(path))
    assert (cfg["backfill"], cfg["tick_seconds"]) == (False, 0.5)


def _two_version_store(tmp_path):
    """A store whose CURRENT (version 2) still serves version 1's
    fragment of range 0 beside its own fragment of range 1."""
    out = str(tmp_path / "store")
    for v, r in ((1, 0), (2, 1)):
        part = tmp_path / "store" / "rewards" / f"v={v}" / f"block_range={r}"
        part.mkdir(parents=True)
        (part / "part-00000.parquet").write_bytes(b"x" * 10)
    SnapshotStore(out).publish(
        {"version": 1, "height": 999, "first_block": 0,
         "tables": {"rewards": {"0": [[1, 0, 999]]}}}
    )
    SnapshotStore(out).publish(
        {"version": 2, "height": 1029, "first_block": 0,
         "tables": {"rewards": {"0": [[1, 0, 999]], "1": [[2, 1000, 1029]]}}}
    )
    cfg = tmp_path / "settings.toml"
    cfg.write_text(f"out_dir = {json.dumps(out)}\n")
    return out, str(cfg)


@pytest.mark.parametrize("keep", ["0", "-1"])
def test_vacuum_keeps_the_live_snapshot(tmp_path, capsys, keep):
    # An empty keep-window would delete every version dir older than
    # CURRENT, including the fragments CURRENT still serves. Both the
    # store and the CLI refuse it and leave the store byte-for-byte
    # unchanged.
    out, cfg = _two_version_store(tmp_path)
    before = _tree(out)
    with pytest.raises(ValueError, match="keep_versions"):
        SnapshotStore(out).vacuum(keep_versions=int(keep))
    assert _tree(out) == before
    with pytest.raises(SystemExit) as exc:
        cli.main(["vacuum", "--config", cfg, "--keep-versions", keep])
    assert exc.value.code == 2
    assert "not a positive integer" in capsys.readouterr().err
    assert _tree(out) == before
    # keeping one version keeps every fragment CURRENT serves; only the
    # older manifest goes
    assert cli.main(["vacuum", "--config", cfg, "--keep-versions", "1"]) == 0
    del before[os.path.join("_snapshots", "snap-000000000001.json")]
    assert _tree(out) == before


def test_at_version_must_be_positive(tmp_path, monkeypatch, capsys):
    # manifest versions start at 1, so --at-version 0 names nothing;
    # argparse refuses it before any Spark session starts.
    def no_spark(*args, **kwargs):
        raise AssertionError("a rejected argument must not start Spark")

    monkeypatch.setattr(cli, "get_spark", no_spark)
    _, cfg = _two_version_store(tmp_path)
    argv = ["sql", "--config", cfg]
    for bad in ("0", "-3", "ten"):
        with pytest.raises(SystemExit) as exc:
            cli.main(argv + ["--at-version", bad])
        assert exc.value.code == 2
        assert "not a positive integer" in capsys.readouterr().err


def test_changes_since_must_not_be_negative(tmp_path, monkeypatch, capsys):
    # read_changes(v_from=0) is the bootstrap feed, so 0 is a valid
    # --changes-since; a negative version used to start a SparkSession
    # before read_changes failed looking for its manifest.
    class Started(Exception):
        pass

    def no_spark(*args, **kwargs):
        raise Started

    monkeypatch.setattr(cli, "get_spark", no_spark)
    out, _ = _two_version_store(tmp_path)
    cfg = tmp_path / "sql.toml"
    cfg.write_text(
        f"out_dir = {json.dumps(out)}\n"
        f'blocks_path = "{tmp_path}/blocks"\ntxns_path = "{tmp_path}/txns"\n'
    )
    argv = ["sql", "--config", str(cfg), "-e", "SELECT 1", "--changes-since"]
    for bad in ("-1", "ten"):
        with pytest.raises(SystemExit) as exc:
            cli.main(argv + [bad])
        assert exc.value.code == 2
        assert "not a non-negative integer" in capsys.readouterr().err
    with pytest.raises(Started):
        cli.main(argv + ["0"])


def test_start_restores_the_sigint_handler(monkeypatch):
    # cmd_start installs its own SIGINT handler for a graceful stop; once
    # the loop ends, ctrl-c must reach the caller's handler again, not
    # set a flag on a finished loop.
    import signal

    calls = []

    def catch_up(spark, cfg):
        calls.append(1)
        if len(calls) == 2:
            raise KeyboardInterrupt  # a BaseException: leaves the loop
        return 0, None

    monkeypatch.setattr(cli, "_catch_up", catch_up)
    before = signal.getsignal(signal.SIGINT)
    cfg = {"out_dir": "unused", "tick_seconds": 0.01}
    cli.cmd_start(None, cfg, log=logging.getLogger("t"), max_ticks=1)
    assert signal.getsignal(signal.SIGINT) is before
    with pytest.raises(KeyboardInterrupt):
        cli.cmd_start(None, cfg, log=logging.getLogger("t"))
    assert signal.getsignal(signal.SIGINT) is before


def test_publish_syncs_new_fragments_before_the_manifest(tmp_path, monkeypatch):
    # Spark's parquet writer does not fsync. Unless publish syncs the
    # fragments a version adds (files, their directories and the
    # entries leading to them) before it writes the manifest, a power
    # cut can leave a durable CURRENT naming files that never reached
    # disk.
    out = str(tmp_path)
    for table, v, r in (("rewards", 1, 0), ("rewards", 2, 0), ("rewards", 2, 1),
                        ("transactions", 2, 1)):
        part = tmp_path / table / f"v={v}" / f"block_range={r}"
        part.mkdir(parents=True, exist_ok=True)
        (part / "part-00000.parquet").write_bytes(b"x")
        (part / ".part-00000.parquet.crc").write_bytes(b"c")
    store = SnapshotStore(out)
    store.publish(
        {"version": 1, "height": 999, "first_block": 0,
         "tables": {"rewards": {"0": [[1, 0, 999]]}}}
    )
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
    store.publish(
        {"version": 2, "height": 1029, "first_block": 0,
         "tables": {"rewards": {"0": [[1, 0, 999], [2, 1000, 1029]],
                                "1": [[2, 1000, 1029]]},
                    "transactions": {"1": [[2, 1000, 1029]]}}}
    )

    def ino(*parts):
        st = os.stat(os.path.join(out, *parts))
        return ("fsync", (st.st_dev, st.st_ino))

    first_meta = events.index(ino("_snapshots", "snap-000000000002.json"))
    assert events.index(("replace", os.path.join(out, "_snapshots", "CURRENT"))) > first_meta
    before = events[:first_meta]
    for table, r in (("rewards", 0), ("rewards", 1), ("transactions", 1)):
        frag = (table, "v=2", f"block_range={r}")
        for name in ("part-00000.parquet", ".part-00000.parquet.crc", ""):
            assert ino(*frag, name) in before, (frag, name)
        assert ino(table, "v=2") in before and ino(table) in before
    assert ino() in before  # the root holds the new transactions table
    # version 1's fragment is not this commit's data
    assert ino("rewards", "v=1", "block_range=0", "part-00000.parquet") not in events
