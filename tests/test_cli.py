"""CLI parity surface (helium_etl_lite_spark/cli.py): the reference's
`migrate`/`start` commands + settings.toml config (src/main.rs:19-23).
cmd_* functions are driven with the shared test session; `main()` owns
its own session lifecycle so it is exercised only for config errors."""

from __future__ import annotations

import pytest

# r15 heavy lane: CLI integration (126 s) on the r15 sandbox — runs with
# SPARK_GRAFT_TEST_LANE=full (or -m heavy); see tests/conftest.py.
pytestmark = pytest.mark.heavy

import json
import os


from helium_etl_lite_spark import cli
from helium_etl_lite_spark.etl import fixtures


@pytest.fixture(scope="module")
def chain_dirs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cli_chain")
    blocks, txns = fixtures.make_chain(spark, first_block=1000, n_blocks=60)
    bp, tp = str(root / "blocks"), str(root / "txns")
    blocks.write.mode("overwrite").parquet(bp)
    txns.write.mode("overwrite").parquet(tp)
    return bp, tp, str(root)


def write_config(path, bp, tp, out_dir, **extra):
    lines = [
        f'blocks_path = "{bp}"',
        f'txns_path = "{tp}"',
        f'out_dir = "{out_dir}"',
    ]
    for k, v in extra.items():
        if isinstance(v, bool):
            lines.append(f"{k} = {'true' if v else 'false'}")
        elif isinstance(v, (int, float)):
            lines.append(f"{k} = {v}")
        else:
            lines.append(f'{k} = "{v}"')
    path.write_text("\n".join(lines) + "\n")
    return str(path)


def test_migrate_writes_schema_manifest(spark, chain_dirs, tmp_path):
    bp, tp, _ = chain_dirs
    out = str(tmp_path / "out")
    cfg = cli.load_config(write_config(tmp_path / "s.toml", bp, tp, out, mode="rewards"))
    cli.cmd_migrate(spark, cfg)
    manifest = json.load(open(os.path.join(out, "_schema_manifest.json")))
    assert "rewards" in manifest and "block" in manifest["rewards"]
    assert manifest["partitioning"].startswith("block_range")


def test_once_catches_up_and_is_idempotent(spark, chain_dirs, tmp_path):
    bp, tp, _ = chain_dirs
    out = str(tmp_path / "out")
    cfg = cli.load_config(
        write_config(tmp_path / "s.toml", bp, tp, out, mode="full", backfill=True)
    )
    assert cli.cmd_once(spark, cfg) == 60
    assert cli.cmd_once(spark, cfg) == 0  # already at tip
    from helium_etl_lite_spark.etl.snapshot import read_snapshot

    assert read_snapshot(spark, out, "rewards").count() > 0


def test_config_validation_errors(tmp_path, chain_dirs):
    bp, tp, _ = chain_dirs
    bad = tmp_path / "bad.toml"
    bad.write_text('blocks_path = "x"\n')  # missing txns_path/out_dir
    with pytest.raises(SystemExit, match="missing required key"):
        cli.load_config(str(bad))
    bad2 = write_config(tmp_path / "bad2.toml", bp, tp, "/tmp/x", mode="nope")
    with pytest.raises(SystemExit, match="invalid mode"):
        cli.load_config(bad2)


def test_log_dir_writes_file(spark, chain_dirs, tmp_path):
    bp, tp, _ = chain_dirs
    out = str(tmp_path / "out")
    log_dir = str(tmp_path / "logs")
    cfg = cli.load_config(write_config(tmp_path / "s.toml", bp, tp, out, mode="rewards"))
    cfg["log"] = {"log_dir": log_dir}  # [log] table analog
    cli.cmd_migrate(spark, cfg)
    log_file = os.path.join(log_dir, "helium_etl_lite_spark.log")
    assert os.path.exists(log_file)
    assert "migrate: layout ready" in open(log_file).read()


def test_sql_command_over_serving_views(spark, chain_dirs, tmp_path, capsys):
    bp, tp, _ = chain_dirs
    out = str(tmp_path / "out")
    cfg = cli.load_config(
        write_config(tmp_path / "s.toml", bp, tp, out, mode="full", backfill=True)
    )
    cli.cmd_once(spark, cfg)
    n = cli.cmd_sql(
        spark, cfg,
        "SELECT gateway, SUM(amount) AS earned FROM rewards "
        "WHERE gateway <> '1Wh4bh' GROUP BY gateway ORDER BY earned DESC LIMIT 5",
    )
    assert n == 5
    printed = capsys.readouterr().out
    assert printed.splitlines()[0] == "gateway\tearned"
    assert len(printed.splitlines()) == 6


def test_atomic_once_and_vacuum(spark, chain_dirs, tmp_path):
    # once lands through the snapshot sink; a forced re-commit
    # supersedes v2 and `vacuum --keep-versions 1` reclaims it.
    from helium_etl_lite_spark.etl.snapshot import SnapshotStore, read_snapshot

    bp, tp, _ = chain_dirs
    out = str(tmp_path / "out")
    cfg_path = write_config(
        tmp_path / "s.toml", bp, tp, out, mode="rewards", backfill=True,
        block_range_size=20,
    )
    cfg = cli.load_config(cfg_path)
    cli.cmd_once(spark, cfg)
    store = SnapshotStore(out)
    m = store.current()
    assert m is not None and m["height"] == 1059
    rows_before = read_snapshot(spark, out, "rewards").count()
    # replay the whole span: same data, new version owning every range
    f = cli._follower(cfg)
    f._commit_range(1000, 1059, m["first_block"])
    assert store.current()["version"] == m["version"] + 1
    removed = cli.cmd_vacuum({"out_dir": out}, keep_versions=1)
    assert any("v=" in p for p in removed)
    assert read_snapshot(spark, out, "rewards").count() == rows_before


def _part_files(tdir):
    out = {}
    for d in sorted(os.listdir(tdir)):
        if d.startswith("block_range="):
            out[d] = sum(
                1
                for f in os.listdir(os.path.join(tdir, d))
                if f.endswith(".parquet")
            )
    return out


def test_compact_snapshot_sink(spark, chain_dirs, tmp_path):
    # Passes of 10 blocks leave two fragments in each 20-block range,
    # too few for a commit's fold. Compaction publishes a NEW snapshot
    # version mapping each range's fragments to one file; committed
    # reads and the cursor are unchanged, old version dirs survive for
    # older-snapshot readers until vacuum, and uncommitted (orphan)
    # directories are untouched.
    from helium_etl_lite_spark.etl.snapshot import SnapshotStore, read_snapshot

    bp, tp, _ = chain_dirs
    out = str(tmp_path / "out")
    cfg = cli.load_config(
        write_config(
            tmp_path / "s.toml", bp, tp, out, mode="full", backfill=True,
            block_range_size=20, max_blocks_per_batch=10,
        )
    )
    cli.cmd_once(spark, cfg)
    store = SnapshotStore(out)
    m1 = store.current()
    old = m1["tables"]["transactions"]
    assert old and all(len(frags) == 2 for frags in old.values())
    rows_before = {
        t: sorted(map(tuple, read_snapshot(spark, out, t).collect()))
        for t in ("rewards", "transactions")
    }
    # an uncommitted orphan partition (crashed writer) must survive
    # untouched and stay out of the compacted corpus
    orphan = os.path.join(out, "transactions", "v=1", "block_range=9999")
    os.makedirs(orphan)
    open(os.path.join(orphan, "junk.parquet"), "w").write("not parquet")

    got = cli.cmd_compact(spark, {"out_dir": out})
    assert got and got["version"] == m1["version"] + 1
    m2 = store.current()
    assert m2 == got
    assert m2["height"] == m1["height"]  # cursor untouched
    assert "9999" not in m2["tables"]["transactions"]
    assert os.path.exists(os.path.join(orphan, "junk.parquet"))
    for t, rows in rows_before.items():
        assert sorted(map(tuple, read_snapshot(spark, out, t).collect())) == rows
    # each range now one fragment of the new version, one file
    assert {r: [f[0] for f in frags] for r, frags in m2["tables"]["transactions"].items()} == {
        r: [m2["version"]] for r in old
    }
    vdir = os.path.join(out, "transactions", f"v={m2['version']}")
    assert _part_files(vdir) == {f"block_range={r}": 1 for r in old}
    # old version dirs still present until vacuum reclaims them
    old_dirs = {
        os.path.join(out, "transactions", f"v={f[0]}") for frags in old.values() for f in frags
    }
    assert all(os.path.isdir(d) for d in old_dirs)
    removed = cli.cmd_vacuum({"out_dir": out}, keep_versions=1)
    assert old_dirs <= set(removed)
    for t, rows in rows_before.items():
        assert sorted(map(tuple, read_snapshot(spark, out, t).collect())) == rows
    # nothing left to compact
    assert cli.cmd_compact(spark, {"out_dir": out}) == {}


def test_compact_merges_fragments_to_one_per_range(spark, chain_dirs, tmp_path):
    # Passes of 10 blocks append two fragments to each 20-block range;
    # `status` counts them and `compact` folds each range back into one
    # fragment without changing the committed rows.
    import logging

    from helium_etl_lite_spark.etl.snapshot import read_snapshot

    bp, tp, _ = chain_dirs
    out = str(tmp_path / "out")
    cfg = cli.load_config(
        write_config(
            tmp_path / "s.toml", bp, tp, out, mode="full", backfill=True,
            block_range_size=20, max_blocks_per_batch=10,
        )
    )
    assert cli.cmd_once(spark, cfg) == 60
    log = logging.getLogger("t")
    before = cli.cmd_status({"out_dir": out}, log=log)["tables"]
    # payments land in every pass; rewards only at the epoch blocks
    assert (before["transactions"]["n_partitions"], before["transactions"]["n_fragments"]) == (3, 6)
    rows = {
        t: sorted(map(tuple, read_snapshot(spark, out, t).collect()))
        for t in ("rewards", "transactions")
    }
    assert cli.cmd_compact(spark, {"out_dir": out})
    after = cli.cmd_status({"out_dir": out}, log=log)["tables"]
    assert (after["transactions"]["n_partitions"], after["transactions"]["n_fragments"]) == (3, 3)
    for table in ("rewards", "transactions"):
        assert after[table]["n_fragments"] == after[table]["n_partitions"]
        assert sorted(map(tuple, read_snapshot(spark, out, table).collect())) == rows[table]


def test_sql_at_version_time_travels_atomic_sink(spark, chain_dirs, tmp_path, capsys):
    # --at-version on an atomic sink serves the historical snapshot; v1
    # keeps its row count after a superseding commit, and a vacuumed
    # version errors clearly.
    import pytest as _pytest

    from helium_etl_lite_spark.etl.snapshot import SnapshotStore

    bp, tp, _ = chain_dirs
    out = str(tmp_path / "out")
    cfg_path = write_config(
        tmp_path / "s.toml", bp, tp, out, mode="rewards", backfill=True,
        block_range_size=20,
    )
    cfg = cli.load_config(cfg_path)
    cli.cmd_once(spark, cfg)
    v1 = SnapshotStore(out).current()["version"]
    n_v1 = cli.cmd_sql(spark, cfg, "SELECT COUNT(*) AS n FROM rewards")
    f = cli._follower(cfg)
    f._commit_range(1000, 1059, SnapshotStore(out).current()["first_block"])
    capsys.readouterr()
    n_tt = cli.cmd_sql(
        spark, cfg, "SELECT block, gateway FROM rewards ORDER BY block", at_version=v1
    )
    assert n_tt > 0
    cli.cmd_vacuum({"out_dir": out}, keep_versions=1)
    with _pytest.raises(ValueError, match="no snapshot version"):
        cli.cmd_sql(spark, cfg, "SELECT 1", at_version=v1)


def test_sql_changes_since_registers_cdc_views(spark, tmp_path, capsys):
    # --changes-since N registers <table>_changes views: the CDC feed
    # between snapshot N and the served version, with _change_type.
    import logging

    import pyspark.sql.functions as F

    from helium_etl_lite_spark.etl.snapshot import commit_batch_atomic

    out = str(tmp_path / "out")
    b1 = spark.range(0, 50).select(
        F.col("id").alias("block"), (F.col("id") * 1.0).alias("amount")
    )
    commit_batch_atomic(
        spark, out, {"rewards": b1}, 0, 49, 49, 0, heights=b1.select("block")
    )
    # v2: replace block 7 (new amount), drop block 9
    claimed = spark.createDataFrame([(7,), (9,)], "block long")
    b2 = spark.createDataFrame([(7, -7.0)], "block long, amount double")
    commit_batch_atomic(spark, out, {"rewards": b2}, 0, 49, 49, 0, heights=claimed)

    n = cli.cmd_sql(
        spark,
        {"out_dir": out},
        "SELECT block, _change_type FROM rewards_changes "
        "ORDER BY block, _change_type",
        log=logging.getLogger("test"),
        changes_since=1,
    )
    assert n == 3  # delete(7) + insert(7) + delete(9)
    printed = capsys.readouterr().out
    assert "insert" in printed and "delete" in printed

    # --key-cols upgrades the view to the KEYED feed: block 7's change
    # pairs as update_preimage/update_postimage, block 9 stays a delete
    n = cli.cmd_sql(
        spark,
        {"out_dir": out},
        "SELECT block, _change_type FROM rewards_changes "
        "ORDER BY block, _change_type",
        log=logging.getLogger("test"),
        changes_since=1,
        change_key_cols=["block"],
    )
    assert n == 3
    printed = capsys.readouterr().out
    assert "update_preimage" in printed and "update_postimage" in printed
    assert printed.count("delete") == 1
    assert "insert" not in printed.replace("update_postimage", "")

    # a key column the table lacks: falls back to the plain feed
    n = cli.cmd_sql(
        spark,
        {"out_dir": out},
        "SELECT _change_type FROM rewards_changes ORDER BY 1",
        log=logging.getLogger("test"),
        changes_since=1,
        change_key_cols=["no_such_col"],
    )
    assert n == 3
    printed = capsys.readouterr().out
    assert "update_preimage" not in printed

    # no snapshot store: clear error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no snapshot store"):
        cli.cmd_sql(
            spark, {"out_dir": str(tmp_path / "nosnap")}, "SELECT 1",
            log=logging.getLogger("test"), changes_since=1,
        )


def test_status_reports_the_snapshot_store(spark, chain_dirs, tmp_path, capsys):
    # `status` works WITHOUT a SparkSession: everything comes from the
    # manifest.
    import logging

    bp, tp, _ = chain_dirs
    out = str(tmp_path / "out")
    cfg = cli.load_config(
        write_config(
            tmp_path / "s.toml", bp, tp, out, mode="rewards",
            backfill=True, block_range_size=20,
        )
    )
    cli.cmd_once(spark, cfg)
    capsys.readouterr()
    st = cli.cmd_status({"out_dir": out}, log=logging.getLogger("t"))
    assert st["height"] == 1059 and st["first_block"] == 1000
    assert st["snapshot_version"] >= 1
    assert st["tables"]["rewards"]["n_files"] >= 1
    assert st["tables"]["rewards"]["n_bytes"] > 0
    printed = capsys.readouterr().out
    assert '"height": 1059' in printed
