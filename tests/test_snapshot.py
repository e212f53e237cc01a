"""Snapshot-manifest atomic sink (etl/snapshot.py): data + cursor must
commit in ONE atomic publish — the reference's per-block Postgres
transaction (src/follower.rs:100, src/block_processor.rs:44-47) as a
manifest swap. Pins: crash atomicity (nothing before the CURRENT swap
is visible), replay convergence, metadata-only deletes, vacuum safety,
and follower/serving integration."""

from __future__ import annotations

import pytest

# r15 heavy lane: snapshot-store integration (234 s) on the r15 sandbox — runs with
# SPARK_GRAFT_TEST_LANE=full (or -m heavy); see tests/conftest.py.
pytestmark = pytest.mark.heavy

import os

from pyspark.sql import functions as F

from helium_etl_lite_spark.etl import fixtures
from helium_etl_lite_spark.etl.pipeline import FollowerConfig, IncrementalFollower
from helium_etl_lite_spark.etl.snapshot import (
    SnapshotStore,
    commit_batch_atomic,
    read_snapshot,
)


def _spans(m, table):
    # each range's fragments as [version, block_lo, block_hi], without
    # the recorded byte size (test_fold.py checks that)
    return {r: [f[:3] for f in frags] for r, frags in m["tables"][table].items()}


def _df(spark, blocks, v=None):
    return spark.createDataFrame(
        [(b, (v if v is not None else b * 10.0)) for b in blocks], "block long, v double"
    )


class TestCommitProtocol:
    def test_two_commits_merge(self, spark, tmp_path):
        root = str(tmp_path / "s1")
        commit_batch_atomic(
            spark, root, {"t": _df(spark, range(20))}, 0, 19, height=19, first_block=0,
            range_size=10,
        )
        m = commit_batch_atomic(
            spark, root, {"t": _df(spark, range(20, 25))}, 20, 24, height=24,
            first_block=0, range_size=10,
        )
        assert m["version"] == 2 and m["height"] == 24
        got = read_snapshot(spark, root, "t")
        assert got.count() == 25
        # untouched ranges keep v1's fragments, the new range gets v2's
        assert _spans(m, "t")["0"] == [[1, 0, 9]] and _spans(m, "t")["2"] == [[2, 20, 24]]

    def test_replay_overwrites_claimed_blocks(self, spark, tmp_path):
        root = str(tmp_path / "s2")
        commit_batch_atomic(
            spark, root, {"t": _df(spark, range(20))}, 0, 19, height=19, first_block=0,
            range_size=10,
        )
        commit_batch_atomic(
            spark, root, {"t": _df(spark, range(5, 15), v=-1.0)}, 5, 14, height=19,
            first_block=0, range_size=10,
        )
        got = read_snapshot(spark, root, "t")
        assert got.count() == 20
        assert got.where(F.col("v") == -1.0).count() == 10
        assert got.where((F.col("block") == 4) & (F.col("v") == 40.0)).count() == 1
        assert got.where((F.col("block") == 15) & (F.col("v") == 150.0)).count() == 1

    def test_crash_before_publish_invisible_and_replay_converges(self, spark, tmp_path):
        # Simulate the crash window: data files written for the next
        # version but the manifest never published. Readers must see the
        # old snapshot — data AND cursor — then replay must converge.
        root = str(tmp_path / "s3")
        commit_batch_atomic(
            spark, root, {"t": _df(spark, range(10))}, 0, 9, height=9, first_block=0,
            range_size=10,
        )
        # orphan v=2 data, as if we crashed before publish()
        orphan = _df(spark, range(10, 20), v=-9.0).withColumn(
            "block_range", F.floor(F.col("block") / 10).cast("long")
        )
        orphan.write.mode("overwrite").partitionBy("block_range").parquet(
            os.path.join(root, "t", "v=2")
        )
        m = SnapshotStore(root).current()
        assert m["version"] == 1 and m["height"] == 9  # cursor did NOT advance
        assert read_snapshot(spark, root, "t").count() == 10  # orphan invisible
        # replay the batch: same version number, orphan dir overwritten
        m2 = commit_batch_atomic(
            spark, root, {"t": _df(spark, range(10, 20))}, 10, 19, height=19,
            first_block=0, range_size=10,
        )
        assert m2["version"] == 2
        got = read_snapshot(spark, root, "t")
        assert got.count() == 20
        assert got.where(F.col("v") == -9.0).count() == 0

    def test_emptied_range_is_metadata_delete(self, spark, tmp_path):
        root = str(tmp_path / "s4")
        commit_batch_atomic(
            spark, root, {"t": _df(spark, range(20))}, 0, 19, height=19, first_block=0,
            range_size=10,
        )
        empty = spark.createDataFrame([], "block long, v double")
        m = commit_batch_atomic(
            spark, root, {"t": empty}, 10, 19, height=19, first_block=0, range_size=10,
        )
        assert "1" not in m["tables"]["t"]
        assert read_snapshot(spark, root, "t").count() == 10
        # the old files still exist (vacuum's job, not commit's)
        assert os.path.isdir(os.path.join(root, "t", "v=1", "block_range=1"))

    def test_height_set_claim(self, spark, tmp_path):
        root = str(tmp_path / "s5")
        commit_batch_atomic(
            spark, root, {"t": _df(spark, range(30))}, 0, 29, height=29, first_block=0,
            range_size=10,
        )
        heights = spark.createDataFrame([(3,), (27,)], "block long")
        commit_batch_atomic(
            spark, root, {"t": _df(spark, [3, 27], v=-3.0)}, 3, 27, height=29,
            first_block=0, range_size=10, heights=heights,
        )
        got = read_snapshot(spark, root, "t")
        assert got.count() == 30
        assert got.where(F.col("v") == -3.0).count() == 2
        # gap blocks inside the span survive (height-SET, not span, claim)
        assert got.where((F.col("block") == 15) & (F.col("v") == 150.0)).count() == 1

    def test_vacuum_removes_unreferenced_keeps_referenced(self, spark, tmp_path):
        root = str(tmp_path / "s6")
        commit_batch_atomic(
            spark, root, {"t": _df(spark, range(10))}, 0, 9, height=9, first_block=0,
            range_size=10,
        )
        commit_batch_atomic(
            spark, root, {"t": _df(spark, range(10), v=-1.0)}, 0, 9, height=9,
            first_block=0, range_size=10,
        )
        commit_batch_atomic(
            spark, root, {"t": _df(spark, range(10), v=-2.0)}, 0, 9, height=9,
            first_block=0, range_size=10,
        )
        removed = SnapshotStore(root).vacuum(keep_versions=1)
        # v1 and v2 fully superseded by v3 → both data dirs removed
        assert os.path.join(root, "t", "v=1") in removed
        assert os.path.join(root, "t", "v=2") in removed
        assert read_snapshot(spark, root, "t").where(F.col("v") == -2.0).count() == 10

    def test_vacuum_keeps_mixed_ownership(self, spark, tmp_path):
        root = str(tmp_path / "s7")
        commit_batch_atomic(
            spark, root, {"t": _df(spark, range(20))}, 0, 19, height=19, first_block=0,
            range_size=10,
        )
        commit_batch_atomic(
            spark, root, {"t": _df(spark, range(10, 20), v=-1.0)}, 10, 19, height=19,
            first_block=0, range_size=10,
        )
        removed = SnapshotStore(root).vacuum(keep_versions=1)
        # v1 still owns range 0 → must NOT be vacuumed
        assert removed == []
        got = read_snapshot(spark, root, "t")
        assert got.count() == 20


    def test_append_opens_no_earlier_data(self, spark, tmp_path):
        # The steady-state tick: a claim wholly above every fragment of
        # its range appends a fragment of its own rows without opening
        # an earlier one — it commits with the earlier v-dirs gone.
        root = str(tmp_path / "s8")
        aside = tmp_path / "aside"
        aside.mkdir()
        commit_batch_atomic(
            spark, root, {"t": _df(spark, range(20))}, 0, 19, height=19, first_block=0,
            range_size=100,
        )
        os.rename(os.path.join(root, "t", "v=1"), aside / "v=1")
        m = commit_batch_atomic(
            spark, root, {"t": _df(spark, range(20, 25))}, 20, 24, height=24,
            first_block=0, range_size=100,
        )
        assert _spans(m, "t") == {"0": [[1, 0, 19], [2, 20, 24]]}
        os.rename(aside / "v=1", os.path.join(root, "t", "v=1"))
        got = read_snapshot(spark, root, "t")
        assert sorted(r["block"] for r in got.collect()) == list(range(25))

        # A contiguous replay wholly covering a fragment drops it from
        # the manifest unread; the disjoint fragment stays unread too.
        for v in ("v=1", "v=2"):
            os.rename(os.path.join(root, "t", v), aside / v)
        m = commit_batch_atomic(
            spark, root, {"t": _df(spark, range(20, 25), v=-1.0)}, 20, 24, height=24,
            first_block=0, range_size=100,
        )
        assert _spans(m, "t") == {"0": [[1, 0, 19], [3, 20, 24]]}
        for v in ("v=1", "v=2"):
            os.rename(aside / v, os.path.join(root, "t", v))
        got = read_snapshot(spark, root, "t")
        assert got.count() == 25
        assert sorted(r["block"] for r in got.where(F.col("v") == -1.0).collect()) == list(
            range(20, 25)
        )

    def test_partial_replay_merges_survivors_into_one_fragment(self, spark, tmp_path):
        root = str(tmp_path / "s9")
        for a, b in ((0, 9), (10, 19)):
            commit_batch_atomic(
                spark, root, {"t": _df(spark, range(a, b + 1))}, a, b, height=b,
                first_block=0, range_size=100,
            )
        m = commit_batch_atomic(
            spark, root, {"t": _df(spark, range(5, 10), v=-1.0)}, 5, 9, height=19,
            first_block=0, range_size=100,
        )
        # [0, 9] is partly overlapped: read, its blocks 0-4 carried into
        # the new fragment; [10, 19] misses the claim and stays
        assert _spans(m, "t") == {"0": [[2, 10, 19], [3, 0, 9]]}
        got = read_snapshot(spark, root, "t")
        assert got.count() == 20
        assert got.where(F.col("v") == -1.0).count() == 5


class TestFollowerAtomic:
    @pytest.mark.parametrize("mode", ["full", "filters"])
    def test_follower_end_to_end_matches_build_outputs(self, spark, land, tmp_path, mode):
        from helium_etl_lite_spark.etl.transforms import build_outputs

        blocks, txns = fixtures.make_chain(spark, first_block=1000, n_blocks=60)
        filters = fixtures.make_filters(spark) if mode == "filters" else None
        out_dir = str(tmp_path / "out")
        IncrementalFollower(
            land(blocks, txns, tmp_path),
            FollowerConfig(mode=mode, out_dir=out_dir, block_range_size=20, backfill=True),
            filters=None if filters is None else filters.toArrow(),
        ).catch_up()
        want = build_outputs(mode, blocks, txns, filters)
        key = ["block", "transaction_hash", "gateway", "account", "amount"]
        want_rewards = sorted(map(tuple, want["rewards"].select(*key).collect()))
        assert want_rewards  # the filters pick some rewards, not none
        assert want_rewards == sorted(
            map(tuple, read_snapshot(spark, out_dir, "rewards").select(*key).collect())
        )
        got_txns = read_snapshot(spark, out_dir, "transactions")
        if mode == "full":
            assert got_txns.count() == want["transactions"].count()
        else:
            assert got_txns is None
        m = SnapshotStore(out_dir).current()
        assert m["height"] == 1059 and m["first_block"] == 1000

    def test_follower_atomic_incremental_batches(self, spark, land, tmp_path):
        blocks, txns = fixtures.make_chain(spark, first_block=1000, n_blocks=60)
        out_dir = str(tmp_path / "inc")
        f = IncrementalFollower(
            land(blocks, txns, tmp_path),
            FollowerConfig(mode="rewards", out_dir=out_dir, block_range_size=20,
                           max_blocks_per_batch=25, backfill=True),
        )
        f.catch_up()
        m = SnapshotStore(out_dir).current()
        assert m["height"] == 1059
        # one seed publish + ceil(60/25)=3 batch commits
        assert m["version"] == 4
        got = read_snapshot(spark, out_dir, "rewards")
        from helium_etl_lite_spark.etl.transforms import build_outputs

        expected = build_outputs("rewards", blocks, txns)["rewards"].count()
        assert got.count() == expected

    def test_audit_observed_on_the_write_matches_read_back(self, spark, land, tmp_path):
        # The audit counters of each pass equal a read-back of the
        # committed slice, and a pass with no reward rows reports
        # explicit zeros.
        from helium_etl_lite_spark.etl.schemas import SENTINEL

        blocks, txns = fixtures.make_chain(spark, first_block=1000, n_blocks=90)
        out_dir = str(tmp_path / "audit")
        f = IncrementalFollower(
            land(blocks, txns, tmp_path),
            FollowerConfig(mode="full", out_dir=out_dir, block_range_size=20,
                           backfill=True),
        )
        f.init_cursor()
        f._commit_range(1001, 1019, 1000)  # rewards land only on epoch blocks
        assert f.last_audit == {"n_rewards": 0, "amount_total": 0, "sentinel_accounts": 0}
        for lo, hi in ((1020, 1049), (1050, 1089)):
            f._commit_range(lo, hi, 1000)
            want = (
                read_snapshot(spark, out_dir, "rewards")
                .where(F.col("block").between(lo, hi))
                .agg(
                    F.count(F.lit(1)).alias("n_rewards"),
                    F.coalesce(F.sum("amount"), F.lit(0)).alias("amount_total"),
                    F.coalesce(
                        F.sum(F.when(F.col("account") == SENTINEL, 1).otherwise(0)), F.lit(0)
                    ).alias("sentinel_accounts"),
                )
                .first()
                .asDict()
            )
            assert want["n_rewards"] > 0
            assert f.last_audit == want

    def test_serving_views_read_snapshot(self, spark, land, tmp_path):
        from helium_etl_lite_spark import serving

        blocks, txns = fixtures.make_chain(spark, first_block=1000, n_blocks=40)
        out_dir = str(tmp_path / "serve")
        IncrementalFollower(
            land(blocks, txns, tmp_path),
            FollowerConfig(mode="full", out_dir=out_dir, block_range_size=20,
                           backfill=True),
        ).catch_up()
        views = serving.register_views(spark, out_dir)
        assert set(views) == {"rewards", "transactions", "follower_info"}
        fi = views["follower_info"].collect()
        assert fi[0]["height"] == 1039
        assert spark.sql("SELECT COUNT(*) c FROM rewards").collect()[0]["c"] > 0


def test_time_travel_old_version_stable_until_vacuum(spark, tmp_path):
    import pyspark.sql.functions as F

    from helium_etl_lite_spark.etl.snapshot import (
        SnapshotStore,
        commit_batch_atomic,
        read_snapshot,
    )

    root = str(tmp_path / "snap")
    b1 = spark.range(0, 10).select(F.col("id").alias("block"), (F.col("id") * 2).alias("v"))
    b2 = spark.range(10, 20).select(F.col("id").alias("block"), (F.col("id") * 2).alias("v"))
    commit_batch_atomic(spark, root, {"t": b1}, 0, 9, 9, 0, heights=b1.select("block"))
    v1_before = read_snapshot(spark, root, "t", version=1).orderBy("block").collect()
    commit_batch_atomic(spark, root, {"t": b2}, 10, 19, 19, 0, heights=b2.select("block"))

    # v1 is byte-identical after the second commit (immutable manifest,
    # append-only data); v2 sees both batches.
    v1_after = read_snapshot(spark, root, "t", version=1).orderBy("block").collect()
    assert v1_after == v1_before
    assert read_snapshot(spark, root, "t", version=2).count() == 20
    # CURRENT == v2
    assert read_snapshot(spark, root, "t").count() == 20

    # a missing version reads as None, and vacuum(keep=1) drops v1
    assert read_snapshot(spark, root, "t", version=99) is None
    SnapshotStore(root).vacuum(keep_versions=1)
    assert read_snapshot(spark, root, "t", version=1) is None


def test_publish_detects_concurrent_writer_and_tolerates_replay(spark, tmp_path):
    import pyspark.sql.functions as F
    import pytest as _pytest

    from helium_etl_lite_spark.etl.snapshot import (
        ConcurrentSnapshotWriteError,
        SnapshotStore,
        commit_batch_atomic,
        read_snapshot,
    )

    root = str(tmp_path / "snap")
    b = spark.range(0, 5).select(F.col("id").alias("block"), F.col("id").alias("v"))
    commit_batch_atomic(spark, root, {"t": b}, 0, 4, 4, 0, heights=b.select("block"))
    store = SnapshotStore(root)
    m1 = store.current()

    # identical replay of the same version: idempotent, no error
    store.publish(m1)
    assert store.current_version() == m1["version"]

    # a different manifest claiming the SAME version: hard failure
    rogue = dict(m1)
    rogue["height"] = 999
    with _pytest.raises(ConcurrentSnapshotWriteError):
        store.publish(rogue)
    # and the store is unchanged
    assert store.current()["height"] == m1["height"]
    assert read_snapshot(spark, root, "t").count() == 5


def test_publish_recovers_orphan_manifest_beyond_current(spark, tmp_path):
    # Crash window: manifest N linked but CURRENT never written, and the
    # replayed commit carries DIFFERENT content (tip advanced). The
    # orphan was never reader-visible, so the replay must overwrite it
    # and make progress — not wedge on ConcurrentSnapshotWriteError.
    import os

    import pyspark.sql.functions as F

    from helium_etl_lite_spark.etl.snapshot import (
        SnapshotStore,
        commit_batch_atomic,
        read_snapshot,
    )

    root = str(tmp_path / "snap")
    b1 = spark.range(0, 5).select(F.col("id").alias("block"), F.col("id").alias("v"))
    commit_batch_atomic(spark, root, {"t": b1}, 0, 4, 4, 0, heights=b1.select("block"))
    store = SnapshotStore(root)
    # simulate the crash: hand-plant an orphan manifest v2 with content
    # that the retry will NOT reproduce, without touching CURRENT
    orphan = dict(store.current())
    orphan["version"] = 2
    orphan["height"] = 123456  # junk the retry won't produce
    import json as _json

    with open(store._manifest_path(2), "w") as f:
        _json.dump(orphan, f)
    # age the orphan past the grace window (a real crash-restart takes
    # longer than ORPHAN_GRACE_SECONDS; see the TOCTOU test below for
    # the young-claim case)
    old = os.path.getmtime(store._manifest_path(2)) - 3600
    os.utime(store._manifest_path(2), (old, old))
    assert store.current_version() == 1  # CURRENT untouched

    b2 = spark.range(5, 12).select(F.col("id").alias("block"), F.col("id").alias("v"))
    commit_batch_atomic(spark, root, {"t": b2}, 5, 11, 11, 0, heights=b2.select("block"))
    assert store.current_version() == 2
    assert store.current()["height"] == 11
    assert read_snapshot(spark, root, "t").count() == 12


def test_publish_young_conflicting_claim_raises_not_clobbers(spark, tmp_path):
    # The r6 ADVICE TOCTOU: writer A links manifest N but has not yet
    # swapped CURRENT when writer B (same N, different content) arrives.
    # B must NOT overwrite A's manifest just because CURRENT looks
    # behind — a claim younger than the grace window raises, and A's
    # content survives. An IDENTICAL young replay still passes through.
    import json as _json

    import pyspark.sql.functions as F
    import pytest as _pytest

    from helium_etl_lite_spark.etl.snapshot import (
        ConcurrentSnapshotWriteError,
        SnapshotStore,
        commit_batch_atomic,
    )

    root = str(tmp_path / "snap")
    b1 = spark.range(0, 5).select(F.col("id").alias("block"), F.col("id").alias("v"))
    commit_batch_atomic(spark, root, {"t": b1}, 0, 4, 4, 0, heights=b1.select("block"))
    store = SnapshotStore(root)

    # writer A mid-commit: manifest v2 linked, CURRENT still at 1
    a_manifest = dict(store.current())
    a_manifest["version"] = 2
    a_manifest["height"] = 77
    with open(store._manifest_path(2), "w") as f:
        _json.dump(a_manifest, f, indent=1, sort_keys=True)
    assert store.current_version() == 1

    # writer B races with different content for v2: must raise, not clobber
    b_manifest = dict(a_manifest)
    b_manifest["height"] = 88
    with _pytest.raises(ConcurrentSnapshotWriteError):
        store.publish(b_manifest)
    with open(store._manifest_path(2)) as f:
        assert _json.load(f)["height"] == 77  # A's manifest intact

    # A's own replay (identical content) completes the commit
    store.publish(a_manifest)
    assert store.current_version() == 2
    assert store.current()["height"] == 77


def test_read_changes_prunes_unchanged_partitions(spark, tmp_path):
    # CDC is metadata-first: v1 lands 5 block_ranges, v2 churns only
    # range 0 — the diff must read ONLY range-0 files (inputFiles), and
    # the feed is exactly the replaced row's delete+insert pair.
    import pyspark.sql.functions as F

    from helium_etl_lite_spark.etl.snapshot import (
        commit_batch_atomic,
        read_changes,
    )

    root = str(tmp_path / "snap")
    b1 = spark.range(0, 5000).select(
        F.col("id").alias("block"), (F.col("id") * 1.0).alias("v")
    )
    commit_batch_atomic(
        spark, root, {"t": b1}, 0, 4999, 4999, 0, heights=b1.select("block")
    )
    b2 = spark.createDataFrame([(10, -1.0)], "block long, v double")
    commit_batch_atomic(
        spark, root, {"t": b2}, 0, 4999, 4999, 0, heights=b2.select("block")
    )
    diff = read_changes(spark, root, "t", 1, 2)
    got = {(r["block"], r["v"], r["_change_type"]) for r in diff.collect()}
    assert got == {(10, -1.0, "insert"), (10, 10.0, "delete")}
    files = diff.inputFiles()
    assert files and all("block_range=0" in f for f in files), files


def test_read_changes_empty_and_error_cases(spark, tmp_path):
    import pyspark.sql.functions as F
    import pytest as _pytest

    from helium_etl_lite_spark.etl.snapshot import (
        commit_batch_atomic,
        read_changes,
    )

    root = str(tmp_path / "snap")
    b1 = spark.range(0, 20).select(
        F.col("id").alias("block"), (F.col("id") * 1.0).alias("v")
    )
    commit_batch_atomic(
        spark, root, {"t": b1}, 0, 19, 19, 0, heights=b1.select("block")
    )
    # same endpoints: empty feed, schema stable (+_change_type)
    same = read_changes(spark, root, "t", 1, 1)
    assert same.count() == 0
    assert "_change_type" in same.columns
    # v_to defaults to CURRENT
    assert read_changes(spark, root, "t", 1).count() == 0
    # unknown table -> None; missing versions / inverted range -> raise
    assert read_changes(spark, root, "nope", 1, 1) is None
    with _pytest.raises(ValueError, match="no snapshot version"):
        read_changes(spark, root, "t", 1, 99)
    with _pytest.raises(ValueError, match="newer than"):
        # plant both manifests so the order check itself is what fires
        commit_batch_atomic(
            spark, root, {"t": b1.limit(1)}, 0, 19, 19, 0,
            heights=b1.limit(1).select("block"),
        )
        read_changes(spark, root, "t", 2, 1)


def test_read_changes_from_version_zero_is_the_snapshot_as_inserts(spark, tmp_path):
    # Version 0 is the empty store before the first commit: the feed
    # from it is the whole table at v_to, every row an insert — a new
    # consumer's bootstrap — and register_views(changes_since=0) serves
    # it as <table>_changes.
    from helium_etl_lite_spark import serving
    from helium_etl_lite_spark.etl.snapshot import read_changes

    root = str(tmp_path / "snap")
    b1 = spark.range(0, 30).select(
        F.col("id").alias("block"), (F.col("id") % 7 * 1.0).alias("amount")
    )
    commit_batch_atomic(
        spark, root, {"rewards": b1}, 0, 29, 29, 0, heights=b1.select("block")
    )
    claimed = spark.createDataFrame([(5,), (6,), (40,)], "block long")
    b2 = spark.createDataFrame([(5, 99.0), (40, 1.0)], "block long, amount double")
    commit_batch_atomic(spark, root, {"rewards": b2}, 0, 40, 40, 0, heights=claimed)

    def rows(df):
        return sorted((r["block"], r["amount"]) for r in df.collect())

    for v in (1, 2):
        feed = read_changes(spark, root, "rewards", 0, v)
        assert {r["_change_type"] for r in feed.collect()} == {"insert"}
        want = read_snapshot(spark, root, "rewards", version=v)
        assert rows(feed) == rows(want)
    views = serving.register_views(spark, root, changes_since=0)
    assert rows(views["rewards_changes"]) == rows(views["rewards"])
    served = spark.sql(
        "SELECT DISTINCT _change_type FROM rewards_changes"
    ).collect()
    assert [r["_change_type"] for r in served] == ["insert"]


def test_publish_replay_of_old_version_never_rolls_current_back(spark, tmp_path):
    # Review find: an identical-content replay of manifest N arriving
    # AFTER the store advanced to N+1 must be a no-op — not rewind
    # CURRENT (hiding the newer commit and poisoning the next writer's
    # version computation).
    import pyspark.sql.functions as F

    from helium_etl_lite_spark.etl.snapshot import (
        SnapshotStore,
        commit_batch_atomic,
        read_snapshot,
    )

    root = str(tmp_path / "snap")
    b1 = spark.range(0, 10).select(F.col("id").alias("block"), (F.col("id") * 1.0).alias("v"))
    commit_batch_atomic(spark, root, {"t": b1}, 0, 9, 9, 0, heights=b1.select("block"))
    store = SnapshotStore(root)
    m1 = store.current()
    b2 = spark.range(10, 15).select(F.col("id").alias("block"), (F.col("id") * 1.0).alias("v"))
    commit_batch_atomic(spark, root, {"t": b2}, 10, 14, 14, 0, heights=b2.select("block"))
    assert store.current_version() == 2

    store.publish(m1)  # delayed replay of v1 (identical content)
    assert store.current_version() == 2  # tip NOT rolled back
    assert read_snapshot(spark, root, "t").count() == 15


def test_compaction_produces_empty_change_feed(spark, tmp_path):
    # Maintenance must be invisible to CDC consumers: compact rewrites
    # partitions into a NEW snapshot version with identical logical
    # rows, so read_changes across the compaction boundary must emit
    # NOTHING (the manifest diff sees churned partitions, reads them,
    # and the multiset diff cancels exactly).
    import pyspark.sql.functions as F

    from helium_etl_lite_spark import cli
    from helium_etl_lite_spark.etl.snapshot import (
        SnapshotStore,
        commit_batch_atomic,
        read_changes,
    )

    root = str(tmp_path / "out")
    b = spark.range(0, 200).select(
        F.col("id").alias("block"), (F.col("id") * 1.0).alias("amount")
    )
    # two fragments in each range: its lower half, then its upper half
    for half in (b.where(F.col("block") % 50 < 25), b.where(F.col("block") % 50 >= 25)):
        commit_batch_atomic(
            spark, root, {"rewards": half}, 0, 199, 199, 0,
            heights=half.select("block"), range_size=50,
        )
    store = SnapshotStore(root)
    assert all(len(frags) == 2 for frags in store.current()["tables"]["rewards"].values())
    v1 = store.current_version()
    cli.cmd_compact(spark, {"out_dir": root})
    v2 = SnapshotStore(root).current_version()
    assert v2 == v1 + 1  # compaction published a new version
    feed = read_changes(spark, root, "rewards", v1, v2)
    assert feed.count() == 0


def test_keyed_feed_pairs_updates_and_apply_reproduces_v2(spark, tmp_path):
    # r9 verdict item 5: with key_cols, an in-place change emits
    # update_preimage/update_postimage; pure inserts/deletes keep their
    # tags; and applying the keyed feed to v1 with UPDATE semantics
    # (remove deleted + updated keys, add inserts + postimages)
    # reproduces v2 exactly through an update-heavy batch.
    import pyspark.sql.functions as F

    from helium_etl_lite_spark.etl.snapshot import (
        commit_batch_atomic,
        read_changes,
        read_snapshot,
    )

    root = str(tmp_path / "snap")
    b1 = spark.range(0, 100).select(
        F.col("id").alias("block"), (F.col("id") * 1.0).alias("v")
    )
    commit_batch_atomic(
        spark, root, {"t": b1}, 0, 99, 99, 0, heights=b1.select("block")
    )
    # update-heavy batch: claim 0..59 — re-emit 0..39 changed (update),
    # 40..59 dropped (delete) — plus NEW keys 100..109 (insert).
    b2 = (
        spark.range(0, 40)
        .select(
            F.col("id").alias("block"), (F.col("id") * -2.0 - 1.0).alias("v")
        )
        .unionByName(
            spark.range(100, 110).select(
                F.col("id").alias("block"), F.lit(7.0).alias("v")
            )
        )
    )
    claimed = spark.range(0, 60).select(F.col("id").alias("block")).unionByName(
        spark.range(100, 110).select(F.col("id").alias("block"))
    )
    commit_batch_atomic(
        spark, root, {"t": b2}, 0, 109, 109, 0, heights=claimed
    )
    feed = read_changes(spark, root, "t", 1, 2, key_cols=["block"])
    by_type = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    assert by_type == {
        "update_preimage": 40,
        "update_postimage": 40,
        "delete": 20,
        "insert": 10,
    }, by_type
    # postimages carry the NEW value (all negative), preimages the OLD
    post = feed.where(F.col("_change_type") == "update_postimage")
    assert post.where(F.col("v") >= 0).count() == 0
    pre = feed.where(F.col("_change_type") == "update_preimage")
    assert pre.where(F.col("v") < 0).count() == 0
    # apply with update semantics: v1 minus (deleted + updated keys),
    # plus inserts + postimages == v2
    v1 = read_snapshot(spark, root, "t", version=1).select("block", "v")
    v2 = read_snapshot(spark, root, "t", version=2).select("block", "v")
    gone = feed.where(
        F.col("_change_type").isin("delete", "update_preimage")
    ).select("block")
    add = feed.where(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select("block", "v")
    applied = v1.join(gone, "block", "left_anti").unionByName(add)
    assert applied.exceptAll(v2).count() == 0
    assert v2.exceptAll(applied).count() == 0
    # default feed (key_cols=None) is unchanged: updates stay
    # delete+insert pairs
    plain = read_changes(spark, root, "t", 1, 2)
    plain_types = {
        r["_change_type"]: r["n"]
        for r in plain.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    assert plain_types == {"insert": 50, "delete": 60}
    # bad key column fails loud
    import pytest as _pytest

    with _pytest.raises(ValueError, match="key_cols"):
        read_changes(spark, root, "t", 1, 2, key_cols=["nope"])


def test_keyed_feed_pairs_null_keys(spark, tmp_path):
    # review find: a NULL-keyed in-place change must pair as an update
    # (null-safe joins), not fall through as insert+delete.
    import pyspark.sql.functions as F

    from helium_etl_lite_spark.etl.snapshot import (
        commit_batch_atomic,
        read_changes,
    )

    root = str(tmp_path / "snap")
    b1 = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.0), (3, "c", 3.0)],
        "block long, k string, v double",
    )
    commit_batch_atomic(
        spark, root, {"t": b1}, 0, 3, 3, 0, heights=b1.select("block")
    )
    # claim all three; re-emit the NULL-keyed row changed, drop block 3,
    # keep block 1 identical (re-emitted, so not in the diff at all)
    b2 = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, -2.0)], "block long, k string, v double"
    )
    commit_batch_atomic(
        spark, root, {"t": b2}, 0, 3, 3, 0, heights=b1.select("block")
    )
    feed = read_changes(spark, root, "t", 1, 2, key_cols=["k"])
    got = {
        (r["k"], r["v"], r["_change_type"]) for r in feed.collect()
    }
    assert got == {
        (None, 2.0, "update_preimage"),
        (None, -2.0, "update_postimage"),
        ("c", 3.0, "delete"),
    }, got
