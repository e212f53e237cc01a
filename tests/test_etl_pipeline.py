"""Pipeline-parity tests (SURVEY §5.3): fixture chain → all three modes
→ golden semantics; kill-and-resume idempotence; cursor monotonicity;
backfill epoch walk."""

from __future__ import annotations

import pytest

# r15 heavy lane: follower-pipeline integration (133 s) on the r15 sandbox — runs with
# SPARK_GRAFT_TEST_LANE=full (or -m heavy); see tests/conftest.py.
pytestmark = pytest.mark.heavy

import json
import os

from pyspark.sql import functions as F

from helium_etl_lite_spark.etl import fixtures, transforms
from helium_etl_lite_spark.etl.pipeline import (
    FollowerConfig,
    IncrementalFollower,
    backfill_epoch_walk,
)
from helium_etl_lite_spark.etl.schemas import SENTINEL
from helium_etl_lite_spark.etl.snapshot import SnapshotStore, read_snapshot
from helium_etl_lite_spark.sources.block_source import LandedBlockSource


@pytest.fixture(scope="module")
def chain(spark):
    return fixtures.make_chain(spark, first_block=1000, n_blocks=120)


@pytest.fixture(scope="module")
def filters(spark):
    return fixtures.make_filters(spark)


class TestTransforms:
    def test_rewards_mode_semantics(self, spark, chain):
        blocks, txns = chain
        out = transforms.build_outputs("rewards", blocks, txns)
        rewards = out["rewards"].collect()
        assert "transactions" not in out
        assert len(rewards) > 0
        # transaction_hash carries the BLOCK hash (reference quirk,
        # src/block_processor.rs:73)
        assert all(r["transaction_hash"].startswith("blockhash-") for r in rewards)
        # sentinel defaulting: securities → no gateway, overages → no account
        assert any(r["gateway"] == SENTINEL for r in rewards)
        assert any(r["account"] == SENTINEL for r in rewards)
        assert all(r["account"] is not None and r["gateway"] is not None for r in rewards)

    def test_explode_count_conservation(self, spark, chain):
        # property: output rows == Σ len(rewards) over rewards_v2 txns
        blocks, txns = chain
        out = transforms.build_outputs("rewards", blocks, txns)["rewards"]
        expected = 0
        heights = {r["height"] for r in blocks.select("height").collect()}
        for row in txns.where(F.col("type") == "rewards_v2").collect():
            payload = json.loads(row["fields"])
            # only txns whose block is in range count (all are, here)
            expected += len(payload["rewards"])
        assert out.count() == expected
        # empty rewards arrays contribute zero rows but don't error
        assert heights  # chain non-empty sanity

    def test_early_epoch_aggregated_shape(self, spark, chain):
        blocks, txns = chain
        out = transforms.build_outputs("rewards", blocks, txns)["rewards"]
        early = out.where(F.col("type") == "rewards_v2").collect()
        assert len(early) == 5  # the account-aggregated early-epoch rows
        assert all(r["gateway"] == SENTINEL for r in early)

    def test_full_mode_double_writes_rewards_txn(self, spark, chain):
        blocks, txns = chain
        out = transforms.build_outputs("full", blocks, txns)
        # rewards_v2 lands exploded in rewards AND opaque in transactions
        # (reference src/block_processor.rs:72 + :127-141)
        assert out["rewards"].count() > 0
        txn_types = {r["type"] for r in out["transactions"].select("type").distinct().collect()}
        assert "rewards_v2" in txn_types and "payment_v2" in txn_types
        # fields is valid JSON for every row
        bad = out["transactions"].where(F.get_json_object("fields", "$") .isNull()).count()
        assert bad == 0

    def test_filters_mode_first_match_wins_once(self, spark, chain, filters):
        blocks, txns = chain
        all_rewards = transforms.build_outputs("rewards", blocks, txns)["rewards"]
        filtered = transforms.build_outputs("filters", blocks, txns, filters)["rewards"]
        n_all, n_filtered = all_rewards.count(), filtered.count()
        assert 0 < n_filtered < n_all
        # a reward matching BOTH an account and a gateway filter appears
        # exactly once: no row in filtered occurs more often than in the
        # unfiltered output
        both = (
            filtered.groupBy(filtered.columns).count()
            .join(
                all_rewards.groupBy(all_rewards.columns).count().withColumnRenamed("count", "base"),
                on=[c for c in filtered.columns],
            )
        )
        assert both.where(F.col("count") > F.col("base")).count() == 0
        # filtered ⊆ all (property from SURVEY §5.4)
        assert filtered.exceptAll(all_rewards).count() == 0
        # every filtered row matches at least one filter value
        vals = {r["value"] for r in filters.collect()}
        for r in filtered.collect():
            assert r["account"] in vals or r["gateway"] in vals

    def test_unknown_txn_type_fails_batch(self, spark):
        blocks, txns = fixtures.make_chain(
            spark, first_block=1000, n_blocks=120, include_unknown_type=True
        )
        out = transforms.build_outputs("full", blocks, txns)
        # count() would let Catalyst prune the validated column entirely;
        # collect() materializes it, which is what any sink write does.
        with pytest.raises(Exception, match="unknown transaction type"):
            out["transactions"].collect()


class TestFollower:
    def test_catch_up_and_cursor(self, spark, chain, tmp_path):
        blocks, txns = chain
        cfg = FollowerConfig(mode="rewards", backfill=True, out_dir=str(tmp_path / "out"))
        f = IncrementalFollower(spark, LandedBlockSource(blocks, txns), cfg)
        n = f.catch_up()
        assert n == 120
        height, first = f.cursor.read()
        assert first == 1000
        assert height == 1119  # tip
        # second pass is a no-op (cursor at tip)
        assert f.catch_up() == 0

    def test_replay_is_idempotent(self, spark, chain, tmp_path):
        blocks, txns = chain
        out_dir = str(tmp_path / "out")
        cfg = FollowerConfig(mode="rewards", backfill=True, out_dir=out_dir)
        f = IncrementalFollower(spark, LandedBlockSource(blocks, txns), cfg)
        f.catch_up()
        expected = read_snapshot(spark, out_dir, "rewards").count()
        # rewind the cursor over committed data, rerun
        f.cursor.write(1059, 1000)
        assert f.catch_up() == 60
        got = read_snapshot(spark, out_dir, "rewards").count()
        assert got == expected  # replay replaced, never duplicated

    def test_bounded_batches(self, spark, chain, tmp_path):
        blocks, txns = chain
        cfg = FollowerConfig(
            mode="rewards", backfill=True, out_dir=str(tmp_path / "out"),
            max_blocks_per_batch=50,
        )
        f = IncrementalFollower(spark, LandedBlockSource(blocks, txns), cfg)
        assert f.catch_up() == 120
        assert f.cursor.read()[0] == 1119
        # one seed publish + ceil(120/50)=3 pass commits
        assert SnapshotStore(cfg.out_dir).current()["version"] == 4

    def test_catch_up_probes_the_tip_once(self, spark, chain, tmp_path):
        # The source's file listing is fixed for the call, so once a
        # pass reaches the probed tip no further probe can find blocks.
        blocks, txns = chain
        source = LandedBlockSource(blocks, txns)
        probes = []
        tip = source.tip
        source.tip = lambda: probes.append(1) or tip()
        cfg = FollowerConfig(mode="rewards", backfill=True, out_dir=str(tmp_path / "out"))
        assert IncrementalFollower(spark, source, cfg).catch_up() == 120
        assert len(probes) == 1

    def test_no_backfill_starts_at_tip(self, spark, chain, tmp_path):
        blocks, txns = chain
        cfg = FollowerConfig(mode="rewards", backfill=False, out_dir=str(tmp_path / "out"))
        f = IncrementalFollower(spark, LandedBlockSource(blocks, txns), cfg)
        height, first = f.init_cursor()
        assert first == 1119 and height == 1118  # cursor = first-1

    def test_backfill_discovery(self, spark, chain):
        blocks, txns = chain
        assert LandedBlockSource(blocks, txns).first() == 1000
        # the literal epoch-hop walk lands at (or before) the first
        # epoch boundary reachable from the tip
        oldest = backfill_epoch_walk(blocks, txns, tip=1119)
        assert oldest <= 1020  # hops rew-1110 → start_epoch 1080 → ... → 1000-ish
        assert oldest >= 1000


class TestRangeIdempotentWriter:
    def _df(self, spark, blocks):
        return spark.createDataFrame([(b, b * 10.0) for b in blocks], "block long, v double")

    def test_partial_replay_spanning_two_ranges(self, spark, tmp_path):
        from helium_etl_lite_spark.etl.pipeline import write_block_range_idempotent

        path = str(tmp_path / "t")
        # initial load: blocks 0..39 over ranges 0..3 (range_size=10)
        write_block_range_idempotent(spark, self._df(spark, range(40)), path, 0, 39, 10)
        assert spark.read.parquet(path).count() == 40
        # replay 15..24 (second half of range 1 + first half of range 2)
        # with changed values: untouched blocks keep old rows, replayed
        # blocks get exactly one new row each.
        new = spark.createDataFrame([(b, -1.0) for b in range(15, 25)], "block long, v double")
        write_block_range_idempotent(spark, new, path, 15, 24, 10)
        got = spark.read.parquet(path)
        assert got.count() == 40
        import pyspark.sql.functions as F

        assert got.where(F.col("v") == -1.0).count() == 10
        assert got.where((F.col("block") == 14) & (F.col("v") == 140.0)).count() == 1
        assert got.where((F.col("block") == 25) & (F.col("v") == 250.0)).count() == 1

    def test_boundary_aligned_replay(self, spark, tmp_path):
        from helium_etl_lite_spark.etl.pipeline import write_block_range_idempotent

        path = str(tmp_path / "t2")
        write_block_range_idempotent(spark, self._df(spark, range(20)), path, 0, 19, 10)
        # exact-range replay (10..19): no carry-over needed, still converges
        new = spark.createDataFrame([(b, -2.0) for b in range(10, 20)], "block long, v double")
        write_block_range_idempotent(spark, new, path, 10, 19, 10)
        got = spark.read.parquet(path)
        assert got.count() == 20
        import pyspark.sql.functions as F

        assert got.where(F.col("v") == -2.0).count() == 10

    def test_first_write_without_existing_table(self, spark, tmp_path):
        from helium_etl_lite_spark.etl.pipeline import write_block_range_idempotent

        path = str(tmp_path / "t3")
        write_block_range_idempotent(spark, self._df(spark, [5, 6]), path, 5, 6, 10)
        assert spark.read.parquet(path).count() == 2

    def test_height_set_replace_preserves_gap_blocks(self, spark, tmp_path):
        # A non-contiguous batch (heights {3, 27}) must replace exactly
        # those heights: blocks 4..26 landed by earlier batches survive,
        # including block 7 INSIDE the same range as 3 and block 22 in
        # 27's range.
        from helium_etl_lite_spark.etl.pipeline import write_block_range_idempotent

        path = str(tmp_path / "t4")
        write_block_range_idempotent(spark, self._df(spark, range(30)), path, 0, 29, 10)
        new = spark.createDataFrame([(3, -3.0), (27, -3.0)], "block long, v double")
        heights = spark.createDataFrame([(3,), (27,)], "block long")
        write_block_range_idempotent(spark, new, path, 3, 27, 10, heights=heights)
        got = spark.read.parquet(path)
        assert got.count() == 30
        assert got.where(F.col("v") == -3.0).count() == 2
        # span-internal blocks kept their original rows
        assert got.where((F.col("block") == 7) & (F.col("v") == 70.0)).count() == 1
        assert got.where((F.col("block") == 15) & (F.col("v") == 150.0)).count() == 1
        assert got.where((F.col("block") == 22) & (F.col("v") == 220.0)).count() == 1

    def test_height_set_claims_rewardless_blocks(self, spark, tmp_path):
        # A replayed block that now produces NO rows must still have its
        # stale rows deleted — the height SET claims it even though the
        # output doesn't mention it.
        from helium_etl_lite_spark.etl.pipeline import write_block_range_idempotent

        path = str(tmp_path / "t5")
        write_block_range_idempotent(spark, self._df(spark, range(10)), path, 0, 9, 10)
        empty = spark.createDataFrame([], "block long, v double")
        heights = spark.createDataFrame([(4,)], "block long")
        write_block_range_idempotent(spark, empty, path, 4, 4, 10, heights=heights)
        got = spark.read.parquet(path)
        assert got.count() == 9
        assert got.where(F.col("block") == 4).count() == 0


class TestFailStopParity:
    def test_missing_rewards_payload_aborts_batch(self, spark):
        blocks, txns = fixtures.make_chain(spark, first_block=1000, n_blocks=120)
        # drop one rewards_v2 payload row → the envelope join must abort
        # the batch (reference fail-stops on transactions::get failure),
        # not silently contribute zero rewards.
        one_hash = txns.where(F.col("type") == "rewards_v2").select("hash").first()["hash"]
        broken = txns.where(F.col("hash") != one_hash)
        out = transforms.build_outputs("rewards", blocks, broken)["rewards"]
        with pytest.raises(Exception, match="missing rewards_v2 payload"):
            out.collect()

    def test_missing_full_mode_payload_aborts_batch(self, spark):
        blocks, txns = fixtures.make_chain(spark, first_block=1000, n_blocks=120)
        one_hash = txns.where(F.col("type") == "payment_v2").select("hash").first()["hash"]
        broken = txns.where(F.col("hash") != one_hash)
        out = transforms.build_outputs("full", blocks, broken)["transactions"]
        with pytest.raises(Exception, match="missing payload"):
            out.collect()


class TestStaleRangeDeletion:
    # ADVICE r2 (medium): dynamic partition overwrite only rewrites
    # partitions present in `merged` — a touched range whose rows are
    # all claimed away must be explicitly deleted, or stale rows
    # silently survive replay.

    def _df(self, spark, blocks):
        return spark.createDataFrame([(b, b * 10.0) for b in blocks], "block long, v double")

    def test_span_replay_emptying_a_range_deletes_partition(self, spark, tmp_path):
        from helium_etl_lite_spark.etl.pipeline import write_block_range_idempotent

        path = str(tmp_path / "t6")
        write_block_range_idempotent(spark, self._df(spark, range(20)), path, 0, 19, 10)
        empty = spark.createDataFrame([], "block long, v double")
        write_block_range_idempotent(spark, empty, path, 10, 19, 10)
        got = spark.read.parquet(path)
        assert got.count() == 10
        assert got.where(F.col("block") >= 10).count() == 0
        assert not os.path.exists(os.path.join(path, "block_range=1"))

    def test_height_set_emptying_a_range_deletes_partition(self, spark, tmp_path):
        from helium_etl_lite_spark.etl.pipeline import write_block_range_idempotent

        path = str(tmp_path / "t7")
        write_block_range_idempotent(spark, self._df(spark, range(20)), path, 0, 19, 10)
        empty = spark.createDataFrame([], "block long, v double")
        heights = spark.createDataFrame([(h,) for h in range(10, 20)], "block long")
        write_block_range_idempotent(spark, empty, path, 10, 19, 10, heights=heights)
        got = spark.read.parquet(path)
        assert got.count() == 10
        assert not os.path.exists(os.path.join(path, "block_range=1"))

    def test_partial_claim_keeps_partition(self, spark, tmp_path):
        # Claiming only half a range must keep the survivors (and the
        # partition directory).
        from helium_etl_lite_spark.etl.pipeline import write_block_range_idempotent

        path = str(tmp_path / "t8")
        write_block_range_idempotent(spark, self._df(spark, range(20)), path, 0, 19, 10)
        empty = spark.createDataFrame([], "block long, v double")
        heights = spark.createDataFrame([(h,) for h in range(10, 15)], "block long")
        write_block_range_idempotent(spark, empty, path, 10, 14, 10, heights=heights)
        got = spark.read.parquet(path)
        assert got.count() == 15
        assert os.path.exists(os.path.join(path, "block_range=1"))


def test_ingest_audit_rides_the_landing_action(spark, tmp_path):
    # Observation metrics must reflect exactly the landed batch — no
    # extra job, no approximation — including the sentinel-account count
    # (the '1Wh4bh' coalesce, src/reward.rs:22-33).
    from helium_etl_lite_spark.etl import fixtures
    from helium_etl_lite_spark.etl.pipeline import FollowerConfig, IncrementalFollower
    from helium_etl_lite_spark.etl.schemas import SENTINEL

    blocks, txns = fixtures.make_chain(spark, first_block=1000, n_blocks=120)
    cfg = FollowerConfig(
        mode="rewards", backfill=True, out_dir=str(tmp_path / "out"),
        block_range_size=20,
    )
    f = IncrementalFollower(spark, LandedBlockSource(blocks, txns), cfg)
    f.catch_up()
    assert hasattr(f, "last_audit")
    landed = read_snapshot(spark, str(tmp_path / "out"), "rewards")
    # the whole chain lands as ONE range batch here, so the audit must
    # equal the landed totals exactly
    assert f.last_audit["n_rewards"] == landed.count()
    assert f.last_audit["amount_total"] == (
        landed.agg(F.sum("amount")).first()[0]
    )
    assert f.last_audit["sentinel_accounts"] == landed.where(
        F.col("account") == SENTINEL
    ).count()
    assert f.last_audit["sentinel_accounts"] > 0  # fixtures plant null accounts
