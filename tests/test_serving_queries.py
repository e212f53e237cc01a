"""SURVEY §2.2 — the serving-layer query surface the reference's
Postgres schema+indexes exist for, run against THIS engine's pipeline
output (chain fixtures → follower → parquet tables → Spark SQL).

| index in reference              | pattern exercised here            |
|---------------------------------|-----------------------------------|
| rewards_block_idx (V1:11)       | block-range scan + per-epoch sums |
| rewards_gateway_idx (V1:12)     | per-gateway earnings, top-k       |
| transactions_pkey (V3:43)       | point lookup by hash              |
| transaction_type/block (V3:46-47)| slice by type + JSON extraction  |
"""

from __future__ import annotations

import pytest

# r15 heavy lane: serving-view integration (69 s) on the r15 sandbox — runs with
# SPARK_GRAFT_TEST_LANE=full (or -m heavy); see tests/conftest.py.
pytestmark = pytest.mark.heavy

import os

from pyspark.sql import functions as F

from helium_etl_lite_spark.etl import fixtures
from helium_etl_lite_spark.etl.pipeline import FollowerConfig, IncrementalFollower
from helium_etl_lite_spark.etl.snapshot import SnapshotStore, commit_batch_atomic, read_snapshot
from helium_etl_lite_spark.sources.block_source import LandedBlockSource

SENTINEL = "1Wh4bh"


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("serving") / "out")
    blocks, txns = fixtures.make_chain(spark, first_block=1000, n_blocks=120)
    f = IncrementalFollower(
        spark, LandedBlockSource(blocks, txns),
        FollowerConfig(mode="full", backfill=True, out_dir=out_dir),
    )
    f.catch_up()
    rewards = read_snapshot(spark, out_dir, "rewards")
    transactions = read_snapshot(spark, out_dir, "transactions")
    rewards.createOrReplaceTempView("srv_rewards")
    transactions.createOrReplaceTempView("srv_transactions")
    return rewards, transactions, out_dir


def test_block_range_scan_per_epoch_sums(spark, served):
    rewards, _, _ = served
    out = spark.sql(
        """
        SELECT block div 30 AS epoch, SUM(amount) AS total, COUNT(*) AS n
        FROM srv_rewards WHERE block BETWEEN 1000 AND 1119
        GROUP BY block div 30 ORDER BY epoch
        """
    ).collect()
    assert len(out) >= 2
    assert all(r["total"] > 0 for r in out)


def test_per_gateway_earnings_topk(spark, served):
    rewards, _, _ = served
    top = (
        rewards.where(F.col("gateway") != SENTINEL)
        .groupBy("gateway")
        .agg(F.sum("amount").alias("earned"))
        .orderBy(F.col("earned").desc(), F.col("gateway"))
        .limit(5)
        .collect()
    )
    assert 1 <= len(top) <= 5
    assert top[0]["earned"] >= top[-1]["earned"]


def test_txn_point_lookup_by_hash(spark, served):
    _, transactions, _ = served
    some = transactions.limit(1).collect()[0]
    got = transactions.where(F.col("hash") == some["hash"]).collect()
    assert len(got) == 1  # PK semantics: exactly one row per hash
    assert got[0]["type"] == some["type"]


def test_type_slice_with_json_extraction(spark, served):
    _, transactions, _ = served
    pays = spark.sql(
        """
        SELECT hash,
               get_json_object(fields, '$.payer') AS payer,
               CAST(get_json_object(fields, '$.amount') AS BIGINT) AS amount
        FROM srv_transactions WHERE type = 'payment_v2'
        """
    )
    rows = pays.collect()
    assert len(rows) > 0
    assert all(r["payer"] is not None and r["amount"] is not None for r in rows)


def test_sentinel_rows_present_in_early_epoch(spark, served):
    rewards, _, _ = served
    # README.md:108-111 shape: early-epoch account-aggregated rewards
    # carry the sentinel gateway and type 'rewards_v2'.
    early = rewards.where(
        (F.col("gateway") == SENTINEL) & (F.col("type") == "rewards_v2")
    )
    assert early.count() > 0


class TestServingModule:
    def test_register_views_and_helpers(self, spark, served, tmp_path_factory):
        from helium_etl_lite_spark import serving

        _, _, out_dir = served
        views = serving.register_views(spark, out_dir)
        assert set(views) == {"rewards", "transactions", "follower_info"}
        fi = spark.table("follower_info").collect()
        assert fi[0]["height"] == 1119 and fi[0]["first_block"] == 1000

        ranged = serving.rewards_in_block_range(spark, 1000, 1059).collect()
        assert all(1000 <= r["block"] <= 1059 for r in ranged)
        assert all(r["total_amount"] > 0 for r in ranged)

        top = serving.gateway_earnings_topk(spark, k=3).collect()
        assert len(top) == 3
        assert top[0]["earned"] >= top[1]["earned"] >= top[2]["earned"]
        assert all(r["gateway"] != SENTINEL for r in top)

        one_hash = spark.table("transactions").select("hash").first()["hash"]
        assert len(serving.transaction_by_hash(spark, one_hash).collect()) == 1

        rv2 = serving.transactions_by_type(
            spark, "rewards_v2", json_path="$.start_epoch"
        ).collect()
        assert rv2 and all(r["field"] is not None and r["field"].isdigit() for r in rv2)

    def test_views_read_the_manifest_once(self, spark, tmp_path, monkeypatch):
        # A commit landing between manifest reads must not give rewards,
        # transactions and follower_info different versions:
        # register_views reads CURRENT once and serves every table at
        # that version. Here a version dropping block range 1 lands
        # right after the first read.
        from helium_etl_lite_spark import serving

        out_dir = str(tmp_path / "out")
        b = spark.range(0, 40).select(
            F.col("id").alias("block"), F.lit(1.0).alias("amount")
        )
        commit_batch_atomic(
            spark, out_dir, {"rewards": b, "transactions": b}, 0, 39,
            height=39, first_block=0, range_size=20,
        )
        current = SnapshotStore.current
        calls = []

        def read_then_commit(self):
            m = current(self)
            calls.append(m["version"])
            if len(calls) == 1:
                later = {t: {"0": v["0"]} for t, v in m["tables"].items()}
                SnapshotStore(out_dir).publish(
                    {**m, "version": m["version"] + 1, "height": 19, "tables": later}
                )
            return m

        monkeypatch.setattr(SnapshotStore, "current", read_then_commit)
        views = serving.register_views(spark, out_dir)
        assert calls == [1]
        assert [tuple(r) for r in views["follower_info"].collect()] == [(39, 0)]
        for table in ("rewards", "transactions"):
            assert views[table].count() == 40


def test_register_views_raises_on_corrupt_transactions(spark, tmp_path):
    # ADVICE r2: only a table absent from the manifest means "mode
    # produced none" — a corrupt committed table must raise, not
    # silently drop the view.
    from helium_etl_lite_spark import serving

    blocks, txns = fixtures.make_chain(spark, first_block=1000, n_blocks=60)
    out_dir = str(tmp_path / "out")
    IncrementalFollower(
        spark, LandedBlockSource(blocks, txns),
        FollowerConfig(mode="rewards", out_dir=out_dir, backfill=True),
    ).catch_up()
    # rewards-only mode: no transactions table -> view quietly absent
    views = serving.register_views(spark, out_dir)
    assert "transactions" not in views
    # now commit a corrupt transactions table: must propagate, not vanish
    store = SnapshotStore(out_dir)
    m = store.current()
    version = m["version"] + 1
    pdir = os.path.join(out_dir, "transactions", f"v={version}", "block_range=1")
    os.makedirs(pdir)
    with open(os.path.join(pdir, "part-0000.parquet"), "wb") as f:
        f.write(b"this is not parquet")
    store.publish(
        {**m, "version": version, "tables": {**m["tables"], "transactions": {"1": [[version, 1000, 1059]]}}}
    )
    with pytest.raises(Exception) as exc_info:
        serving.register_views(spark, out_dir)
    assert "PATH_NOT_FOUND" not in str(exc_info.value)
