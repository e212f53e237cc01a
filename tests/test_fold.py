"""The fold (etl/snapshot.py): each commit merges the newest same-tier
fragments of the block ranges it touches, so a follower's range and an
operator state stay bounded without `cli compact`, and a small fold-in
never rewrites a large state (fast lane)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from helium_etl_lite_spark.etl.snapshot import (
    STATE,
    K,
    SnapshotStore,
    _tier,
    commit_batch_atomic,
    commit_state,
    fragment_dir,
    read_changes,
    read_snapshot,
)


def _assert_tiered(frags):
    # the fold's invariant: no K consecutive fragments share a size tier,
    # so a range whose fragments grow older and larger holds at most
    # K - 1 of each tier
    tiers = [_tier(f[3]) for f in frags]
    assert all(len(set(tiers[i:i + K])) > 1 for i in range(len(tiers) - K + 1)), tiers
    assert len(frags) <= (K - 1) * len(set(tiers)), tiers


def test_entries_record_the_bytes_written(spark, tmp_path):
    root = str(tmp_path / "s")
    b = spark.range(0, 30).select(F.col("id").alias("block"), F.col("id").alias("v"))
    m = commit_batch_atomic(spark, root, {"t": b}, 0, 29, height=29, first_block=0,
                            range_size=10)
    for r, frags in m["tables"]["t"].items():
        (frag,) = frags
        d = fragment_dir(root, "t", int(r), frag[0])
        on_disk = sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
                      if f.endswith(".parquet"))
        assert frag == [1, int(r) * 10, int(r) * 10 + 9, on_disk]


def test_one_row_fold_ins_never_rewrite_the_state(spark, tmp_path):
    # A first fold-in of a few thousand rows, then 20 one-row fold-ins.
    # Every batch id lands in block range 0; the fold merges only the
    # small newest fragments, so the first fragment's entry never
    # changes, and the state keeps every row.
    state = str(tmp_path / "state")
    first = spark.range(0, 3000).select(F.sha2(F.col("id").cast("string"), 256).alias("h"))
    commit_state(spark, state, first, 0)
    (head,) = SnapshotStore(state).current()["tables"][STATE]["0"]
    want = {r["h"] for r in first.collect()}
    folds = 0
    for bid in range(1, 21):
        row = spark.createDataFrame([(f"row-{bid}",)], "h string")
        commit_state(spark, state, row, bid)
        want.add(f"row-{bid}")
        frags = SnapshotStore(state).current()["tables"][STATE]["0"]
        assert frags[0] == head, frags
        _assert_tiered(frags)
        folds += frags[-1][1] < bid  # the new fragment holds older batches
    assert folds >= 20 // K
    got = [r["h"] for r in read_snapshot(spark, state, STATE).collect()]
    assert len(got) == len(want) and set(got) == want


def test_a_follower_range_folds_as_it_fills(spark, tmp_path):
    # 40 contiguous commits into one block range: the range never holds
    # more than 10 fragments, the read is the union of the batches, and
    # the change feed across a folding commit is exactly its batch as
    # inserts (the folded rows are on both sides of the diff and cancel).
    root = str(tmp_path / "follower")
    folding = []
    for i in range(40):
        lo, hi = i * 5, i * 5 + 4
        batch = spark.range(lo, hi + 1).select(
            F.col("id").alias("block"), (F.col("id") * 1.5).alias("amount")
        )
        m = commit_batch_atomic(spark, root, {"rewards": batch}, lo, hi, height=hi,
                                first_block=0)
        frags = m["tables"]["rewards"]["0"]
        assert len(frags) <= 10, (i, frags)
        _assert_tiered(frags)
        if frags[-1][1] < lo:
            folding.append((m["version"], lo, hi))
    assert folding
    got = sorted((r["block"], r["amount"]) for r in read_snapshot(spark, root, "rewards").collect())
    assert got == [(b, b * 1.5) for b in range(200)]
    for version, lo, hi in (folding[0], folding[-1]):
        feed = read_changes(spark, root, "rewards", version - 1, version).collect()
        assert sorted((r["block"], r["_change_type"]) for r in feed) == [
            (b, "insert") for b in range(lo, hi + 1)
        ]
