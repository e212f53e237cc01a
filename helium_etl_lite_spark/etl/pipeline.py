"""Batch-incremental follower: the reference's poll/catch-up/commit loop
(SURVEY §2.1 E16-E20).

One loop, one source interface: IncrementalFollower follows a block
source (sources/block_source.py) — landed files or a live JSON-RPC
node — that answers tip(), first() and range(lo, hi). catch_up opens
the cursor, probes the tip once and commits (cursor, tip] in passes
(reference src/follower.rs:69-98); blocks that arrive meanwhile wait
for the next call, as they wait for the reference's next 10 s tick.

Differences by design (Spark-first, not a translation):
- The reference processes ONE block per transaction
  (src/follower.rs:99-112). Here a catch-up pass processes up to
  PASS_LIMIT blocks of (cursor, tip] in one commit, in the driver with
  no Spark job: the source hands Arrow tables, etl/arrow_transforms.py
  runs the transforms and etl/snapshot.py commit_arrow writes the
  fragments with pyarrow. A longer lag, such as a backfill, is a run of
  such passes. etl/transforms.py build_outputs, the same transforms on
  DataFrames, is the reference the driver pass is tested against
  (tests/test_driver_pass.py): the same rows and the same fail-stop
  errors.
- Exactly-once: Postgres gives the reference a data+cursor transaction
  (src/follower.rs:100, src/block_processor.rs:44-47). Here every pass
  is one snapshot-manifest commit (etl/snapshot.py): the rewards and
  transactions fragments the pass wrote and the advanced cursor become
  visible in the same `CURRENT` rename, so a reader never sees a block
  the cursor has not reached, and a crash before the rename leaves the
  previous snapshot whole. The replay recomputes the same version.
- Transactions sharing a hash within a pass keep one row (PK(hash),
  migrations/V3:43), chosen by one rule in both transforms: the lowest
  block, then type, then fields, so a replay stores the same row.
- The cursor (the reference's one follower_info row) is the manifest's
  (height, first_block); CursorStore reads and publishes it, with no
  Spark job.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .arrow_transforms import build_outputs_arrow
from .schemas import REWARDS_V2_FIELDS_SCHEMA, SENTINEL
from ..errors import is_path_not_found
from .snapshot import (
    RANGE_SIZE,
    SnapshotStore,
    commit_arrow,
    refuse_old_layout,
    require_fragments,
)
from .transforms import MODES

# Tables keyed by block, written in place: write_block_range_idempotent
# gives per-block replace semantics on plain partitioned parquet (any
# replayed range replaces precisely the blocks it contains, never
# duplicating and never clobbering neighbors) by reading back and
# rewriting every range a batch touches; operators/rollup.py lands its
# buckets here. The follower's own tables go through the snapshot sink
# instead (etl/snapshot.py commit_arrow), which has the same
# claim semantics but appends a fragment holding only the batch's rows
# and reads back only fragments a replay partly overlaps.


def write_block_range_idempotent(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    lo: int,
    hi: int,
    range_size: int = 1000,
    heights: DataFrame | None = None,
) -> None:
    """Idempotently land a batch's block slice into a table partitioned
    by coarse `block_range` (block // range_size).

    Per-BLOCK partitioning would mean one directory per block — millions
    of tiny partitions at chain scale, a filesystem-metadata bottleneck
    (observed 20× slowdown in tools/bench_etl.py). Coarse ranges keep
    partition count bounded; idempotence across partial-range replays is
    preserved by read-merge-write: carried-over rows of the touched
    ranges are kept, rows the batch claims are replaced wholesale.
    Replaying any slice therefore converges to the same table (the
    reference's per-block BEGIN..COMMIT, src/follower.rs:100, at range
    granularity). Multi-partition overwrite is not atomic on plain
    parquet: a reader during the write can see a torn table. The
    snapshot sink (etl/snapshot.py commit_batch_atomic) is the atomic
    variant with the same claim semantics.

    What counts as "claimed" matters for correctness:
    - heights=None: the batch claims the contiguous span [lo, hi] — old
      rows inside the span are dropped. ONLY valid when the batch really
      contains every block of the span (the batch follower's
      `where(height between lo, hi)` does).
    - heights=<DataFrame of block heights>: the batch claims exactly
      that height SET — old rows are anti-joined against it. Required
      for a batch with no contiguity guarantee (one holding heights
      {100, 300} must not delete blocks 101-299 a previous batch landed).
    """
    new = df.withColumn(
        "block_range", F.floor(F.col("block") / F.lit(range_size)).cast("long")
    )
    try:
        old_all = spark.read.parquet(path).withColumn(
            "block_range", F.col("block_range").cast("long")
        )
        if heights is None:
            r_lo, r_hi = lo // range_size, hi // range_size
            old = old_all.where(
                F.col("block_range").between(r_lo, r_hi)
                & ~F.col("block").between(lo, hi)
            )
        else:
            claimed = heights.select(
                F.col(heights.columns[0]).cast("long").alias("__claimed_block")
            ).distinct()
            touched = claimed.select(
                F.floor(F.col("__claimed_block") / F.lit(range_size))
                .cast("long")
                .alias("block_range")
            ).distinct()
            old = old_all.join(F.broadcast(touched), "block_range", "left_semi").join(
                F.broadcast(claimed),
                F.col("block") == F.col("__claimed_block"),
                "left_anti",
            )
        old = (
            old.select(*new.columns)
            # materialize before the overwrite below deletes the files
            # this plan reads (write-into-own-source); the carried sliver
            # is bounded by the touched ranges' non-replaced rows.
            .localCheckpoint(eager=True)
        )
        # Two actions consume merged (the overwrite and the stale-range
        # probe below) — persist so the batch transform runs once.
        merged = new.unionByName(old).persist()
        # Dynamic overwrite only rewrites partitions PRESENT in merged.
        # A touched range where the claimed blocks now produce no rows
        # and no carried-over rows remain would keep its stale files
        # forever (ADVICE r2) — enumerate the touched ranges and delete
        # any that merged no longer populates. Control-plane sized: the
        # distinct() below column-prunes to block_range only, and the
        # touched set is bounded by the batch's span / range_size.
        if heights is None:
            touched_ranges = set(range(lo // range_size, hi // range_size + 1))
        else:
            touched_ranges = {r["block_range"] for r in touched.collect()}
        present_ranges = {
            r["block_range"] for r in merged.select("block_range").distinct().collect()
        }
        stale_ranges = sorted(touched_ranges - present_ranges)
    except AnalysisException as exc:
        # only a missing table is the first write: a read failing for
        # any other reason must not drop the touched ranges' carried rows
        if not is_path_not_found(exc):
            raise
        merged = new  # first write; nothing to merge, nothing stale
        stale_ranges = []
    try:
        (
            merged.repartition("block_range")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("block_range")
            .parquet(path)
        )
    finally:
        merged.unpersist()
    # After the write so a crash replay re-derives and re-deletes them
    # (idempotent). Hadoop FS API, so the same path works on HDFS/object
    # stores, not just local files.
    for rng in stale_ranges:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(f"{path}/block_range={rng}")
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(hpath, True)


class CursorStore:
    """follower_info analog (reference migrations/V2, src/follower.rs:115-142):
    the follower's (height, first_block), which lives in the snapshot
    manifest (etl/snapshot.py) beside the data map, so data and cursor
    publish together. The one place that knows where the cursor lives.

    read() returns CURRENT's cursor, or None before the first publish.
    write() publishes the next manifest version carrying the current
    tables (or none) with the new cursor. Neither starts a Spark job.
    """

    def __init__(self, out_dir: str):
        self.store = SnapshotStore(out_dir)

    def read(self) -> tuple[int, int] | None:
        m = self.store.current()
        return None if m is None else (m["height"], m["first_block"])

    def write(self, height: int, first_block: int) -> None:
        m = self.store.current()
        self.store.publish(
            {
                "version": m["version"] + 1 if m else 1,
                "height": int(height),
                "first_block": int(first_block),
                "tables": m["tables"] if m else {},
            }
        )


def _open_cursor(config: FollowerConfig, probe_first) -> tuple[int, int] | None:
    """The follower's starting cursor (reference src/follower.rs:27-41):
    the manifest's committed cursor; else a new cursor at
    probe_first()-1, so the first processed block is probe_first()
    (reference src/follower.rs:37). None, with nothing written, while
    the source has no block: the first real block decides where the
    cursor starts. A store without a manifest but with landed tables,
    or whose manifest predates fragment commits, is refused before
    anything is probed or written."""
    m = SnapshotStore(config.out_dir).current()
    if m is not None:
        require_fragments(m, config.out_dir)
        return m["height"], m["first_block"]
    refuse_old_layout(config.out_dir)
    first = probe_first()
    if first is None:
        return None
    CursorStore(config.out_dir).write(first - 1, first)
    return first - 1, first


#: Blocks per pass at most. A pass holds its source rows and outputs in
#: driver memory (etl/snapshot.py commit_arrow adds one block range's
#: carried-over rows at a time), so this bounds the driver's memory. It
#: was not chosen for speed (README.md has the backfill measurements).
PASS_LIMIT = 500


@dataclass
class FollowerConfig:
    """settings.toml analog (reference src/settings.rs:33-48)."""

    mode: str = "rewards"          # rewards | full | filters
    backfill: bool = False
    out_dir: str = "/tmp/helium_out"
    # blocks per pass, at most PASS_LIMIT; None = PASS_LIMIT
    max_blocks_per_batch: int | None = None
    block_range_size: int = RANGE_SIZE   # blocks per output partition directory


class IncrementalFollower:
    """E17-E19: cursor init, catch-up loop, cursor advance over a block
    source (sources/block_source.py: tip, first, range). `filters` is
    the filters table (filters mode) as Arrow. Starts no Spark job."""

    def __init__(self, source, config: FollowerConfig, filters: pa.Table | None = None):
        if config.mode not in MODES:
            raise ValueError(f"unknown mode {config.mode!r}; expected one of {MODES}")
        if config.mode == "filters" and filters is None:
            raise ValueError("filters mode requires the filters table")
        self.source = source
        self.config = config
        self.filters = filters
        self.cursor = CursorStore(config.out_dir)

    # -- cursor init (reference src/follower.rs:27-41) ------------------
    def init_cursor(self) -> tuple[int, int] | None:
        def first() -> int | None:
            return self.source.first() if self.config.backfill else self.source.tip()

        return _open_cursor(self.config, first)

    # -- catch-up passes (reference src/follower.rs:69-98) --------------
    def catch_up(self) -> int:
        """Process (cursor, tip] in passes of at most max_blocks_per_batch
        blocks and PASS_LIMIT (bounded-replay E19), and return the
        number of blocks loaded. The tip is probed once; newer blocks
        are left to the next call. Loads nothing while the source has no
        block."""
        cursor = self.init_cursor()
        if cursor is None:
            return 0
        height, first_block = cursor
        tip = self.source.tip()
        total = 0
        while n := self._pass(height + total, first_block, tip):
            total += n
        return total

    def _pass(self, height: int, first_block: int, tip: int | None) -> int:
        if tip is None or tip <= height:
            return 0
        n = min(self.config.max_blocks_per_batch or PASS_LIMIT, PASS_LIMIT)
        upper = min(tip, height + n)
        self._commit_range(height + 1, upper, first_block)
        return upper - height

    def _commit_range(self, lo: int, hi: int, first_block: int) -> None:
        # E14-E18 as ONE transaction: every output table and the cursor
        # advance publish together in the manifest swap.
        blocks, txns = self.source.range(lo, hi)
        out = build_outputs_arrow(self.config.mode, blocks, txns, self.filters)
        # Ingest audit: row/amount/sentinel counters of the pass's
        # rewards (the reference has no ingest metrics at all;
        # production followers need them to spot a silently-empty or
        # all-null upstream). A pass with no reward rows is an explicit
        # zero, the signal the audit exists to surface.
        rewards = out["rewards"]
        self.last_audit = {
            "n_rewards": rewards.num_rows,
            "amount_total": pc.sum(rewards["amount"]).as_py() or 0,
            "sentinel_accounts": pc.sum(pc.equal(rewards["account"], SENTINEL)).as_py() or 0,
        }
        commit_arrow(
            self.config.out_dir, out, lo, hi, height=hi, first_block=first_block,
            range_size=self.config.block_range_size,
        )
        logging.getLogger("helium_etl_lite_spark").info(f"audit [{lo},{hi}]: {self.last_audit}")


MAX_HOPS = 1000


def backfill_epoch_walk(blocks: DataFrame, txns: DataFrame, tip: int) -> int:
    """The literal epoch-hop walk (reference src/follower.rs:144-194),
    for parity testing: from `tip`, follow rewards_v2.start_epoch
    pointers backward until a block is missing; return the oldest
    reachable height."""
    payload = txns.select(
        "hash", F.from_json("fields", REWARDS_V2_FIELDS_SCHEMA).alias("f")
    ).select("hash", F.col("f.start_epoch").alias("start_epoch"))
    height = tip
    last_safe = tip
    for _ in range(MAX_HOPS):
        blk = blocks.where(F.col("height") == height).select("height", "transactions").collect()
        if not blk:
            # fetch failure → step back one from last safe height
            # (reference :158-167), then give up at the gap.
            return last_safe
        last_safe = height
        rv2_hashes = [t["hash"] for t in blk[0]["transactions"] if t["type"] == "rewards_v2"]
        hop = None
        if rv2_hashes:
            rows = payload.where(F.col("hash").isin(rv2_hashes)).select("start_epoch").collect()
            epochs = [r["start_epoch"] for r in rows if r["start_epoch"] is not None]
            if epochs:
                hop = min(epochs)
        height = hop if hop is not None else height - 1
        if height < 1:
            return last_safe
    return last_safe
